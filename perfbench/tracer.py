"""Benchmark-side tracing: spans around calls into the program's layers,
the Spark stage records that ran inside each span, and the memory of
the process tree.

Spans are kept in memory and written out once, when the run ends. The
program is not edited: :meth:`Tracer.patch` replaces a function on every
``hadoop_trans_spark`` module that binds it (``migrate`` imports
``verify_partitions`` by name, the query modules import
``materialize_stage`` by name), and :meth:`Tracer.restore` puts the
originals back.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, the clock Spark stamps stages with
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # A worker thread's first span (compact's pool) hangs under the
        # main thread's innermost open span.
        parent = (stack or self._main_stack or [None])[-1]
        with self._lock:
            sp = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
            self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def patch(self, fn, name: str, on_result=None) -> None:
        """Trace ``fn`` wherever a program module binds it, as spans
        called ``name``; ``on_result(span, args, result)`` may add
        counts to the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out

        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("hadoop_trans_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, attr, traced)
                    self._patched.append((mod, attr, fn))

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # --- queries over the recorded spans --------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return sp.dur - _covered(
            [(c.start, c.end) for c in self.children(sp)], sp.start, sp.end
        )

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark's status store ---------------------------------------------------


@dataclass
class StageRec:
    submitted: float
    completed: float
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_b: int
    output_b: int
    shuffle_write_b: int
    spill_b: int


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _java_list(sc, seq):
    return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def spark_stages(spark, since: float) -> list[StageRec]:
    """Stages submitted after ``since`` (epoch seconds), from the status
    store the UI would read; it is kept with the UI off. Skipped stages
    have no submission time and did no work."""
    sc = spark.sparkContext
    listed = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
    )
    out = []
    for st in _java_list(sc, listed):
        sub = _opt_time(st.submissionTime())
        if sub is None or sub < since:
            continue
        done = _opt_time(st.completionTime()) or time.time()
        out.append(
            StageRec(
                sub,
                done,
                int(st.numCompleteTasks()),
                st.executorRunTime() / 1000.0,
                st.executorCpuTime() / 1e9,
                st.jvmGcTime() / 1000.0,
                int(st.inputBytes()),
                int(st.outputBytes()),
                int(st.shuffleWriteBytes()),
                int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
            )
        )
    return out


def spark_jobs(spark, since: float) -> list[float]:
    """Submission times of jobs submitted after ``since``."""
    sc = spark.sparkContext
    listed = _java_list(sc, sc._jsc.sc().statusStore().jobsList(None))
    subs = (_opt_time(j.submissionTime()) for j in listed)
    return sorted(s for s in subs if s is not None and s >= since)


def within(items, spans: list[Span], key=lambda x: x):
    """Items whose time falls inside any of ``spans``."""
    iv = [(s.start, s.end) for s in spans]
    return [x for x in items if any(lo <= key(x) <= hi for lo, hi in iv)]


def idle_time(spans: list[Span], stages: list[StageRec]) -> float:
    """Total span time during which no stage was running."""
    return sum(
        sp.dur - _covered([(s.submitted, s.completed) for s in stages], sp.start, sp.end)
        for sp in spans
    )


# --- memory -----------------------------------------------------------------

SAMPLE_INTERVAL_S = 0.25
MB = 1024 * 1024
# ``-Xlog:gc`` pause lines: "... Pause Young (Normal) (G1 Evacuation
# Pause) 1203M->151M(2048M) 9.731ms"; the group is the heap after it.
_GC_AFTER = re.compile(rb"\d+M->(\d+)M\(\d+M\)")


def _children() -> dict[int, list[int]]:
    """Child pids by parent pid, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                ppid = int(f.read().rsplit(b")", 1)[1].split()[1])  # field 4
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root: int) -> list[int]:
    children = _children()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes that map it, so forked Python workers are not
    counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process ended
    return 0


class MemorySampler:
    """Memory one window of work holds: the most live data in the JVM's
    heap (heap in use after each garbage collection, read from the GC
    log; a full collection starts each window) plus the peak memory of
    the tree's other processes, the Python driver and Spark's Python
    workers, sampled from /proc as proportional set size. The JVM's
    resident size is left out: with its heap fixed, it reads the
    high-water mark of the whole run rather than what a window uses."""

    def __init__(self, spark, gc_log: str) -> None:
        self.jvm = spark.sparkContext._jvm
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.gc_log = gc_log
        self.python_peak = 0
        self.samples = 0
        self._heap_start = 0
        self._offset = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pss = sum(_pss_bytes(p) for p in [me, *descendants(me)] if p != self.jvm_pid)
            with self._lock:
                self.python_peak = max(self.python_peak, pss)
                self.samples += 1
            self._stop.wait(SAMPLE_INTERVAL_S)

    def _heap_after_gc(self) -> list[int]:
        """Heap in use after each collection logged since the last call."""
        with open(self.gc_log, "rb") as f:
            f.seek(self._offset)
            text = f.read()
        end = text.rfind(b"\n") + 1  # a partial last line is read next time
        self._offset += end
        return [int(m) * MB for m in _GC_AFTER.findall(text[:end])]

    def reset(self) -> None:
        """Start a new window from a fully collected heap."""
        self._heap_after_gc()
        self.jvm.java.lang.System.gc()
        self._heap_start = self._heap_after_gc()[-1]
        with self._lock:
            self.python_peak = 0

    def heap_live(self) -> int:
        """The most the heap held after a collection in this window."""
        return max([self._heap_start, *self._heap_after_gc()])

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
