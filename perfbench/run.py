"""The repository's benchmark: one fresh process runs one workload
(workloads.py) against the public API and prints one JSON result line.

    python3 perfbench/run.py --workload migrate_compact --seed 1 --seconds 10 --trace 0

A run starts the session, builds its inputs from the seed, makes
untimed warm-up passes, then repeats timed passes until ``--seconds``
have passed (at least three) and reports medians. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` traces every other pass and
prints the per-layer metrics (layers.py). README.md defines each
metric. A failed program call or check makes ``correct`` false and the
exit code 1.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import layers  # noqa: E402
from py4j.protocol import Py4JError  # noqa: E402
from tracer import MemorySampler, Tracer, descendants  # noqa: E402
from workloads import WORKLOADS, Failures  # noqa: E402

MIN_PASSES = 3
MB = 1024 * 1024
HEAP = "2g"
YOUNG = "256m"


def process_age() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat", "rb") as f:
        start_ticks = int(f.read().rsplit(b")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and the Python workers), reaped children included, less the
    JVM's JIT compiler threads: a fresh JVM keeps compiling for minutes,
    far longer than a run, and how far it gets varies from run to run.
    The compiler threads are fixed for the JVM's life
    (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time is
    left behind in the process total by a thread that ended."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            ticks += sum(map(int, _proc_stat(f"/proc/{pid}/stat")[11:15]))
            if pid == jvm_pid:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/comm", "rb") as f:
                        if f.read().startswith((b"C1 CompilerThre", b"C2 CompilerThre")):
                            ticks -= sum(map(int, _proc_stat(f"/proc/{pid}/task/{tid}/stat")[11:13]))
        except OSError:
            pass  # the process ended
    return ticks / os.sysconf("SC_CLK_TCK")


def _proc_stat(path: str) -> list[bytes]:
    """The fields after the command name of a /proc stat file: index 11
    is utime, 12 stime, 13 cutime, 14 cstime (in ticks)."""
    with open(path, "rb") as f:
        return f.read().rsplit(b")", 1)[1].split()


def start_session(work: str):
    """``get_spark()`` with every scratch and warehouse path inside the
    run's work directory."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    tempfile.tempdir = f"{work}/tmp"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=HEAP,
        SPARK_GRAFT_TMPDIR=f"{work}/tmp",
        SPARK_GRAFT_LOCAL_DIR=f"{work}/local",
        SPARK_LOCAL_DIRS=f"{work}/local",  # overrides spark.local.dir if set
        SPARK_GRAFT_WAREHOUSE=f"{work}/warehouse",
        TMPDIR=f"{work}/tmp",
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no perf-data file in /tmp
    )
    from hadoop_trans_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # Keep every stage of a run for the per-layer metrics.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # A heap fixed at its size (2 GiB, not get_spark's 24g: the
            # inputs need far less and the host is small) keeps G1's
            # resizing the same from run to run. A small fixed young
            # generation collects every 256 MiB allocated, so the GC
            # log samples the heap's live data (memory_mb) many times
            # per pass.
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp "
                f"-Xmn{YOUNG} -Xlog:gc:file={work}/gc.log "
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(os.getpid())
    try:
        spark.stop()
        gateway.shutdown()
    except Py4JError:
        pass  # the connection broke (a signal); the JVM is waited for below
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def measure(wl, seconds: float, mem: MemorySampler, tracer: Tracer | None, jvm_pid: int) -> dict:
    """Timed passes until ``seconds`` have passed and at least
    MIN_PASSES ran; each pass is followed by its reruns and its check.
    Each pass and each pass's reruns are timed on the wall clock and in
    the process tree's CPU time (tree_cpu_s). With a tracer, every odd
    pass is traced; the even ones after the first are the untraced
    baseline for the tracing overhead."""
    res = {k: [] for k in ("plain", "traced", "cpu", "reruns", "rerun_cpu", "heap", "python")}
    t_end = time.perf_counter() + seconds
    i = 0
    while i < MIN_PASSES or time.perf_counter() < t_end:
        traced = tracer is not None and i % 2 == 1
        wl.prepare(i)
        mem.reset()
        if traced:
            layers.install(tracer)
        try:
            with (tracer if traced else Tracer(enabled=False)).span("pass", index=i):
                c, t = tree_cpu_s(jvm_pid), time.perf_counter()
                report = wl.run(i, tracer if traced else None)
                wall, cpu = time.perf_counter() - t, tree_cpu_s(jvm_pid) - c
        finally:
            if traced:
                tracer.restore()
        res["traced" if traced else "plain"].append(wall)
        if not traced:
            res["cpu"].append(cpu)
        again = []
        c = tree_cpu_s(jvm_pid)
        for _ in range(wl.reruns_per_pass):
            t = time.perf_counter()
            again.append(wl.rerun(i))
            res["reruns"].append(time.perf_counter() - t)
        # Per call; /proc counts CPU time in 10 ms ticks, too coarse
        # for one call.
        res["rerun_cpu"].append((tree_cpu_s(jvm_pid) - c) / wl.reruns_per_pass)
        res["heap"].append(mem.heap_live())
        res["python"].append(mem.python_peak)
        wl.check(i, report, again)
        i += 1
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--data",
        help="read the input tables from this directory of <table>.parquet "
        "files instead of generating them (selftest.py uses it)",
    )
    args = ap.parse_args()

    # A terminated run still stops the JVM it started (the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Conflicts and skips are expected; the checks read the reports.
    logging.getLogger("hadoop_trans_spark.alerts").setLevel(logging.CRITICAL)
    started = time.perf_counter() - process_age()
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fails = Failures()
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        data = args.data and os.path.abspath(args.data)
        wl = WORKLOADS[args.workload](spark, work, args.seed, data, fails)
        inputs_s = time.perf_counter() - t - session_s
        wl.warm_up()
        since = time.time()
        setup_s = time.perf_counter() - started
        ticks = cpu_ticks()
        with MemorySampler(spark, f"{work}/gc.log") as mem:
            res = measure(wl, args.seconds, mem, tracer, mem.jvm_pid)
        total, stolen = (b - a for a, b in zip(ticks, cpu_ticks()))
        steal = f"{stolen / max(total, 1):.1%} of the host's CPU time stolen by its hypervisor"
        wl.finish()
        if tracer is not None:
            passes = len(res["traced"])
            metrics = layers.metrics(tracer, spark, since, passes, wl.partitions_per_pass())
            metrics["session.start_s"] = (session_s, "s")
            metrics["pass.wall_s"] = (statistics.median(res["plain"]), "s")
            metrics["rerun.wall_s"] = (statistics.median(res["reruns"]), "s")
            metrics["trace.overhead_s"] = (
                statistics.median(res["traced"]) - statistics.median(res["plain"][1:]),
                "s",
            )
            out = os.path.join(os.getcwd(), ".bench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(f"{out}/{args.workload}-seed{args.seed}.spans.jsonl")
            samples = f"{passes} traced and {len(res['plain'])} untraced passes; {steal}"
        else:
            write_amp, files_pp = wl.figures()
            metrics = {
                "job_cpu_s": (statistics.median(res["cpu"]), "s"),
                "rerun_cpu_s": (statistics.median(res["rerun_cpu"]), "s"),
                "write_amp": (write_amp, "B/B"),
                "files_per_partition": (files_pp, "count"),
                "memory_mb": (
                    statistics.median(h + p for h, p in zip(res["heap"], res["python"])) / MB,
                    "MB",
                ),
                "setup_s": (setup_s, "s"),
            }
            samples = (
                f"setup {session_s:.1f} s session + {inputs_s:.1f} s inputs + "
                f"{setup_s - session_s - inputs_s:.1f} s other and warm-up; "
                f"{len(res['plain'])} passes (CPU {' '.join(f'{t:.2f}' for t in res['cpu'])} s, "
                f"wall {' '.join(f'{t:.2f}' for t in res['plain'])} s), {len(res['reruns'])} reruns "
                f"(CPU per call {' '.join(f'{t:.3f}' for t in res['rerun_cpu'])} s, wall median "
                f"{statistics.median(res['reruns']):.3f} s); per pass live heap "
                f"{' '.join(f'{b / MB:.0f}' for b in res['heap'])} MB + Python peak "
                f"{' '.join(f'{b / MB:.0f}' for b in res['python'])} MB, {mem.samples} samples; "
                f"{steal}"
            )
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    failed = len(fails.reasons)
    attempted = max(fails.attempted, 1)
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} samples: {samples}; failed {failed} of {attempted} calls")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
