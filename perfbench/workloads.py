"""The benchmark's workloads. Each lays out its inputs by the seed, then
offers ``warm_up``, ``prepare``/``run``/``rerun`` for one pass, and
``check``, which compares the pass's output with DuckDB's reading of
the inputs.

  migrate_compact  ``pipelines.migrate`` of a month range into a fresh
                   warehouse that already holds one of the months (the
                   range also names a month the source lacks), then
                   ``pipelines.compact_table`` over five day partitions
                   of eight small files each. A rerun repeats both
                   calls with nothing left to do.
  query_suite      declared queries run to the noop sink; stage memos
                   are cleared between passes, not between queries, so
                   q140 and q147 share the supplier backbone. A rerun
                   repeats q140 with that stage still held.
"""

from __future__ import annotations

import shutil
import statistics
import sys
import time
import traceback
from datetime import date, datetime

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from checks import fixture_connection, oracle_mismatch, partition_digest
from tracer import Tracer, spark_stages

SF = 0.1

# 199501..199503 exist at the source, 199412 does not. The months hold
# different numbers of rows (ship dates start on 1995-01-02), so the
# pre-seeded month is fixed: every seed copies the same two months.
MIGRATE_RANGE = ("1994-12-01", "1995-03-31")
MIGRATE_PRESEEDED = ["199502"]
MIGRATE_FILES = 4
COMPACT_DAYS = (date(1996, 3, 1), date(1996, 3, 5))
COMPACT_FILES = 8

QUERY_SUITE = [
    "q140_triangle_count",
    "q147_recursive_bfs",
]
RERUN_QUERY = "q140_triangle_count"
QUERY_TABLES = ("lineitem",)


class Failures:
    """Counts program calls and the failures among them: an exception,
    a report that says it failed, or a failed check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.reasons: list[str] = []

    def op(self, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 — counted, not fatal
            traceback.print_exc()
            self.fail(f"{getattr(fn, '__name__', fn)}: {type(exc).__name__}: {exc}")
            return None

    def fail(self, reason: str) -> None:
        self.reasons.append(reason)
        print(f"FAILED {reason}", file=sys.stderr)


def source_lineitem(data: str | None):
    """The lineitem table the pipelines lay out: generated, or read
    from ``data`` when given."""
    if data:
        return pq.read_table(f"{data}/lineitem.parquet")
    return datagen.lineitem(SF)


def shipped_between(li, lo: date, hi: date):
    ts = pa.timestamp("us")
    lo_ts = pa.scalar(datetime(lo.year, lo.month, lo.day), ts)
    hi_ts = pa.scalar(datetime(hi.year, hi.month, hi.day), ts)
    col = li["l_shipdate"]
    return li.filter(pc.and_(pc.greater_equal(col, lo_ts), pc.less_equal(col, hi_ts)))


class MigrateCompact:
    reruns_per_pass = 3

    def __init__(self, spark, work: str, seed: int, data: str | None, fails: Failures) -> None:
        from hadoop_trans_spark.pipelines import MigrateJob

        self.spark, self.work, self.fails = spark, work, fails
        li = source_lineitem(data)
        self.src_root = f"{work}/src/db"
        self.src = f"{self.src_root}/lineitem"
        months = datagen.write_partitioned(li, self.src, "%Y%m", MIGRATE_FILES, seed)
        self.template = f"{work}/daily_template"
        days = datagen.write_partitioned(
            shipped_between(li, *COMPACT_DAYS), self.template, "%Y%m%d", COMPACT_FILES, seed
        )
        self.days = sorted(f"par_dt={k}" for k in days)
        # A day written as one file is already compact and is skipped.
        self.compactable = [d for d in self.days if datagen.dir_bytes(f"{self.template}/{d}")[0] > 1]
        requested = datagen.month_keys(*map(date.fromisoformat, MIGRATE_RANGE))
        self.present = [k for k in requested if k in months]
        self.absent = [k for k in requested if k not in months]
        self.preseeded = [k for k in MIGRATE_PRESEEDED if k in months]
        self.to_copy = [k for k in self.present if k not in self.preseeded]
        self.job = lambda dst_root: MigrateJob(
            self.src_root, dst_root, "lineitem", start=MIGRATE_RANGE[0], end=MIGRATE_RANGE[1]
        )
        self.src_digest = partition_digest(self.src, self.present)
        self.day_digest = partition_digest(self.template)
        self.write_amp: list[float] = []
        self.files_per_partition: list[float] = []

    def _dst_root(self, i: int) -> str:
        return f"{self.work}/pass{i}/dst/db"

    def _daily(self, i: int) -> str:
        return f"{self.work}/pass{i}/db/daily"

    def partitions_per_pass(self) -> int:
        return len(self.present) + len(self.absent) + len(self.days)

    def warm_up(self) -> None:
        """One untimed pass, reruns included."""
        self.prepare(-1)
        self.check(-1, self.run(-1), [self.rerun(-1) for _ in range(self.reruns_per_pass)])
        self.write_amp.clear()
        self.files_per_partition.clear()

    def prepare(self, i: int) -> None:
        datagen.copy_partitions(self.src, f"{self._dst_root(i)}/lineitem", self.preseeded)
        shutil.copytree(self.template, self._daily(i))

    def run(self, i: int, tracer=None):
        # Looked up at call time, so that the tracer's wrappers apply.
        from hadoop_trans_spark.pipelines import compact_table, migrate

        return (
            self.fails.op(migrate, self.spark, self.job(self._dst_root(i))),
            self.fails.op(compact_table, self.spark, self._daily(i)),
        )

    def rerun(self, i: int):
        return self.run(i)

    def check(self, i: int, report, reruns) -> None:
        mig, comp = report
        dst = f"{self._dst_root(i)}/lineitem"
        daily = self._daily(i)
        if mig is not None:
            got = (mig.copied, mig.skipped_missing, mig.conflicts)
            want = (self.to_copy, self.absent, self.preseeded)
            if not mig.ok or got != want:
                self.fails.fail(f"migrate pass {i}: report {got} ok={mig.ok}, want {want}")
        if comp is not None and (comp.failed or sorted(comp.compacted) != self.compactable):
            self.fails.fail(f"compact pass {i}: failed {comp.failed}, compacted {len(comp.compacted)}/{len(self.compactable)}")
        for r_mig, r_comp in reruns:
            if r_mig is not None and (r_mig.copied or r_mig.conflicts != self.present):
                self.fails.fail(f"migrate rerun {i}: copied {r_mig.copied}, conflicts {r_mig.conflicts}")
            if r_comp is not None and (r_comp.compacted or r_comp.failed or sorted(r_comp.skipped) != self.days):
                self.fails.fail(f"compact rerun {i}: compacted {r_comp.compacted}, failed {r_comp.failed}")
        got = partition_digest(dst)
        if got != self.src_digest:
            want = self.src_digest
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            self.fails.fail(f"migrate pass {i}: destination differs from source in {bad}")
        if partition_digest(daily) != self.day_digest:
            self.fails.fail(f"compact pass {i}: table content changed")
        written = [datagen.dir_bytes(f"{dst}/par_dt={k}") for k in self.to_copy]
        written += [datagen.dir_bytes(f"{daily}/{d}") for d in self.days]
        selected = [datagen.dir_bytes(f"{self.src}/par_dt={k}") for k in self.to_copy]
        selected += [datagen.dir_bytes(f"{self.template}/{d}") for d in self.days]
        self.write_amp.append(sum(b for _, b in written) / sum(b for _, b in selected))
        self.files_per_partition.append(sum(n for n, _ in written) / len(written))
        shutil.rmtree(f"{self.work}/pass{i}")

    def finish(self) -> None:
        """Every pass was checked as it ended."""

    def figures(self) -> tuple[float, float]:
        """(write_amp, files_per_partition), medians over the passes."""
        return statistics.median(self.write_amp), statistics.median(self.files_per_partition)


class QuerySuite:
    reruns_per_pass = 4

    def __init__(self, spark, work: str, seed: int, data: str | None, fails: Failures) -> None:
        self.spark, self.fails = spark, fails
        self.data = data or f"{work}/fixture"
        if not data:
            datagen.write_fixture(self.data, seed, SF)
        self.outputs: dict[str, tuple[list, list]] = {}
        self.windows: list[tuple[float, float]] = []  # timed queries

    def partitions_per_pass(self) -> int:
        return 0

    def warm_up(self) -> None:
        """One pass that collects every result, which the oracle check
        reads after the timed passes, then its reruns."""
        from hadoop_trans_spark.queries import QUERIES

        self.prepare(-1)
        for name in QUERY_SUITE:
            df = self.fails.op(QUERIES[name], self.spark, self.data)
            rows = self.fails.op(df.collect) if df is not None else None
            if rows is not None:
                self.outputs[name] = (df.columns, [tuple(r) for r in rows])
        for _ in range(self.reruns_per_pass):
            self.rerun(-1)

    def prepare(self, i: int) -> None:
        from hadoop_trans_spark.operators.stage import clear_stage_memo

        clear_stage_memo()

    def run(self, i: int, tracer=None) -> None:
        tracer = tracer or Tracer(enabled=False)
        for name in QUERY_SUITE:
            with tracer.span("query", query=name):
                t = time.time()
                self.fails.op(self._one, name, tracer)
                if i >= 0:
                    self.windows.append((t, time.time()))

    def _one(self, name: str, tracer) -> None:
        from hadoop_trans_spark.queries import QUERIES

        with tracer.span("query.build"):
            df = QUERIES[name](self.spark, self.data)
        with tracer.span("query.run"):
            df.write.format("noop").mode("overwrite").save()

    def rerun(self, i: int) -> None:
        self.fails.op(self._one, RERUN_QUERY, Tracer(enabled=False))

    def check(self, i: int, report, reruns) -> None:
        """Timed passes write to the noop sink; see finish."""

    def finish(self) -> None:
        """Compare the warm-up pass's results with their oracle SQL."""
        from hadoop_trans_spark.queries import ORACLE

        con = fixture_connection(self.data, QUERY_TABLES)
        try:
            for name in QUERY_SUITE:
                if name not in self.outputs:
                    continue  # its failure is already counted
                cols, rows = self.outputs[name]
                bad = oracle_mismatch(con, ORACLE[name], cols, rows)
                if bad:
                    self.fails.fail(f"{name}: {bad}")
        finally:
            con.close()

    def figures(self) -> tuple[float, float]:
        """(write_amp, files_per_partition) of the timed passes, from
        Spark's stage records: bytes written (shuffle and sink) per byte
        scanned, and the mean number of partitions of a query's result,
        which is the number of files a file sink would write for it."""
        stages = spark_stages(self.spark, self.windows[0][0])
        per_query = [[s for s in stages if lo <= s.submitted <= hi] for lo, hi in self.windows]
        flat = [s for group in per_query for s in group]
        written = sum(s.shuffle_write_b + s.output_b for s in flat)
        read = sum(s.input_b for s in flat)
        last = [max(g, key=lambda s: s.submitted).tasks for g in per_query if g]
        return written / max(read, 1), statistics.mean(last) if last else 0.0


WORKLOADS = {"migrate_compact": MigrateCompact, "query_suite": QuerySuite}
