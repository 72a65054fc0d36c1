"""Partition migration (reference parity: TransTablePartition +
TransWholeTablePartition, `/root/reference/src/main/java/cn/dianhun/hadoop/
TransTablePartition.java:43-166`, `TransWholeTablePartition.java:40-133`).

Behavioral contract preserved (SURVEY §2A semantics):
  1. date ranges inclusive of both endpoints,
  2. partition keys deduplicated and sorted ascending,
  3. destination conflicts skip (default) and processing continues,
  4. post-copy verification (upgraded: row-content, symmetric),
plus structured alerts instead of SMTP.

Architectural upgrade over the reference: the copy is ONE distributed
scan→sink job with partition pruning — no per-partition driver loop, no
local staging of bytes (`TransTablePartition.java:124,132` pumped every
byte through the driver's /data/tmp). At 100 TB: executors stream
partition files cluster-to-cluster; the only driver work is metadata.

Metadata order, each step once per run:
  1. key enumeration (one Spark job) and partition-dir listings;
  2. ONE source read with mergeSchema (health.read_parquet): one table
     listing, its fan-out bounded by the session's listing parallelism,
     plus one JVM footer pass over every file. That pass is the health
     check — the per-file pyarrow verdicts (pipelines/health.py) run
     only when it fails, and then name the corrupt files to quarantine;
  3. the copy (that read, pruned to the copy set) and the verification
     (that same DataFrame against the copied destination partitions),
     so verify compares the destination against exactly the files the
     copy read.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs
from .alerts import Alert, AlertSink
from .health import data_files as health_data_files
from .health import read_parquet, scan_parquet_health
from .verify import (
    DEFAULT_PARTITION,
    VerifyReport,
    partition_key_str,
    verify,
    verify_partitions,
)

# Joda → java.time pattern compatibility: the reference's `-pp` patterns
# (yyyyMM, yyyyMMdd) are valid Spark date_format patterns unchanged.


def enumerate_partition_keys(
    spark: SparkSession, start: str, end: str, pattern: str = "yyyyMM"
) -> list[str]:
    """R3 (`CommonUtils.java:151-163`): expand the inclusive [start, end]
    day range, format each day with the partition pattern, dedup + sort
    (the reference's TreeSet). Computed with Spark date functions so the
    pattern semantics are identical to what partition writers produce;
    one array expression over one row, so one Spark job."""
    from datetime import date

    if date.fromisoformat(start) > date.fromisoformat(end):
        return []  # empty range → no work (Spark sequence would reject it)
    days = F.sequence(
        F.lit(start).cast("date"), F.lit(end).cast("date"), F.expr("interval 1 day")
    )
    keys = F.array_sort(
        F.array_distinct(F.transform(days, lambda d: F.date_format(d, pattern)))
    )
    return spark.range(1).select(keys.alias("k")).collect()[0]["k"]


def discover_partitions(spark: SparkSession, table_path: str, partition_name: str) -> list[str]:
    """R6 (`TransWholeTablePartition.java:158-165`): list `pn=value` child
    dirs of a table path; returns the values, sorted."""
    prefix = f"{partition_name}="
    return sorted(
        d[len(prefix):] for d in fs.list_dirs(spark, table_path) if d.startswith(prefix)
    )


@dataclass(frozen=True)
class MigrateJob:
    src_root: str  # source warehouse root (…/db)
    dst_root: str  # destination warehouse root
    table: str
    partition_name: str = "par_dt"  # reference `-pn`
    pattern: str = "yyyyMM"  # reference `-pp`
    start: str | None = None  # reference `-s` (None+None → whole table)
    end: str | None = None  # reference `-e`
    mode: str = "skip"  # conflict policy: skip | overwrite | fail
    verify_after: bool = True
    # When the source read fails, quarantine its corrupt files instead of
    # failing the run (pipelines/health.py). False re-raises the error.
    quarantine_scan: bool = True

    @property
    def src_path(self) -> str:
        return f"{self.src_root}/{self.table}"

    @property
    def dst_path(self) -> str:
        return f"{self.dst_root}/{self.table}"


@dataclass
class MigrateReport:
    copied: list[str] = field(default_factory=list)
    skipped_missing: list[str] = field(default_factory=list)
    conflicts: list[str] = field(default_factory=list)
    verify: dict[str, VerifyReport] = field(default_factory=dict)
    alerts: list[Alert] = field(default_factory=list)
    # corrupt source files excluded from the copy: {path, reason} each
    # (pipelines/health.py contract — reported, never silently skipped)
    quarantined: list[dict] = field(default_factory=list)
    # the keys the copy ATTEMPTED (after the conflict policy): unlike
    # `copied`, not [] when every candidate file was quarantined (ADVICE r14)
    to_copy: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(v.equal for v in self.verify.values())


def _read_source(
    spark: SparkSession, job: MigrateJob, to_copy: list[str]
) -> tuple[DataFrame | None, list[dict]]:
    """The whole source table, read once through ``read_parquet``, and
    the quarantined files of the copy set (``{path, reason}`` each). The
    DataFrame is ``None`` when no healthy file of the copy set is left.

    The read covers the whole table, not just the copy set: its union
    schema keeps a column that exists only outside the copy set (copied
    rows carry it as NULLs). When its footer pass fails, the per-file
    scan runs table-wide; corrupt files outside the copy set are only
    left out of the read (the copy never touched them).
    """
    try:
        return read_parquet(spark, job.src_path), []
    except (Py4JJavaError, PySparkException):
        if not job.quarantine_scan:
            raise
        healthy, corrupt = scan_parquet_health(
            spark, health_data_files(spark, job.src_path)
        )
        if not corrupt:
            raise
    base = fs.qualify(spark, job.src_path)
    copy_dirs = tuple(f"{base}/{job.partition_name}={k}/" for k in to_copy)
    quarantined = [q for q in corrupt if q["path"].startswith(copy_dirs)]
    if not any(f.startswith(copy_dirs) for f in healthy):
        return None, quarantined
    return read_parquet(spark, job.src_path, healthy), quarantined


def migrate(spark: SparkSession, job: MigrateJob, sink: AlertSink | None = None) -> MigrateReport:
    sink = sink or AlertSink()
    report = MigrateReport()
    pn = job.partition_name

    # 1. Work set: date-range enumeration (TransTablePartition) or full
    #    discovery (TransWholeTablePartition).
    src_existing = discover_partitions(spark, job.src_path, pn)
    if job.start and job.end:
        requested = enumerate_partition_keys(spark, job.start, job.end, job.pattern)
    else:
        requested = list(src_existing)

    # 2. Existence short-circuit (R8): requested keys missing at source are
    #    skipped with an alert (`TransTablePartition.java:119`).
    src_set = set(src_existing)
    for k in requested:
        if k not in src_set:
            report.skipped_missing.append(k)
            sink.emit(Alert("warning", "missing_source", job.table, k, "not present at source"))
    present = [k for k in requested if k in src_set]

    # 3. Conflict policy (R10, `TransTablePartition.java:126-131`): the
    #    reference skips + emails + continues. Metadata-only anti-join.
    dst_existing = set(discover_partitions(spark, job.dst_path, pn))
    conflicts = [k for k in present if k in dst_existing]
    if conflicts:
        report.conflicts = conflicts
        if job.mode == "fail":
            raise FileExistsError(
                f"{job.table}: destination partitions exist: {conflicts}"
            )
        if job.mode == "skip":
            for k in conflicts:
                sink.emit(Alert("error", "conflict", job.table, k, "exists at destination; skipped"))

    to_copy = present if job.mode == "overwrite" else [k for k in present if k not in dst_existing]
    report.to_copy = sorted(to_copy)
    if to_copy:
        # 4. ONE distributed copy job. The isin filter prunes source
        #    partitions at planning time (PartitionFilters in the scan);
        #    dynamic partition overwrite keeps idempotent re-runs safe.
        #    Inference off: the partition column stays the STRING the
        #    dir spells, so the destination layout is byte-identical.
        #    The NULL partition's rows read back with a NULL key, never
        #    the sentinel dir name — an isin on the sentinel matches
        #    NOTHING and silently drops the whole partition (r12 probe
        #    find); it needs an explicit isNull branch.
        named = [k for k in to_copy if k != DEFAULT_PARTITION]
        cond = F.col(pn).isin(named) if named else F.lit(False)
        if DEFAULT_PARTITION in to_copy:
            cond = cond | F.col(pn).isNull()
        src_df, report.quarantined = _read_source(spark, job, to_copy)
        for q in report.quarantined:
            sink.emit(
                Alert(
                    "error",
                    "corrupt_file",
                    job.table,
                    q["path"],
                    f"quarantined (excluded from copy): {q['reason']}",
                )
            )
        if src_df is not None:
            writer = src_df.where(cond).write.partitionBy(pn)
            if job.mode == "overwrite":
                writer = writer.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                )
            else:
                writer = writer.mode("append")
            writer.parquet(job.dst_path)
            report.copied = sorted(to_copy)

    # 5. Post-copy verification (R11) per copied partition — row-content,
    #    both directions (upgrade over file-size compare). Batched: one
    #    grouped-fingerprint scan per side covers every copied partition;
    #    only mismatching keys pay for the row-level diff. The source
    #    side is the copy's own read, so after a quarantine the report
    #    is "equal, minus the NAMED quarantined files" — the quarantine
    #    entries carry the loss, verification proves the copy moved
    #    everything it was allowed to read. The destination side is only
    #    the copied partitions that wrote a dir: other partitions' columns
    #    must not fail the compare.
    if job.verify_after and report.copied:
        names = set(fs.list_dirs(spark, job.dst_path))
        dirs = [f"{job.dst_path}/{pn}={k}" for k in report.copied if f"{pn}={k}" in names]
        dst_df = read_parquet(spark, job.dst_path, dirs) if dirs else src_df.where(F.lit(False))
        report.verify = verify_partitions(src_df, dst_df, pn, report.copied)
        for k, rep in report.verify.items():
            if not rep.equal:
                rep = verify(
                    src_df.where(partition_key_str(pn) == k),
                    dst_df.where(partition_key_str(pn) == k),
                )
                report.verify[k] = rep
                sink.emit(Alert("error", "verify_mismatch", job.table, k, rep.render()))

    report.alerts = list(sink.alerts)
    return report
