"""Small-file compaction (reference parity: HDFSMerge,
`/root/reference/src/main/java/cn/dianhun/hadoop/HDFSMerge.java:33-219`).

The reference byte-concatenated each day's files through a 4 KB driver
buffer into one Hive-compatible snappy stream and deleted inputs only on
success. Spark-first version:

  * selection is size-aware (partitions whose average file size is below
    a threshold), generalizing the reference's name-substring filter
    ("snappy" exclusion, `HDFSMerge.java:166`) — and equally idempotent:
    an already-compacted partition no longer qualifies;
  * the rewrite is a distributed read → `coalesce(n)` → snappy parquet
    with n sized from actual bytes (default 512 MB targets; the
    reference's one-file-per-day is n=1);
  * commit is write-to-temp + atomic rename swap; originals are removed
    only after a successful swap (`HDFSMerge.java:144-148` semantics);
  * multi-level partition trees (the reference's `-sp true`,
    `HDFSMerge.java:90-103`) work unchanged: compaction operates per
    leaf partition directory.

At 100 TB: each partition's rewrite is an independent executor-parallel
job; the driver only lists metadata and issues renames.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from . import fs
from .alerts import Alert, AlertSink

# Partitions compacting at once: each is its own Spark job, so this
# bounds the driver threads and the jobs the scheduler interleaves.
MAX_CONCURRENCY = 8


@dataclass
class CompactReport:
    compacted: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)  # already compact
    failed: list[str] = field(default_factory=list)
    files_before: dict[str, int] = field(default_factory=dict)
    files_after: dict[str, int] = field(default_factory=dict)


def _leaf_partition_dirs(spark: SparkSession, root: str) -> list[str]:
    """Walk `k=v` partition directories to the leaves (1- and 2-level
    layouts both supported, like the reference's default and `-sp` modes)."""
    leaves: list[str] = []

    def walk(path: str) -> None:
        subs = [d for d in fs.list_dirs(spark, path) if "=" in d]
        if not subs:
            leaves.append(path)
        else:
            for d in subs:
                walk(f"{path}/{d}")

    for d in fs.list_dirs(spark, root):
        if "=" in d:
            walk(f"{root}/{d}")
    return leaves


def _compact_partition(
    spark: SparkSession,
    table_path: str,
    part_dir: str,
    target_file_bytes: int,
    threshold: float,
    sink: AlertSink,
) -> tuple[str, str, int, int]:
    """Compact one leaf partition; returns (rel, status, before, after).

    status ∈ {empty, skipped, compacted, failed}.  Thread-safe: touches
    only its own partition directory; sink appends are atomic under the
    GIL.
    """
    rel = part_dir[len(table_path) + 1 :]
    files = fs.data_files(spark, part_dir)
    if not files:
        return rel, "empty", 0, 0
    total = sum(sz for _, sz in files)
    avg = total / len(files)
    n_target = max(1, math.ceil(total / target_file_bytes))
    # Idempotent/incremental selection (reference semantic 5): already
    # compacted partitions don't qualify again.
    if avg >= threshold or len(files) <= n_target:
        return rel, "skipped", len(files), len(files)

    tmp_dir = f"{part_dir}._compact_tmp"
    bak_dir = f"{part_dir}._compact_bak"
    try:
        (
            # mergeSchema: files inside one partition can disagree on
            # schema (evolution mid-partition). Without the merge the
            # rewrite keeps a SAMPLED file's schema — whether the
            # evolved column survives depends on listing order
            # (nondeterministic data loss; r12 probe, migrate twin).
            spark.read.option("mergeSchema", "true")
            .parquet(part_dir)
            .coalesce(n_target)
            .write.mode("overwrite")
            .option("compression", "snappy")
            .parquet(tmp_dir)
        )
        # Atomic swap; originals removed ONLY after a successful swap
        # (reference semantic 7, `HDFSMerge.java:144-148`).
        if not fs.rename(spark, part_dir, bak_dir):
            raise OSError(f"rename to backup failed for {part_dir}")
        if not fs.rename(spark, tmp_dir, part_dir):
            fs.rename(spark, bak_dir, part_dir)  # roll back
            raise OSError(f"swap failed for {part_dir}")
        fs.delete(spark, bak_dir)
        return rel, "compacted", len(files), len(fs.data_files(spark, part_dir))
    except Exception as exc:  # keep going; sources stay intact
        sink.emit(Alert("error", "compact_failure", table_path, rel, str(exc)))
        if fs.exists(spark, tmp_dir):
            fs.delete(spark, tmp_dir)
        if fs.exists(spark, bak_dir) and not fs.exists(spark, part_dir):
            fs.rename(spark, bak_dir, part_dir)
        return rel, "failed", len(files), len(files)


def compact_table(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    min_avg_file_bytes: int | None = None,
    sink: AlertSink | None = None,
) -> CompactReport:
    """Compact every leaf partition of a Hive-layout parquet table whose
    average data-file size is below the threshold (default: half the
    target size).

    Partitions compact CONCURRENTLY (each rewrite is an independent
    Spark job; the scheduler interleaves their tasks) — the wall-clock
    win over the reference's sequential per-day loop grows with
    partition count, and each partition still commits via its own
    atomic swap, so a failure never affects neighbors.
    """
    from concurrent.futures import ThreadPoolExecutor

    sink = sink or AlertSink()
    report = CompactReport()
    threshold = min_avg_file_bytes or target_file_bytes // 2
    leaves = _leaf_partition_dirs(spark, table_path)

    with ThreadPoolExecutor(max_workers=MAX_CONCURRENCY) as pool:
        results = list(
            pool.map(
                lambda d: _compact_partition(
                    spark, table_path, d, target_file_bytes, threshold, sink
                ),
                leaves,
            )
        )
    for rel, status, before, after in results:
        if status == "skipped":
            report.skipped.append(rel)
        elif status == "compacted":
            report.compacted.append(rel)
            report.files_before[rel] = before
            report.files_after[rel] = after
        elif status == "failed":
            report.failed.append(rel)
            report.files_before[rel] = before
    return report
