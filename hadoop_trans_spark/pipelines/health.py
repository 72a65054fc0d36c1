"""Parquet container health: the pipelines' one read and the per-file
quarantine scan behind it.

A parquet file with a truncated or garbage footer inside a partition
being migrated would otherwise kill the whole distributed copy, and a
retry hits the same file again (VERDICT r12 item 5; the reference
byte-copied files unparsed, so a corrupt container rode through
silently, `CommonUtils.java:59-72`). Contract (quarantine-and-report):

  * ``read_parquet``'s mergeSchema parses every footer before any job
    reads data; a clean table pays for nothing more;
  * only when that read fails does ``scan_parquet_health`` run,
    executor-side and metadata-only (pyarrow parses each footer, no
    data pages), and give a per-file verdict; if it finds no corrupt
    file, the read's error stands;
  * migrate QUARANTINES the corrupt files of its copy set: excluded,
    reported with path and reason, alerted — never silently skipped —
    and verifies against exactly the files it read ("equal, minus these
    named files"). Compaction, which deletes its sources, instead fails
    the partition and leaves it untouched.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from . import fs

HEALTH_SCHEMA = "path string, ok boolean, reason string"


def scan_parquet_health(
    spark: SparkSession, files: list[str]
) -> tuple[list[str], list[dict]]:
    """Validate parquet footers of ``files``; returns
    ``(healthy_paths, quarantined)`` where each quarantined entry is
    ``{"path": ..., "reason": ...}``.

    Executor-distributed: one footer open per file via pyarrow (no data
    pages read), partitioned across the cluster — the driver only
    collects the verdict rows (one per FILE, metadata-sized). Local
    ``file:`` URIs and any pyarrow-supported scheme (hdfs, s3) work;
    the URI's own filesystem is resolved per file.
    """
    if not files:
        return [], []

    import pandas as pd

    def _check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        for pdf in batches:
            rows: dict[str, list] = {"path": [], "ok": [], "reason": []}
            for uri in pdf["path"]:
                try:
                    if uri.startswith("file:"):
                        fs_obj = pafs.LocalFileSystem()
                        rel = uri.split("file:", 1)[1]
                        while rel.startswith("//"):
                            rel = rel[1:]
                    else:
                        fs_obj, rel = pafs.FileSystem.from_uri(uri)
                    with fs_obj.open_input_file(rel) as fh:
                        pq.ParquetFile(fh)  # footer parse only
                    ok, reason = True, ""
                except Exception as exc:  # noqa: BLE001 — verdict, not crash
                    ok, reason = False, f"{type(exc).__name__}: {exc}"
                rows["path"].append(uri)
                rows["ok"].append(bool(ok))
                rows["reason"].append(reason)
            yield pd.DataFrame(rows)

    n = max(1, min(len(files), spark.sparkContext.defaultParallelism))
    verdicts = (
        spark.createDataFrame([(f,) for f in files], "path string")
        .repartition(n)
        .mapInPandas(_check, HEALTH_SCHEMA)
        .collect()
    )
    healthy = sorted(r.path for r in verdicts if r.ok)
    quarantined = sorted(
        ({"path": r.path, "reason": r.reason} for r in verdicts if not r.ok),
        key=lambda d: d["path"],
    )
    return healthy, quarantined


def data_files(spark: SparkSession, root: str) -> list[str]:
    """All data files under ``root`` (recursively) — the candidate set
    for a health scan."""
    return [p for p, _ in fs.data_files(spark, root)]


def read_parquet(
    spark: SparkSession, table_path: str, paths: list[str] | tuple = ()
) -> DataFrame:
    """The one parquet read of every pipeline: the whole table, or only
    ``paths`` under it (partition dirs or files, partition columns kept
    through ``basePath``). mergeSchema reads the superset of the files'
    columns (the sampled-file schema silently drops an evolved column,
    r12 probe) and parses every footer now: the health check.
    ignoreCorruptFiles is pinned off, or a session that sets it makes a
    corrupt file vanish unreported, and compaction delete it. Partition
    type inference is off, since values are identity: inferred, 01 and
    1 both read as int 1 and a copy renames and merges them (r12
    probe). It is consulted at DataFrame creation, as a SESSION conf: a
    caller running pipelines on several threads hands each
    ``spark.newSession()``.
    """
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        reader = spark.read.option("mergeSchema", "true").option(
            "ignoreCorruptFiles", "false"
        )
        if not paths:
            return reader.parquet(table_path)
        base = fs.qualify(spark, table_path)
        return reader.option("basePath", base).parquet(*paths)
    finally:
        spark.conf.set(key, old)
