"""Parquet container health scan — the file-grain quarantine tier.

r12 gave media PAYLOADS a quarantine contract (one truncated upload
costs one dead-lettered row, never the job — ``operators/multimodal
.validate_media``). This module is the same contract one level down,
at the CONTAINER-file boundary the r12 campaign did not reach (VERDICT
r12 item 5): a parquet file with a truncated/garbage footer inside a
partition being migrated would otherwise kill the ENTIRE distributed
copy job mid-write — at 100 TB that is an estate job lost to one bad
upload, and a retry hits the same file again.

Contract (quarantine-and-report), in the order ``migrate`` runs it:

  * the JVM footer pass comes first: migrate's one source read uses
    mergeSchema, so Spark parses every footer in the table before the
    copy starts. A clean source pays for nothing more — no listing of
    its own, no Python workers;
  * only when that read fails does ``scan_parquet_health`` run, over
    every data file of the table — executor-side, metadata-only
    (``pyarrow.parquet.ParquetFile`` parses the footer without touching
    data pages) — and give a per-file verdict. If it finds no corrupt
    file, the read's error stands;
  * corrupt files in the copy set are QUARANTINED: excluded from the
    read, recorded in the report with path + reason, and alerted loudly
    — never silently skipped (the r12 theme: silent loss under a green
    report is the failure class this tool exists to prevent). Corrupt
    files outside the copy set are only left out of the read;
  * verification compares the destination against the copy's own read,
    i.e. exactly the files the copy read, so the per-partition
    fingerprints reconcile and the report says "equal, MINUS these
    named quarantined files" — an explicit, auditable statement instead
    of a crash or a lie.

The reference tool byte-copied files without parsing them
(``CommonUtils.java:59-72``), so a corrupt container rode through
silently; parsing copies inherit a crash instead. Both are wrong at
scale; the quarantine tier is the production answer.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import SparkSession

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
    """All data files under ``root`` (recursively), excluding markers
    (_SUCCESS, hidden/temp files) — the candidate set for a health scan."""
    from . import fs

    return [
        p
        for p, _ in fs.list_files(spark, root)
        if not p.rsplit("/", 1)[-1].startswith(("_", "."))
    ]
