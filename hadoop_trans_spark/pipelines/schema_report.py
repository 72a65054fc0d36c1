"""Per-file schema drift report — the maintenance companion the round-12
probe campaign showed a warehouse needs.

Three silent-loss classes this round (SCALE.md parts 8/9/11) shared one
root: nobody KNOWS a long-lived table's partitions disagree — on
partition-value spelling, on the NULL partition, on column sets — until
a copy tool quietly normalizes the disagreement away. This report makes
the disagreement a queryable fact: for every column that appears in ANY
data file under a table path, how many files carry it, how many lack
it, and how many distinct physical types it spans.

Scale shape: the file LISTING is driver-side metadata (same budget as
partition discovery); the footer reads — the real work, one small read
per file — run EXECUTOR-side via Arrow-batched mapInPandas over the
path list, so a million-file table costs a parallel footer sweep, not
a driver loop. No data pages are ever read.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fs

REPORT_SCHEMA = "path string, col_name string, phys_type string"


def schema_drift_report(spark: SparkSession, table_path: str) -> DataFrame:
    """(col_name, n_files_with, n_files_missing, n_types) over every
    data file under ``table_path``, sorted by column name."""
    files = [p for p, _ in fs.data_files(spark, table_path)]
    total = len(files)
    if not files:
        return spark.createDataFrame(
            [], "col_name string, n_files_with long, n_files_missing long, n_types long"
        )

    paths = spark.createDataFrame([(p,) for p in files], "path string").repartition(
        min(32, total)
    )

    def _read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            rows: dict[str, list] = {"path": [], "col_name": [], "phys_type": []}
            for path in pdf["path"]:
                local = path[len("file:") :] if path.startswith("file:") else path
                schema = pq.read_schema(local)
                for field in schema:
                    rows["path"].append(path)
                    rows["col_name"].append(field.name)
                    rows["phys_type"].append(str(field.type))
            if rows["path"]:
                yield pd.DataFrame(rows)

    per_file = paths.mapInPandas(_read_footers, REPORT_SCHEMA)
    return (
        per_file.groupBy("col_name")
        .agg(
            F.count_distinct("path").alias("n_files_with"),
            F.count_distinct("phys_type").alias("n_types"),
        )
        .select(
            "col_name",
            "n_files_with",
            (F.lit(total) - F.col("n_files_with")).cast("long").alias(
                "n_files_missing"
            ),
            "n_types",
        )
        .orderBy("col_name")
    )
