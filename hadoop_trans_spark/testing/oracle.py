"""DuckDB differential-oracle harness (SURVEY §5.2, t2).

Mirrors the driver's comparison: run the Spark query and the DuckDB SQL on
the same parquet tables, then compare row count, column-name set, and an
order-insensitive canonical value representation (columns sorted by name,
rows sorted by their canonical string).

The engine queries are built so values should be *bitwise identical*
(decimal-summed aggregates, epoch-micros timestamps, stringified arrays);
canonicalization here only absorbs representation differences (e.g.
float32→float64 widening, int32 vs int64), never value differences.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import DataFrame

from ..catalog import TABLES

NULL = "\x00<NULL>"
SEP = "\x1f"


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the fixture tables registered as views (the driver
    pre-registers the same set)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_value(v: object) -> str:
    if v is None:
        return NULL
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Normalize integral floats (nullable int columns come back as
        # float64 from pandas on either side) and -0.0.
        if v == 0.0:
            return "0"
        if float(v).is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(float(v))
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(SEP.join(_canon_value(v) for v in row))
    out.sort()
    return out


@dataclass
class CompareResult:
    name: str
    match: bool
    spark_rows: int
    oracle_rows: int
    detail: str = ""
    mismatches: list[tuple[str, str]] = field(default_factory=list)


def _to_pandas(sdf: DataFrame) -> pd.DataFrame:
    pdf = sdf.toPandas()
    # Normalize pandas nullable/NaN-coded values to plain python objects.
    return pdf.astype(object).where(pd.notna(pdf), None)


def compare(name: str, spark_df: DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> CompareResult:
    spk = _to_pandas(spark_df)
    ora = con.execute(sql).fetchdf()
    ora = ora.astype(object).where(pd.notna(ora), None)

    if sorted(spk.columns) != sorted(ora.columns):
        return CompareResult(
            name, False, len(spk), len(ora),
            f"column mismatch: spark={sorted(spk.columns)} oracle={sorted(ora.columns)}",
        )
    if len(spk) != len(ora):
        return CompareResult(name, False, len(spk), len(ora), "row count mismatch")

    s_rows, o_rows = canon_rows(spk), canon_rows(ora)
    mism = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
    return CompareResult(
        name,
        not mism,
        len(spk),
        len(ora),
        "" if not mism else f"{len(mism)} differing canonical rows",
        mism[:5],
    )
