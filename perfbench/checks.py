"""Output checks made with DuckDB, independent of the program's own
``verify``: they read the files the program wrote and compare them with
the inputs the benchmark generated."""

from __future__ import annotations

import math

import duckdb

LINEITEM_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
)


def partition_digest(table_dir: str, keys=None) -> dict[str, tuple[int, int]]:
    """(rows, sum of row hashes) per ``par_dt`` of a Hive-layout table,
    over all partitions or the ``keys`` given."""
    parts = [f"par_dt={k}" for k in keys] if keys is not None else ["*"]
    files = ", ".join(f"'{table_dir}/{p}/*.parquet'" for p in parts)
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT par_dt, count(*), sum(hash({LINEITEM_COLS}))::HUGEINT
            FROM read_parquet([{files}],
                              hive_partitioning = true, hive_types_autocast = false)
            GROUP BY par_dt
            """
        ).fetchall()
    finally:
        con.close()
    return {str(k): (int(n), int(s)) for k, n, s in rows}


def fixture_connection(fixture_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')"
        )
    return con


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return str(v)


def canonical_rows(columns, rows) -> list[str]:
    """Rows as strings with columns in name order, sorted: equal under
    any row order and any int/float width, like the oracle gate."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)


def oracle_mismatch(con, sql: str, columns, rows) -> str | None:
    """None when ``rows`` equal the oracle's result, else a reason."""
    res = con.execute(sql)
    o_cols = [d[0] for d in res.description]
    o_rows = res.fetchall()
    if sorted(o_cols) != sorted(columns):
        return f"columns {sorted(columns)} != oracle {sorted(o_cols)}"
    if len(o_rows) != len(rows):
        return f"{len(rows)} rows != oracle {len(o_rows)}"
    bad = sum(
        a != b
        for a, b in zip(canonical_rows(columns, rows), canonical_rows(o_cols, o_rows))
    )
    return f"{bad} rows differ from the oracle" if bad else None
