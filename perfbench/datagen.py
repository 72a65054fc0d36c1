"""Seeded inputs for the benchmark.

The table contents are one fixed sf0.1 dataset, TPC-H-shaped with the
schema of the repository's test data, so every seed asks for the same
work. ``--seed`` sets the layout: which rows go to which file, the row
order inside a file. The same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import shutil
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Row counts at scale factor 1 (TPC-H proportions; sf0.1 gives the
# 600k-row lineitem of the repository's bench data).
ROWS_PER_SF = {
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
DATA_SEED = 20261017  # fixes the table contents; layouts take --seed
FIRST_DAY = date(1995, 1, 2)
LAST_DAY = date(2001, 11, 4)  # 83 calendar months of ship dates

def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray, first: date) -> pa.Array:
    base = np.datetime64(first.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def lineitem(sf: float) -> pa.Table:
    rng = np.random.default_rng([DATA_SEED, 0])
    n = int(ROWS_PER_SF["lineitem"] * sf)
    n_orders = int(ROWS_PER_SF["orders"] * sf)
    span = (LAST_DAY - FIRST_DAY).days + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, int(ROWS_PER_SF["part"] * sf), n),
            "l_suppkey": rng.integers(0, int(ROWS_PER_SF["supplier"] * sf), n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n)),
            "l_shipdate": _ts(rng.integers(0, span, n), FIRST_DAY),
        }
    )


def write_fixture(out_dir: str, seed: int, sf: float) -> int:
    """Write the table the query suite reads, ``<out_dir>/lineitem.parquet``,
    rows in an order the seed shuffles; returns its row count."""
    os.makedirs(out_dir, exist_ok=True)
    li = lineitem(sf)
    order = np.random.default_rng(seed).permutation(li.num_rows)
    _write(li.take(order), os.path.join(out_dir, "lineitem.parquet"))
    return li.num_rows


def write_partitioned(
    li: pa.Table,
    table_dir: str,
    fmt: str,
    files_per_partition: int,
    seed: int,
) -> dict[str, int]:
    """Write ``li`` as a Hive layout ``<table_dir>/par_dt=<key>/`` keyed
    by ship date formatted with ``fmt`` (``%Y%m`` or ``%Y%m%d``). The
    seed deals each partition's rows out to ``files_per_partition``
    files of equal row count. Returns rows per partition key."""
    rng = np.random.default_rng(seed)
    keys = pc.strftime(li["l_shipdate"], format=fmt).to_numpy(zero_copy_only=False)
    order = np.lexsort((rng.random(len(keys)), keys))  # shuffled within a key
    keys = keys[order]
    first = np.concatenate(([0], np.flatnonzero(keys[1:] != keys[:-1]) + 1))
    rank = np.arange(len(keys)) - np.repeat(first, np.diff(np.append(first, len(keys))))
    slot = rank % files_per_partition
    regroup = np.lexsort((slot, keys))
    keys, slot = keys[regroup], slot[regroup]
    li = li.take(pa.array(order[regroup]))
    bounds = np.flatnonzero((keys[1:] != keys[:-1]) | (slot[1:] != slot[:-1])) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(keys)]))
    rows: dict[str, int] = {}
    for s, e in zip(starts, ends):
        key = str(keys[s])
        part = os.path.join(table_dir, f"par_dt={key}")
        os.makedirs(part, exist_ok=True)
        _write(li.slice(s, e - s), os.path.join(part, f"part-{int(slot[s]):05d}.snappy.parquet"))
        rows[key] = rows.get(key, 0) + int(e - s)
    return rows


def month_keys(first: date, last: date) -> list[str]:
    """``yyyyMM`` keys of every month touched by [first, last]."""
    keys, d = [], first.replace(day=1)
    while d <= last:
        keys.append(f"{d.year:04d}{d.month:02d}")
        d = (d.replace(day=28) + timedelta(days=4)).replace(day=1)
    return keys


def copy_partitions(src_table: str, dst_table: str, keys: list[str]) -> None:
    for k in keys:
        shutil.copytree(f"{src_table}/par_dt={k}", f"{dst_table}/par_dt={k}")


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of data files under ``path``, markers and hidden
    files (``_SUCCESS``, ``.crc``) left out."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
