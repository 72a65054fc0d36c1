"""Third-engine rederivations for the sources/pipelines/UDF/maintenance
block of the r8 re-confirmation window.

Each test re-derives a query's expected output from the raw parquet in
pure Python/pandas — fingerprints for the format-roundtrip and
migrate/compact pipelines (q33/q34/q52/q53/q78/q112/q120), MERGE/CDC
set logic in plain dicts (q82/q83), the Efraimidis–Spirakis weighted
draw and md5-keyed generators with hashlib (q90/q103/q108), JSON field
extraction with `json` (q91), in-group ranking and per-doc top-k with
`collections` (q51/q113), gap-streak state with a linear scan (q60),
and two unrolled Lloyd iterations with exact Decimal centroid means
(q105). No repo SQL, no Spark expressions; DuckDB only projects raw
columns.

Run at sf0.01 too when touched:

    SF_SMOKE_DIR=/root/testdata/sf0.01 python -m pytest \
        tests/test_third_engine_sources_pipelines.py -q
"""

from __future__ import annotations

import hashlib
import json
import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import duckdb

from hadoop_trans_spark.queries import QUERIES

US_DAY = 86_400_000_000


def _sql(q: str):
    return duckdb.sql(q).fetchall()


def _rows(spark, smoke_dir, name):
    return [r.asDict() for r in QUERIES[name](spark, smoke_dir).collect()]


def _dec6(x: float) -> Decimal:
    return Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)


def _rnd6(x: float) -> float:
    return float(_dec6(x))


def _dsum(values) -> float:
    return float(sum(_dec6(v) for v in values))


def _us(dt) -> int:
    """datetime/date → epoch microseconds (naive UTC wall clock)."""
    import datetime

    if isinstance(dt, datetime.datetime):
        return (
            dt - datetime.datetime(1970, 1, 1)
        ) // datetime.timedelta(microseconds=1)
    return (dt - datetime.date(1970, 1, 1)).days * US_DAY


# --- format roundtrips / datasource / layout ---------------------------------


def test_csv_roundtrip_fingerprint(spark, smoke_dir):
    """q52: the post-roundtrip per-segment fingerprint equals the source."""
    rows = _sql(
        f"select c_mktsegment, c_acctbal, c_name from "
        f"read_parquet('{smoke_dir}/customer.parquet')"
    )
    groups: dict[str, list] = {}
    for seg, bal, name in rows:
        groups.setdefault(seg, []).append((bal, name))
    expect = [
        {
            "segment": seg,
            "n": len(g),
            "bal_sum": _dsum(b for b, _ in g),
            "first_name": min(n for _, n in g),
        }
        for seg, g in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q52_csv_roundtrip") == expect


def test_json_roundtrip_fingerprint(spark, smoke_dir):
    """q53: events → JSON lines → back; per-type fingerprint."""
    rows = _sql(
        f"select event_type, value, ts from "
        f"read_parquet('{smoke_dir}/events.parquet')"
    )
    groups: dict[str, list] = {}
    for et, v, ts in rows:
        groups.setdefault(et, []).append((v, _us(ts)))
    expect = [
        {
            "event_type": et,
            "n": len(g),
            "value_sum": _dsum(v for v, _ in g),
            "min_ts_us": min(t for _, t in g),
        }
        for et, g in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q53_json_roundtrip") == expect


def test_orc_roundtrip_fingerprint(spark, smoke_dir):
    """q78: orders → ORC → back; per-status fingerprint."""
    rows = _sql(
        f"select o_orderstatus, o_totalprice, o_orderdate from "
        f"read_parquet('{smoke_dir}/orders.parquet')"
    )
    groups: dict[str, list] = {}
    for st, p, d in rows:
        groups.setdefault(st, []).append((p, _us(d)))
    expect = [
        {
            "status": st,
            "n": len(g),
            "price_sum": _dsum(p for p, _ in g),
            "min_date_us": min(d for _, d in g),
        }
        for st, g in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q78_orc_roundtrip") == expect


def test_python_datasource_matches_generator(spark, smoke_dir):
    """q90: the synthetic_range source's contract re-derived from the
    same arithmetic: 1000 ids, bucket = id % 7, h = md5(str(id))."""
    buckets: dict[int, list] = {}
    for i in range(1000):
        buckets.setdefault(i % 7, []).append(i)
    expect = [
        {
            "bucket": b,
            "n": len(ids),
            "min_h": min(hashlib.md5(str(i).encode()).hexdigest() for i in ids),
            "id_sum": sum(ids),
        }
        for b, ids in sorted(buckets.items())
    ]
    assert _rows(spark, smoke_dir, "q90_python_datasource") == expect


def test_variant_json_matches_python_json(spark, smoke_dir):
    """q91: VARIANT $.k extraction re-derived with json.loads."""
    rows = _sql(
        f"select event_type, props from "
        f"read_parquet('{smoke_dir}/events.parquet')"
    )
    groups: dict[str, list] = {}
    ks: dict[str, list] = {}
    for et, props in rows:
        groups.setdefault(et, []).append(props)
        k = json.loads(props).get("k") if props is not None else None
        if k is not None:
            ks.setdefault(et, []).append(int(k))
    expect = [
        {
            "event_type": et,
            "n": len(g),
            "k_sum": sum(ks[et]),
            "k_min": min(ks[et]),
            "k_max": max(ks[et]),
        }
        for et, g in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q91_variant_json") == expect


def test_schema_evolution_fingerprint(spark, smoke_dir):
    """q112: v1 (even keys, no priority column) / v2 (odd keys, with it)
    merged-schema read."""
    rows = _sql(
        f"select o_orderkey, o_totalprice from "
        f"read_parquet('{smoke_dir}/orders.parquet')"
    )
    v1 = [p for k, p in rows if k % 2 == 0]
    v2 = [p for k, p in rows if k % 2 != 0]
    expect = [
        {"gen": "v1", "n": len(v1), "n_with_priority": 0, "price_sum": _dsum(v1)},
        {"gen": "v2", "n": len(v2), "n_with_priority": len(v2), "price_sum": _dsum(v2)},
    ]
    assert _rows(spark, smoke_dir, "q112_schema_evolution") == expect


def test_bucketed_join_fingerprint(spark, smoke_dir):
    """q120: the zero-exchange bucketed join's result equals a plain
    dict-join of the raw tables."""
    orders = dict(
        _sql(
            f"select o_orderkey, o_orderpriority from "
            f"read_parquet('{smoke_dir}/orders.parquet')"
        )
    )
    items = _sql(
        f"select l_orderkey, l_extendedprice from "
        f"read_parquet('{smoke_dir}/lineitem.parquet')"
    )
    groups: dict[str, list] = {}
    for k, price in items:
        prio = orders.get(k)
        if prio is not None:
            groups.setdefault(prio, []).append(price)
    expect = [
        {"prio": prio, "n_items": len(ps), "price_sum": _dsum(ps)}
        for prio, ps in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q120_bucketed_join") == expect


# --- migrate / compact pipelines ----------------------------------------------


def test_migrate_fidelity_fingerprint(spark, smoke_dir):
    """q33: the migrated 1996 partitions fingerprint like the source."""
    rows = _sql(
        f"select l_shipdate, l_quantity, l_extendedprice from "
        f"read_parquet('{smoke_dir}/lineitem.parquet') "
        f"where l_shipdate >= date '1996-01-01' and l_shipdate < date '1997-01-01'"
    )
    groups: dict[str, list] = {}
    for d, q, p in rows:
        groups.setdefault(f"{d.year}{d.month:02d}", []).append((q, p, _us(d)))
    expect = [
        {
            "par_dt": m,
            "n_rows": len(g),
            "qty_sum": _dsum(q for q, _, _ in g),
            "price_sum": _dsum(p for _, p, _ in g),
            "min_ship_us": min(u for _, _, u in g),
        }
        for m, g in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q33_migrate_fidelity") == expect


def test_compact_fidelity_fingerprint(spark, smoke_dir):
    """q34: compaction is content-invariant — per-type fingerprint of the
    compacted table equals the raw events."""
    rows = _sql(
        f"select event_type, event_id, value, ts from "
        f"read_parquet('{smoke_dir}/events.parquet')"
    )
    groups: dict[str, list] = {}
    for et, eid, v, ts in rows:
        groups.setdefault(et, []).append((eid, v, _us(ts)))
    expect = [
        {
            "event_type": et,
            "n_rows": len(g),
            "n_ids": len({e for e, _, _ in g}),
            "value_sum": _dsum(v for _, v, _ in g),
            "min_ts_us": min(u for _, _, u in g),
            "max_ts_us": max(u for _, _, u in g),
        }
        for et, g in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q34_compact_fidelity") == expect


# --- MERGE / CDC ---------------------------------------------------------------


def test_upsert_merge_matches_dict_model(spark, smoke_dir):
    """q82: SCD1 MERGE — updates (key%7==0, price+10) replace rows,
    inserts (key%1000==0, key+10M, status N) append."""
    rows = _sql(
        f"select o_orderkey, o_orderstatus, o_totalprice from "
        f"read_parquet('{smoke_dir}/orders.parquet')"
    )
    merged = {k: (st, p) for k, st, p in rows}
    n_inserted_keys = set()
    for k, st, p in rows:
        if k % 7 == 0:
            merged[k] = (st, p + 10.0)
        if k % 1000 == 0:
            merged[k + 10_000_000] = ("N", p)
            n_inserted_keys.add(k + 10_000_000)
    groups: dict[str, list] = {}
    for k, (st, p) in merged.items():
        groups.setdefault(st, []).append((k, p))
    expect = [
        {
            "status": st,
            "n": len(g),
            "price_sum": _dsum(p for _, p in g),
            "n_inserted": sum(k >= 10_000_000 for k, _ in g),
        }
        for st, g in sorted(groups.items())
    ]
    assert _rows(spark, smoke_dir, "q82_upsert_merge") == expect


def test_snapshot_diff_matches_set_model(spark, smoke_dir):
    """q83: CDC classification between the base snapshot and a mutated
    one (drops %13, bumps %7 price, inserts %1000 under new keys)."""
    rows = _sql(
        f"select o_orderkey, o_orderstatus, o_totalprice from "
        f"read_parquet('{smoke_dir}/orders.parquet')"
    )
    old = {k: (st, p) for k, st, p in rows}
    new = {}
    for k, st, p in rows:
        if k % 13 != 0:
            new[k] = (st, p + 10.0 if k % 7 == 0 else p)
        if k % 1000 == 0:
            new[k + 10_000_000] = ("N", p)
    status: dict[str, list] = {}
    for k in old.keys() | new.keys():
        if k not in old:
            s = "added"
        elif k not in new:
            s = "removed"
        elif old[k] != new[k]:
            s = "changed"
        else:
            s = "unchanged"
        status.setdefault(s, []).append(k)
    expect = [
        {"diff_status": s, "n": len(ks), "key_sum": sum(ks)}
        for s, ks in sorted(status.items())
    ]
    assert _rows(spark, smoke_dir, "q83_snapshot_diff") == expect


# --- UDF surfaces ---------------------------------------------------------------


def test_apply_in_pandas_rank_matches_python(spark, smoke_dir):
    """q51: per-segment RANK (min method) over acctbal, rebuilt with a
    sort + tie-walk."""
    rows = _sql(
        f"select c_custkey, c_mktsegment, c_acctbal from "
        f"read_parquet('{smoke_dir}/customer.parquet')"
    )
    by_seg: dict[str, list] = {}
    for k, seg, bal in rows:
        by_seg.setdefault(seg, []).append((k, bal))
    ranks: dict[int, int] = {}
    for seg, members in by_seg.items():
        ordered = sorted(members, key=lambda kb: kb[1])
        for i, (k, bal) in enumerate(ordered, 1):
            # RANK(): ties share the FIRST position of their value run.
            j = i
            while j > 1 and ordered[j - 2][1] == bal:
                j -= 1
            ranks[k] = j
    expect = [
        {"custkey": k, "segment": seg, "bal_rank": ranks[k]}
        for k, seg, _bal in sorted(rows)
    ]
    assert _rows(spark, smoke_dir, "q51_apply_in_pandas_rank") == expect


def test_python_udtf_matches_counter(spark, smoke_dir):
    """q113: top-3 ≥3-letter words per sampled doc (split on non-letters,
    ties by word), rebuilt with Counter."""
    import re

    rows = _sql(
        f"select doc_id, text from "
        f"read_parquet('{smoke_dir}/documents.parquet') "
        f"where doc_id % 50 = 0 order by doc_id"
    )
    expect = []
    for d, t in rows:
        c = Counter(
            w
            for w in re.split(r"[^a-z]+", t.lower())
            if len(w) >= 3
        )
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        expect += [
            {"doc_id": int(d), "word": w, "n": n} for w, n in top
        ]
    assert _rows(spark, smoke_dir, "q113_python_udtf") == expect


def test_stream_custom_state_matches_streak_scan(spark, smoke_dir):
    """q60: per-user longest activity streak (runs of events < 600 s
    apart) — the applyInPandasWithState operator re-derived by a linear
    scan over sorted event times."""
    rows = _sql(
        f"select user_id, ts from read_parquet('{smoke_dir}/events.parquet')"
    )
    by_user: dict[int, list] = {}
    for u, ts in rows:
        by_user.setdefault(int(u), []).append(ts)
    expect = []
    for u, tss in sorted(by_user.items()):
        tss.sort()
        best = cur = 0
        prev = None
        for ts in tss:
            if prev is not None and (ts - prev).total_seconds() < 600:
                cur += 1
            else:
                cur = 1
            best = max(best, cur)
            prev = ts
        expect.append({"user_id": u, "n_events": len(tss), "max_streak": best})
    assert _rows(spark, smoke_dir, "q60_stream_custom_state") == expect


# --- curation generators ---------------------------------------------------------


def test_chunk_documents_matches_python_slicing(spark, smoke_dir):
    """q103: 200-char windows at stride 150, hashes via hashlib."""
    rows = _sql(
        f"select doc_id, text from read_parquet('{smoke_dir}/documents.parquet') "
        f"order by doc_id"
    )
    expect = []
    for d, t in rows:
        for off in range(0, len(t), 150):
            chunk = t[off : off + 200]
            expect.append(
                {
                    "doc_id": int(d),
                    "off": off,
                    "chunk_len": len(chunk),
                    "chunk_hash": hashlib.md5(chunk.encode()).hexdigest(),
                }
            )
    assert _rows(spark, smoke_dir, "q103_chunk_documents") == expect


def test_weighted_sample_matches_aes_model(spark, smoke_dir):
    """q108: Efraimidis–Spirakis keys u^(1/w) with u from the first 6 hex
    chars of md5(id); top-50 by (rounded key desc, id)."""
    rows = _sql(
        f"select doc_id, n_chars from "
        f"read_parquet('{smoke_dir}/documents.parquet') where n_chars > 0"
    )
    keyed = []
    for d, w in rows:
        u = (int(hashlib.md5(str(d).encode()).hexdigest()[:6], 16) + 1) / 16777217.0
        keyed.append((int(d), int(w), _rnd6(u ** (1.0 / float(w)))))
    top = sorted(keyed, key=lambda r: (-r[2], r[0]))[:50]
    expect = [
        {"doc_id": d, "n_chars": w, "sample_key": k}
        for d, w, k in sorted(top)
    ]
    assert _rows(spark, smoke_dir, "q108_weighted_sample") == expect


def test_kmeans_matches_unrolled_lloyd(spark, smoke_dir):
    """q105: two deterministic Lloyd iterations, k=8 — init = first 8
    vectors by id, d² rounded HALF_UP at 6 before the argmin, centroid
    update as exact Decimal per-dimension means, inertia at 3."""
    rows = _sql(
        f"select vec_id, embedding from "
        f"read_parquet('{smoke_dir}/embeddings.parquet') order by vec_id"
    )
    vecs = {int(i): [float(x) for x in v] for i, v in rows}

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def assign(centroids):
        out = {}
        for i, v in vecs.items():
            v_sq = dot(v, v)
            best = None
            for c_idx, c in centroids.items():
                d2 = _rnd6(v_sq + dot(c, c) - 2 * dot(v, c))
                if best is None or (d2, c_idx) < best[0]:
                    best = ((d2, c_idx), c_idx)
            out[i] = best
        return out

    centroids = {j: vecs[i] for j, i in enumerate(sorted(vecs)[:8])}
    a1 = assign(centroids)
    members: dict[int, list] = {}
    for i, (_key, c_idx) in a1.items():
        members.setdefault(c_idx, []).append(vecs[i])
    c1 = {}
    for c_idx, ms in members.items():
        dim = len(ms[0])
        c1[c_idx] = [
            float(
                (sum(_dec6(m[p]) for m in ms) / len(ms)).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )
            for p in range(dim)
        ]
    a2 = assign(c1)
    agg: dict[int, list] = {}
    for i, ((d2, _), c_idx) in a2.items():
        agg.setdefault(c_idx, []).append(d2)
    expect = [
        {
            "cluster": c_idx,
            "n": len(ds),
            "inertia": float(
                sum(_dec6(d) for d in ds).quantize(
                    Decimal("0.001"), ROUND_HALF_UP
                )
            ),
        }
        for c_idx, ds in sorted(agg.items())
    ]
    assert _rows(spark, smoke_dir, "q105_kmeans_clusters") == expect


def test_schema_drift_report_matches_independent_walk(spark, tmp_path):
    """q245's operator re-derived independently: os.walk the staged
    dir, read every footer with pyarrow directly, aggregate with
    collections — no repo operator, no Spark, no SQL."""
    import os
    from collections import defaultdict

    import pyarrow.parquet as pq

    from hadoop_trans_spark.pipelines.schema_report import schema_drift_report

    a = spark.createDataFrame([(1, 10.0)], "id long, v double")
    b = spark.createDataFrame([(2, 20.0, "x")], "id long, v double, note string")
    # Two one-row appends per side: two non-empty files each (Spark
    # writes no file for an empty partition).
    for _ in range(2):
        a.coalesce(1).write.mode("append").parquet(str(tmp_path / "t" / "p=1"))
        b.coalesce(1).write.mode("append").parquet(str(tmp_path / "t" / "p=2"))

    files = []
    for root, _dirs, names in os.walk(tmp_path / "t"):
        files += [
            os.path.join(root, n)
            for n in names
            if not n.startswith(("_", ".")) and n.endswith(".parquet")
        ]
    with_count: dict[str, int] = defaultdict(int)
    types: dict[str, set] = defaultdict(set)
    for f in files:
        for field in pq.read_schema(f):
            with_count[field.name] += 1
            types[field.name].add(str(field.type))
    expect = sorted(
        [
            {
                "col_name": c,
                "n_files_with": with_count[c],
                "n_files_missing": len(files) - with_count[c],
                "n_types": len(types[c]),
            }
            for c in with_count
        ],
        key=lambda r: r["col_name"],
    )

    got = [
        r.asDict()
        for r in schema_drift_report(spark, str(tmp_path / "t")).collect()
    ]
    assert got == expect
    # the drift is real: note is present in exactly the evolved files
    assert with_count["note"] == 2 and len(files) == 4


def test_schema_drift_query_matches_staging_rule(spark, smoke_dir):
    """q245 end-to-end: the staged warehouse drops l_tax from the
    older partition (2 files) and keeps the full fixture schema in the
    newer one (2 files) — the report must state exactly that, derived
    here from the staging rule alone."""
    from hadoop_trans_spark.queries import QUERIES

    fixture_cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    ]
    expect = sorted(
        [
            {
                "col_name": c,
                "n_files_with": 2 if c == "l_tax" else 4,
                "n_files_missing": 2 if c == "l_tax" else 0,
                "n_types": 1,
            }
            for c in fixture_cols
        ],
        key=lambda r: r["col_name"],
    )
    got = [
        r.asDict()
        for r in QUERIES["q245_schema_drift"](spark, smoke_dir).collect()
    ]
    assert got == expect


def test_footer_quarantine_matches_pyarrow_model(spark, smoke_dir):
    """q246 re-derived without the repo's SQL or pipelines: read the
    1996 lineitem months with pyarrow, apply the corruption rule by
    hand (months 03/04 poisoned -> quarantined -> 0 destination rows,
    every other month arrives in full), and compare."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{smoke_dir}/lineitem.parquet", columns=["l_shipdate"]
    )
    months: dict[str, int] = {}
    for v in t.column("l_shipdate").to_pylist():
        if v.year == 1996 and v.month <= 6:  # H1 staging window
            m = f"{v.year}{v.month:02d}"
            months[m] = months.get(m, 0) + 1
    expect = [
        {
            "par_dt": m,
            "n_dst_rows": 0 if m in ("199603", "199604") else n,
            "n_quarantined": 1 if m in ("199603", "199604") else 0,
        }
        for m, n in sorted(months.items())
    ]
    got = [
        r.asDict()
        for r in QUERIES["q246_footer_quarantine"](spark, smoke_dir).collect()
    ]
    assert got == expect
