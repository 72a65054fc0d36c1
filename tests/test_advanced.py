"""Semantics tests for the round-4 advanced analytics operators:
Pareto frontier vs a brute-force dominance model, scalable global row
numbering vs the single-window reference, and the weighted-median
cumulative-weight rule vs an independent Python model."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_trans_spark.catalog import table
from hadoop_trans_spark.operators.globalrank import global_row_number
from hadoop_trans_spark.operators.skyline import pareto_frontier
from hadoop_trans_spark.queries import QUERIES


def _brute_frontier(pts):
    """O(n²) dominance model: keep rows no other row strictly beats."""
    out = []
    for i, (_, lo, hi) in enumerate(pts):
        dominated = any(
            ql <= lo and qh >= hi and (ql < lo or qh > hi)
            for j, (_, ql, qh) in enumerate(pts)
            if j != i
        )
        if not dominated:
            out.append(pts[i])
    return sorted(out)


@given(seed=st.integers(0, 10_000))
@settings(max_examples=8, deadline=None)
def test_pareto_matches_bruteforce_with_duplicates(spark, seed):
    rng = random.Random(seed)
    # Small value domains force duplicate points and equal-coordinate
    # ties — the cases where strict-dominance bookkeeping goes wrong.
    pts = [
        (i, float(rng.randint(0, 8)), rng.randint(0, 8))
        for i in range(rng.randint(1, 60))
    ]
    df = spark.createDataFrame(pts, "id long, price double, size long")
    got = sorted(
        (r["id"], r["price"], r["size"])
        for r in pareto_frontier(df, "price", "size", buckets=4).collect()
    )
    assert got == _brute_frontier(pts)


def test_pareto_all_on_frontier_worst_case(spark):
    """Price and size strictly increasing together: every tradeoff is
    incomparable, so every row is on the frontier — the refine phase
    must keep all of them (output-sized, not pruned)."""
    pts = [(i, float(i), i) for i in range(50)]
    df = spark.createDataFrame(pts, "id long, price double, size long")
    assert pareto_frontier(df, "price", "size").count() == 50


def test_global_row_number_equals_single_window(spark, smoke_dir):
    """The bucketed two-phase rank must reproduce the single-partition
    window's row_number exactly, including duplicate-name ties broken by
    the key tie-break."""
    p = table(spark, smoke_dir, "part").select("p_partkey", "p_name")
    got = {
        r["p_partkey"]: r["rn"]
        for r in global_row_number(
            p, ["p_name", "p_partkey"], rank_col="rn"
        ).collect()
    }
    ref = {
        r["p_partkey"]: r["rn"]
        for r in p.withColumn(
            "rn",
            F.row_number().over(Window.orderBy("p_name", "p_partkey")),
        ).collect()
    }
    assert got == ref


def test_global_row_number_short_keys_and_prefix_collisions(spark):
    """Keys shorter than the bucket prefix and keys equal in the prefix
    but diverging later must still rank in total order."""
    rows = [(i, k) for i, k in enumerate(["ab", "abcd1", "abcd2", "z", ""])]
    df = spark.createDataFrame(rows, "id long, k string")
    got = sorted(
        (r["rn"], r["k"])
        for r in global_row_number(df, ["k", "id"], rank_col="rn").collect()
    )
    assert [k for _, k in got] == ["", "ab", "abcd1", "abcd2", "z"]
    assert [rn for rn, _ in got] == [1, 2, 3, 4, 5]


def test_weighted_median_matches_python_model(spark, smoke_dir):
    """Smallest price whose cumulative quantity-weight reaches half the
    total — checked per flag against an independent model."""
    li = (
        table(spark, smoke_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .collect()
    )
    acc: dict[str, list[tuple[float, float]]] = {}
    for r in li:
        acc.setdefault(r["l_returnflag"], []).append(
            (r["l_extendedprice"], r["l_quantity"])
        )
    want = {}
    for f, pairs in acc.items():
        pairs.sort()
        total = sum(w for _, w in pairs)
        cum = 0.0
        for p, w in pairs:
            cum += w
            if 2 * cum >= total:
                want[f] = p
                break
    got = {
        r["l_returnflag"]: r["weighted_median"]
        for r in QUERIES["q156_weighted_median"](spark, smoke_dir).collect()
    }
    assert got == want


def test_seasonal_anomaly_counts_bounded_and_nonnegative(spark, smoke_dir):
    rows = QUERIES["q159_seasonal_anomaly"](spark, smoke_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_anomalies"] <= r["n"]
        assert r["variance"] >= 0.0


def test_ahash_brightness_invariant_band_sensitive(spark):
    """Perceptual contract: images differing only in fill brightness
    hash equal; images with a different band position hash different."""
    from hadoop_trans_spark.operators.multimodal import (
        PPM_MIME,
        ahash_ppm,
        encode_banded_ppm,
    )
    from hadoop_trans_spark.testing.media import synth_media

    # doc_ids 4 and 8: band = 0 for both, different fills; 5: band = 1.
    df = spark.createDataFrame([(4,), (8,), (5,)], "doc_id long")
    media = synth_media(df, encode_banded_ppm, PPM_MIME)
    rows = {r["doc_id"]: r for r in ahash_ppm(media).collect()}
    assert rows[4]["ahash"] == rows[8]["ahash"]
    assert rows[4]["payload_md5"] != rows[8]["payload_md5"]
    assert rows[4]["ahash"] != rows[5]["ahash"]


def test_ahash_rejects_non_ppm_mime(spark):
    from hadoop_trans_spark.operators.multimodal import (
        ahash_ppm,
        attach_binary,
    )

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    try:
        ahash_ppm(attach_binary(df)).collect()
        raise AssertionError("expected NotImplementedError for bad mime")
    except Exception as ex:
        assert "no image decoder" in str(ex)


def test_ohlc_open_close_match_python_model(spark, smoke_dir):
    """q160's min_by/max_by picks must equal the first/last value under
    the total (ts, event_id) order computed independently."""
    ev = table(spark, smoke_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    ).collect()
    acc: dict[tuple, list] = {}
    for r in ev:
        key = (r["event_type"], r["ts"].strftime("%Y-%m-%d"))
        acc.setdefault(key, []).append((r["ts"], r["event_id"], r["value"]))
    want = {}
    for key, rows in acc.items():
        rows.sort()
        want[key] = (rows[0][2], rows[-1][2])
    got = {
        (r["event_type"], r["day"]): (r["open"], r["close"])
        for r in QUERIES["q160_ohlc_bars"](spark, smoke_dir).collect()
    }
    assert got == want


def test_incremental_rollup_invariant_to_cut_date(spark, smoke_dir):
    """The base/delta merge must produce identical rollups regardless of
    where history is cut — the algebraic-mergeability property itself."""
    from hadoop_trans_spark.queries.base import DEC

    baseline = [
        tuple(r)
        for r in QUERIES["q161_incremental_rollup"](spark, smoke_dir).collect()
    ]

    o = table(spark, smoke_dir, "orders")

    def rollup(df):
        return df.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_orderpriority",
        ).agg(
            F.sum(F.col("o_totalprice").cast(DEC)).alias("rev"),
            F.count("*").alias("n"),
        )

    for cut in ("1995-06-01", "2001-01-01"):
        base, delta = (
            rollup(o.where(F.col("o_orderdate") < cut)),
            rollup(o.where(F.col("o_orderdate") >= cut)),
        )
        zero = F.lit(0).cast(DEC)
        merged = (
            base.withColumnsRenamed({"rev": "rev_b", "n": "n_b"})
            .join(
                delta.withColumnsRenamed({"rev": "rev_d", "n": "n_d"}),
                ["month", "o_orderpriority"],
                "full_outer",
            )
            .select(
                "month",
                "o_orderpriority",
                F.round(
                    F.coalesce(F.col("rev_b"), zero)
                    + F.coalesce(F.col("rev_d"), zero),
                    6,
                )
                .cast("double")
                .alias("revenue"),
                (
                    F.coalesce(F.col("n_b"), F.lit(0))
                    + F.coalesce(F.col("n_d"), F.lit(0))
                ).alias("n_orders"),
            )
            .orderBy("month", "o_orderpriority")
        )
        assert [tuple(r) for r in merged.collect()] == baseline, cut


def test_countmin_never_underestimates(spark, smoke_dir):
    rows = QUERIES["q164_countmin_freq"](spark, smoke_dir).collect()
    assert rows
    for r in rows:
        assert r["cm_est"] >= r["exact_n"]
        assert r["never_underestimates"] == 1


def test_revenue_concentration_shares_monotone_to_one(spark, smoke_dir):
    rows = QUERIES["q165_revenue_concentration"](spark, smoke_dir).collect()
    shares = [r["cum_share"] for r in rows]
    assert shares == sorted(shares)
    assert abs(shares[-1] - 1.0) < 1e-6
    flags = [r["in_top80"] for r in rows]
    assert flags == sorted(flags, reverse=True)  # head is a prefix


def test_linear_attribution_matches_python_model(spark, smoke_dir):
    """Total attributed credit must equal the summed value of purchases
    that HAVE at least one touch, and per-day credits must match an
    independent model."""
    from collections import defaultdict
    from datetime import timedelta

    ev = table(spark, smoke_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    ).collect()
    clicks = defaultdict(list)
    for r in ev:
        if r["event_type"] == "click":
            clicks[r["user_id"]].append(r["ts"])
    want = defaultdict(lambda: [0, 0.0])
    for r in ev:
        if r["event_type"] != "purchase":
            continue
        touches = [
            t
            for t in clicks[r["user_id"]]
            if r["ts"] - timedelta(hours=24) <= t < r["ts"]
        ]
        if not touches:
            continue
        for t in touches:
            day = t.strftime("%Y-%m-%d")
            want[day][0] += 1
            want[day][1] += round(r["value"] / len(touches), 9)
    got = {
        r["day"]: (r["n_touches"], r["credit"])
        for r in QUERIES["q167_linear_attribution"](spark, smoke_dir).collect()
    }
    assert set(got) == set(want)
    for day, (n, credit) in got.items():
        assert n == want[day][0]
        assert abs(credit - round(want[day][1], 6)) < 1e-6, day


def test_banded_row_number_numeric_band_with_negatives(spark):
    """floor(v/width) banding must stay order-consistent across zero
    (floor, not truncate-toward-zero) and reproduce the single-window
    rank exactly."""
    from hadoop_trans_spark.operators.globalrank import (
        global_row_number_banded,
    )

    rows = [(i, v) for i, v in enumerate([-250, -101, -100, -1, 0, 1, 99, 100, 250])]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["id"]: r["rn"]
        for r in global_row_number_banded(
            df, F.floor(F.col("v") / 100), ["v", "id"], rank_col="rn"
        ).collect()
    }
    ref = {
        r["id"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("v", "id"))
        ).collect()
    }
    assert got == ref


@given(seed=st.integers(0, 10_000))
@settings(max_examples=6, deadline=None)
def test_banded_cumsum_matches_single_window(spark, seed):
    """Inclusive and exclusive banded running totals must equal the
    single-window cumulative sums for long AND decimal columns — the
    histogram shapes the stats family feeds it (duplicate-free ordered
    keys, skewed band occupancy, empty bands)."""
    from decimal import Decimal

    from hadoop_trans_spark.operators.globalrank import banded_cumsum

    rng = random.Random(seed)
    vals = sorted(rng.sample(range(-500, 2000), rng.randint(1, 80)))
    rows = [
        (v, rng.randint(1, 9), Decimal(rng.randint(-999, 999)) / 100)
        for v in vals
    ]
    df = spark.createDataFrame(rows, "v long, c long, s decimal(19,6)")
    out = banded_cumsum(
        df,
        "v",
        F.floor(F.col("v") / 100),
        {"cn": "c", "cs": "s"},
        totals={"n": "cn", "st": "cs"},
    )
    out_ex = banded_cumsum(
        df,
        "v",
        F.floor(F.col("v") / 100),
        {"bn": "c"},
        exclusive=True,
    )
    got = {r["v"]: (r["cn"], r["cs"]) for r in out.collect()}
    tots = {(r["n"], r["st"]) for r in out.collect()}
    got_ex = {r["v"]: r["bn"] for r in out_ex.collect()}
    run_c, run_s = 0, Decimal(0)
    for v, c, s in rows:
        assert got_ex[v] == run_c, (v, seed)
        run_c += c
        run_s += s
        assert got[v] == (run_c, run_s), (v, seed)
    assert tots == {(run_c, run_s)}, seed


@given(seed=st.integers(0, 10_000))
@settings(max_examples=6, deadline=None)
def test_freq_banded_ids_match_single_window(spark, seed):
    """Two-level (count, token-prefix) id assignment must equal the
    single-window row_number over (count DESC, token ASC) — including
    hapax pileups (many tokens tied at count 1), prefix collisions, and
    tokens shorter than the prefix."""
    from hadoop_trans_spark.operators.globalrank import freq_banded_ids

    rng = random.Random(seed)
    alphabet = ["a", "ab", "abc", "abd", "b", "ba", "bb", "z", "zz", "x"]
    toks = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 2)))
        for _ in range(rng.randint(1, 120))
    ]
    counts = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    df = spark.createDataFrame(list(counts.items()), "w string, c long")
    got = {
        r["w"]: r["tok_id"] for r in freq_banded_ids(df).collect()
    }
    ref = {
        r["w"]: r["rn"]
        for r in df.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.col("c").desc(), "w")),
        ).collect()
    }
    assert got == ref


@given(n=st.integers(1, 97))
@settings(max_examples=10, deadline=None)
def test_closed_form_ntile_matches_window_ntile(spark, n):
    """q182's decile arithmetic: the closed form from (rank, n) must
    equal Spark's ntile(10) for every population size — including
    n < 10 (one row per tile), n % 10 == 0 (equal tiles), and the
    general first-r-tiles-get-one-extra case."""
    rows = [(i, float(n - i)) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, score double")
    ref = {
        r["id"]: r["t"]
        for r in df.select(
            "id",
            F.ntile(10)
            .over(Window.orderBy(F.desc("score"), "id"))
            .alias("t"),
        ).collect()
    }
    from hadoop_trans_spark.operators.globalrank import (
        global_row_number_banded,
    )

    rk = global_row_number_banded(
        df,
        F.floor(F.col("score") / F.lit(-3)),
        [F.desc("score"), "id"],
        rank_col="rk",
    ).withColumn("n", F.lit(n).cast("long"))
    got = {
        r["id"]: r["t"]
        for r in rk.select(
            "id",
            F.expr(
                "CAST(CASE WHEN n < 10 THEN rk"
                " WHEN rk <= (n % 10) * (n DIV 10 + 1)"
                " THEN (rk - 1) DIV (n DIV 10 + 1) + 1"
                " ELSE (n % 10) + (rk - (n % 10) * (n DIV 10 + 1) - 1)"
                "      DIV (n DIV 10) + 1 END AS INT)"
            ).alias("t"),
        ).collect()
    }
    assert got == ref, n
