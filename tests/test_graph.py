"""PageRank operator tests: conservation, known-graph values, and the
per-iteration plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_trans_spark.operators.graph import pagerank


def _pr(spark, edge_list, iters=3):
    e = spark.createDataFrame(edge_list, "src string, dst string")
    return {
        r["node"]: r["pr"] for r in pagerank(e, iters=iters).collect()
    }


def test_pagerank_mass_conserved_and_star_ordering(spark):
    # undirected star a-b, a-c (symmetrized): hub must outrank leaves,
    # leaves tie exactly, total mass stays 1.
    edges = [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")]
    for iters in (1, 2, 3):
        pr = _pr(spark, edges, iters=iters)
        assert abs(sum(pr.values()) - 1.0) < 1e-9, pr
        assert pr["a"] > pr["b"] == pr["c"], pr


def test_pagerank_two_cycle_is_stationary(spark):
    # 1<->2: uniform 0.5 is the fixed point; iteration must not drift.
    pr = _pr(spark, [("1", "2"), ("2", "1")], iters=4)
    assert pr == {"1": 0.5, "2": 0.5}, pr


def test_pagerank_known_values_one_iteration(spark):
    # hand-computed: star with outdeg(a)=2, leaves outdeg 1, N=3:
    # p1(a) = 0.15/3 + 0.85*(1/3 + 1/3); p1(leaf) = 0.15/3 + 0.85*(1/6)
    pr = _pr(spark, [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")], iters=1)
    assert abs(pr["a"] - (0.05 + 0.85 * (2 / 3))) < 1e-9
    assert abs(pr["b"] - (0.05 + 0.85 * (1 / 6))) < 1e-9


def test_pagerank_empty_graph(spark):
    e = spark.createDataFrame([], "src string, dst string")
    assert pagerank(e, iters=2).count() == 0


def test_pagerank_invariant_under_repartition(spark):
    """Decimal-summed contributions make ranks bit-identical regardless
    of partitioning — the determinism contract that lets an iterative
    operator be oracle-checked at all."""
    import random

    rng = random.Random(7)
    pairs = {(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(120)}
    edge_list = [(a, b) for a, b in pairs if a != b]
    sym = edge_list + [(b, a) for a, b in edge_list]
    e1 = spark.createDataFrame(sym, "src string, dst string")
    e8 = e1.repartition(8)
    pr1 = {r["node"]: r["pr"] for r in pagerank(e1, iters=3).collect()}
    pr8 = {r["node"]: r["pr"] for r in pagerank(e8, iters=3).collect()}
    assert pr1 == pr8
    assert abs(sum(pr1.values()) - 1.0) < 1e-8


def test_pagerank_rejects_sink_nodes(spark):
    """A dst-only node leaks its inbound mass every iteration, so the
    out-degree>=1 precondition is enforced, not just documented."""
    import pytest

    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "sink")], "src string, dst string"
    )
    with pytest.raises(ValueError, match="out-degree 0"):
        pagerank(e, iters=1)


# --- operators/cooccur.py ----------------------------------------------------


def _brute_pairs(rows):
    """Reference pair table: distinct items per key, all u < v combos."""
    from collections import defaultdict

    baskets = defaultdict(set)
    for k, item in rows:
        if item is not None:  # collect_set drops NULL items
            baskets[k].add(item)
    out = defaultdict(int)
    for items in baskets.values():
        s = sorted(items)
        for i, u in enumerate(s):
            for v in s[i + 1 :]:
                out[(u, v)] += 1
    return dict(out)


def test_copurchase_pairs_matches_bruteforce_weighted(spark):
    from hadoop_trans_spark.operators.cooccur import copurchase_pairs

    rows = [
        (1, "b"), (1, "a"), (1, "c"),
        (2, "a"), (2, "b"),
        (2, "a"),          # duplicate (key, item) must not inflate w
        (3, "z"),          # singleton basket: no pairs
        (4, "a"), (4, "b"),
        (5, "a"), (5, None), (5, "c"),  # NULL item: never paired
    ]
    df = spark.createDataFrame(rows, "k long, item string")
    got = {
        (r["u"], r["v"]): r["w"]
        for r in copurchase_pairs(df, "k", "item", weighted=True).collect()
    }
    assert got == _brute_pairs(rows)
    assert all(u < v for u, v in got)


def test_copurchase_pairs_distinct_and_int_items(spark):
    from hadoop_trans_spark.operators.cooccur import copurchase_pairs

    rows = [(1, 30), (1, 10), (1, 20), (2, 10), (2, 30), (3, 7)]
    df = spark.createDataFrame(rows, "k long, item long")
    got = {
        (r["u"], r["v"])
        for r in copurchase_pairs(df, "k", "item").collect()
    }
    assert got == set(_brute_pairs(rows))
    # int ordering, not string ordering: (7, ...) pairs would differ
    assert (10, 20) in got and (10, 30) in got and (20, 30) in got


def test_copurchase_pairs_plan_has_no_join(spark):
    """The operator's point: pair generation is agg + generator
    expansion — a plan containing any join node would mean the fact
    rows are being shuffled twice through a self-join again. The
    expansion must also stay in whole-stage codegen: no interpreted
    higher-order lambda, and every Generate inside a codegen stage."""
    from hadoop_trans_spark.operators.cooccur import copurchase_pairs

    df = spark.createDataFrame([(1, "a"), (1, "b")], "k long, item string")
    out = copurchase_pairs(df, "k", "item", weighted=True)
    out.collect()  # AQE prints codegen stages only in the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "lambdafunction" not in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    generates = [ln for ln in final.splitlines() if "Generate " in ln]
    assert generates, plan
    assert all("*(" in ln for ln in generates), plan
