"""Physical-plan property tests (SURVEY §4): pushdown, pruning,
broadcast selection, codegen coverage. These are the scale guarantees —
a plan regression here costs nothing at sf0.01 and everything at 100 TB.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hadoop_trans_spark.catalog import table
from hadoop_trans_spark.plans import (
    broadcast_joins,
    codegen_subtrees,
    explain_formatted,
    pushed_filters,
    read_schemas,
    scan_partition_filters,
)
from hadoop_trans_spark.queries import QUERIES


def test_filter_pushdown_reaches_parquet_scan(spark, smoke_dir):
    df = (
        table(spark, smoke_dir, "lineitem")
        .where(F.col("l_shipdate") <= "1998-09-02")
        .select("l_returnflag", "l_quantity")
    )
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_column_pruning_reads_only_projected_columns(spark, smoke_dir):
    df = table(spark, smoke_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = read_schemas(df)
    assert schemas and set(schemas[0]) == {"l_orderkey", "l_quantity"}


def test_dim_join_broadcasts(spark, smoke_dir):
    """q04 joins lineitem to the 25-row nation dim — must broadcast."""
    df = QUERIES["q04_broadcast_join"](spark, smoke_dir)
    assert broadcast_joins(df) >= 1, explain_formatted(df)


def test_partition_pruning_on_hive_layout(spark, smoke_dir, tmp_path):
    path = str(tmp_path / "li_part")
    li = table(spark, smoke_dir, "lineitem").withColumn(
        "par_dt", F.date_format("l_shipdate", "yyyyMM")
    )
    li.write.partitionBy("par_dt").parquet(path)
    df = spark.read.parquet(path).where(F.col("par_dt") == "199601")
    parts = scan_partition_filters(df)
    assert any("par_dt" in p for p in parts), explain_formatted(df)
    # and the data filter did NOT degrade into a post-scan filter only
    assert df.count() > 0


def test_relational_hot_path_is_codegen(spark, smoke_dir):
    """The flagship agg query should run almost entirely inside
    whole-stage codegen (no Python in the hot path)."""
    df = QUERIES["q01_pricing_summary"](spark, smoke_dir)
    assert codegen_subtrees(df) >= 1, explain_formatted(df)


@pytest.mark.parametrize(
    "name",
    ["q05_revenue_by_nation", "q11_agg_battery", "q20_window_rank"],
)
def test_no_python_udf_in_relational_plans(spark, smoke_dir, name):
    plan = explain_formatted(QUERIES[name](spark, smoke_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_signlsh_band_join_is_equi_not_cartesian(spark, smoke_dir):
    """q69's candidate stage must be an equi-join on (band, band_sig) —
    a cartesian/BNL here would be quadratic in the corpus at 100 TB."""
    from hadoop_trans_spark.catalog import table
    from hadoop_trans_spark.operators.similarity import signlsh_near_duplicates

    e = table(spark, smoke_dir, "embeddings")
    plan = explain_formatted(signlsh_near_duplicates(e, threshold=-1.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_pipeline_no_python_no_cartesian(spark, smoke_dir):
    from hadoop_trans_spark.catalog import table
    from hadoop_trans_spark.operators.minhash import near_duplicates

    d = table(spark, smoke_dir, "documents")
    plan = explain_formatted(near_duplicates(d, n_hashes=8, bands=4))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curation_corpus_never_reshuffles_rows(spark, smoke_dir):
    """q70's dedup joins must be join-key metadata exchanges only: the
    anti-join side carries doc ids, never text columns."""
    from hadoop_trans_spark.queries import QUERIES

    plan = explain_formatted(QUERIES["q70_corpus_curation"](spark, smoke_dir))
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark, smoke_dir):
    """The benchmark gram set must take the broadcast side: corpus grams
    are then filtered map-side before any shuffle — the property that
    makes decontamination scan-bound at 100 TB."""
    from hadoop_trans_spark.operators.curation import decontaminate

    d = table(spark, smoke_dir, "documents")
    bench = d.where(F.col("doc_id") % 97 == 0)
    corpus = d.where(F.col("doc_id") % 97 != 0)
    df = decontaminate(corpus, bench, k=4)
    assert broadcast_joins(df) >= 1, explain_formatted(df)
    plan = explain_formatted(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stratified_sample_uses_window_group_limit(spark, smoke_dir):
    """rank ≤ k must plan a WindowGroupLimit: each map task forwards at
    most k rows per stratum into the shuffle instead of the full table."""
    from hadoop_trans_spark.operators.curation import stratified_sample

    d = table(spark, smoke_dir, "documents")
    plan = explain_formatted(stratified_sample(d, "lang", "doc_id", k=5))
    assert "WindowGroupLimit" in plan, plan


def test_quantize_is_shuffle_free_projection(spark, smoke_dir):
    """Int8 quantization must be a pure narrow projection — any Exchange
    in this plan means a 100 TB quantization pass shuffles the corpus."""
    from hadoop_trans_spark.operators.similarity import quantize_int8

    e = table(spark, smoke_dir, "embeddings")
    plan = explain_formatted(quantize_int8(e))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_dedup_band_join_is_equi(spark, smoke_dir):
    """q86's corpus×new candidate stage must be the (band, band_sig)
    equi-join — the persisted-index shape that keeps per-batch cost
    proportional to the batch."""
    from hadoop_trans_spark.operators.minhash import near_duplicates_between

    d = table(spark, smoke_dir, "documents")
    pairs = near_duplicates_between(
        d.where(F.col("doc_id") % 2 == 0),
        d.where(F.col("doc_id") % 2 == 1),
        n_hashes=8,
        bands=4,
    )
    plan = explain_formatted(pairs)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_and_pii_stay_jvm_side(spark, smoke_dir):
    for name in ("q72_repetition_quality", "q75_pii_redaction"):
        plan = explain_formatted(QUERIES[name](spark, smoke_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_binned_range_join_is_equi_never_nested_loop(spark, smoke_dir):
    """The range join's whole reason to exist: with broadcast disabled
    (both sides 'large'), the plan must be a shuffled equi-join on the
    bin key — a raw range-predicate join would be BNLJ/cartesian."""
    from hadoop_trans_spark.operators.rangejoin import binned_range_join

    o = table(spark, smoke_dir, "orders")
    promo = o.limit(50).select(
        F.col("o_orderkey").alias("promo_id"),
        F.date_sub("o_orderdate", 15).alias("wstart"),
        F.date_add("o_orderdate", 15).alias("wend"),
    )
    li = table(spark, smoke_dir, "lineitem").select("l_shipdate", "l_quantity")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = binned_range_join(
            li, promo, "l_shipdate", "wstart", "wend", bin_days=16
        )
        plan = explain_formatted(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_binned_range_join_matches_naive_and_guards_empty(spark, smoke_dir):
    """Bin decomposition must be invisible: same pairs as the naive
    range predicate, and end<=start intervals produce nothing (instead
    of sequence() counting down and fabricating bins)."""
    from hadoop_trans_spark.operators.rangejoin import binned_range_join

    o = table(spark, smoke_dir, "orders")
    promo = o.limit(20).select(
        F.col("o_orderkey").alias("promo_id"),
        F.date_sub("o_orderdate", 10).alias("wstart"),
        F.date_add("o_orderdate", 40).alias("wend"),  # wider than bin
    )
    li = table(spark, smoke_dir, "lineitem").select("l_orderkey", "l_shipdate")
    got = binned_range_join(li, promo, "l_shipdate", "wstart", "wend", bin_days=16)
    naive = li.join(
        promo,
        (F.col("l_shipdate") >= F.col("wstart"))
        & (F.col("l_shipdate") < F.col("wend")),
    )
    assert got.count() == naive.count()
    assert (
        got.exceptAll(naive.select(got.columns)).count() == 0
    ), "binned join emitted pairs the naive join does not"

    empty = promo.select(
        "promo_id", F.col("wend").alias("wstart"), F.col("wstart").alias("wend")
    )
    degenerate = binned_range_join(
        li, empty, "l_shipdate", "wstart", "wend", bin_days=16
    )
    assert degenerate.count() == 0


def test_zorder_layout_bounds_both_dimensions(spark, smoke_dir):
    """After cluster_by_zorder, each output partition's extent must be
    bounded in BOTH dimensions (that is what makes min/max file stats
    prune on either predicate); a time-sorted layout bounds neither."""
    from hadoop_trans_spark.operators.zorder import cluster_by_zorder

    # event_id (not user_id) for x: the smoke fixture has too few users
    # to span 8 bits, which would leave x trivially bounded in ANY layout
    e = table(spark, smoke_dir, "events").select(
        (F.col("event_id") % 256).cast("int").alias("x"),
        F.floor((F.hour("ts") * 60 + F.minute("ts")) / 6).cast("int").alias("y"),
        "ts",
    )

    def mean_spans(df):
        spans = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                (F.max("x") - F.min("x")).alias("xs"),
                (F.max("y") - F.min("y")).alias("ys"),
            )
            .agg(F.avg("xs").alias("xs"), F.avg("ys").alias("ys"))
            .first()
        )
        return spans["xs"], spans["ys"]

    zx, zy = mean_spans(
        cluster_by_zorder(e, F.col("x"), F.col("y"), partitions=32)
    )
    # single-dimension layouts: each bounds its own sort key perfectly
    # and leaves the OTHER dimension at nearly full extent
    _, x_sorted_y = mean_spans(e.repartitionByRange(32, "x"))
    y_sorted_x, _ = mean_spans(e.repartitionByRange(32, "y"))
    assert zx < 0.5 * y_sorted_x, (zx, y_sorted_x)
    assert zy < 0.5 * x_sorted_y, (zy, x_sorted_y)


def test_weighted_sample_plans_take_ordered(spark, smoke_dir):
    """Global top-k sampling must plan TakeOrderedAndProject (per-task
    local top-k, k-row driver merge), never a single-partition window
    or a full global sort."""
    from hadoop_trans_spark.operators.curation import weighted_sample

    docs = table(spark, smoke_dir, "documents")
    plan = (
        weighted_sample(docs, k=40, weight_col="n_chars")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_kmeans_assignment_is_shuffle_free(spark, smoke_dir):
    """Centroids enter the assignment as literals, so the final
    assignment pass must be a pure projection over the corpus scan —
    no join of any kind and no Exchange. A shuffled or cartesian
    corpus×centroids stage would be the blowup the operator avoids."""
    from hadoop_trans_spark.operators.kmeans import kmeans_assignments

    e = table(spark, smoke_dir, "embeddings")
    plan = (
        kmeans_assignments(e, k=8, iters=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Exchange" not in plan, plan


def test_fuzzy_pairs_block_join_is_equi(spark, smoke_dir):
    """q115's brand blocking must plan an equi-join (hash/sort-merge or
    broadcast hash), not a nested-loop over all pairs."""
    plan = (
        QUERIES["q115_fuzzy_name_pairs"](spark, smoke_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan), plan

def test_term_joins_never_force_broadcast_unbounded_sides(spark, smoke_dir):
    """q118 joins the token stream to the corpus vocabulary. Vocabulary
    size follows Heaps' law (~n^0.5), so at 100 TB it is tens of GB: a
    hard ``F.broadcast`` hint on it would OOM executors regardless of
    AQE. The only permitted hint in the plan is on the 1-row corpus
    total; the vocab equi-join on ``w`` must carry none, leaving the
    strategy to AQE's measured sizes."""
    df = QUERIES["q118_unigram_logprob"](spark, smoke_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    hints = [
        ln for ln in optimized.splitlines() if "strategy=broadcast" in ln
    ]
    assert len(hints) <= 1, optimized
    for ln in hints:
        assert "(w" not in ln, f"vocab join carries a broadcast hint: {ln}"

def test_pmi_vocab_joins_unhinted_and_no_cartesian(spark, smoke_dir):
    """q126 joins the bigram table to the unigram vocabulary twice: like
    q118, neither vocabulary side may carry a broadcast hint (only the
    two 1-row totals may), and the plan must stay equi-join, never a
    cartesian product."""
    df = QUERIES["q126_pmi_bigrams"](spark, smoke_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    hints = [
        ln for ln in optimized.splitlines() if "strategy=broadcast" in ln
    ]
    assert len(hints) <= 2, optimized
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_sweepline_global_window_only_over_hour_buckets(spark, smoke_dir):
    """q127's distributed prefix sum: exactly ONE single-partition
    exchange is allowed, and it must feed the carry window over the
    O(hours) bucket table. Every window that touches the raw delta
    stream (ordered by ts_us) or the event stream must be partitioned
    (hr / user_id) — a global window over deltas is the sequential
    sweep-line that dies at 100 TB."""
    import re

    plan = (
        QUERIES["q127_session_concurrency"](spark, smoke_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange SinglePartition") == 1, plan
    # Unpartitioned windowspecs open with the ORDER column directly
    # (``windowspecdefinition(col ASC ...``); partitioned ones open with
    # the partition column list. Only hr-ordered carry windows may be
    # unpartitioned.
    for m in re.finditer(r"windowspecdefinition\((\w+)#\d+L? ASC", plan):
        assert m.group(1) == "hr", f"global window over {m.group(1)}: {plan}"


def test_tfidf_candidate_join_is_df_banded_equi(spark, smoke_dir):
    """q131's posting self-join must stay an equi-join on the term ``w``
    with the id_a < id_b dedup condition attached, and the mid-frequency
    df band (2 <= df <= cap) must survive into the optimized plan — the
    band is what bounds candidate fan-out like LSH banding; losing it
    re-creates the quadratic stop-word blowup."""
    import re

    df = QUERIES["q131_tfidf_cosine_pairs"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(
        r"Join \[w#\d+\], \[w#\d+\], Inner, \w+, \(id_a#\d+L < id_b#\d+L\)",
        plan,
    ), plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"df#\d+L >= 2", optimized), optimized
    assert re.search(r"df#\d+L <= \d+", optimized), optimized


def test_pagerank_never_hints_broadcast(spark, smoke_dir):
    """q123: neither the edge list nor the rank table may carry a
    broadcast hint — the edge list is the 100 TB side and the rank table
    is O(nodes); both strategies belong to AQE's measured sizes (the
    q118 never-force-broadcast rule, applied to the iterative join)."""
    df = QUERIES["q123_pagerank"](spark, smoke_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized, optimized
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_bloom_prefilter_applies_bitmap_before_semijoin(spark, smoke_dir):
    """q138: the bloom bitmap must be applied as a FILTER on the fact
    scan (array_contains against the broadcast 1-row bitmap) and the
    exact dedup must stay a LeftSemi equi-join — losing the pre-filter
    silently degrades to a plain semi-join that shuffles the full fact
    table at 100 TB."""
    df = QUERIES["q138_bloom_prefilter_join"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "array_contains" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangle_edges_never_hint_broadcast(spark, smoke_dir):
    """q140: the edge table is data-dependent (can be huge on a dense
    co-occurrence graph) — no join side may carry a broadcast hint, and
    both the wedge join and closure check must stay equi-joins."""
    df = QUERIES["q140_triangle_count"](spark, smoke_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized, optimized
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bm25_query_terms_broadcast_corpus_side_not(spark, smoke_dir):
    """q133: the 3-term query set is the ONLY multi-row side allowed a
    broadcast hint; the tf/dl corpus tables must stay unhinted (AQE
    decides) — force-broadcasting a corpus-sized side is the q118
    scale-killer."""
    df = QUERIES["q133_bm25_topk"](spark, smoke_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    hints = [
        ln for ln in optimized.splitlines() if "strategy=broadcast" in ln
    ]
    # query terms + N + avgdl (two 1-row aggregates) = at most 3 hints
    assert len(hints) <= 3, optimized
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_correlated_subqueries_are_decorrelated(spark, smoke_dir):
    """q146: Catalyst must rewrite both correlated subqueries into joins
    (the EXISTS into a left-semi, the scalar aggregate into an
    aggregate+join) — a plan that re-runs a subquery per outer row is
    the scale-killer the query exists to disprove."""
    df = QUERIES["q146_correlated_subquery"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # A fully decorrelated optimized plan contains NO residual subquery
    # expressions — any 'subquery'/'exists' marker means Catalyst kept a
    # per-row re-execution node.
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "subquery" not in optimized.lower(), optimized
    assert "exists" not in optimized.lower(), optimized


def test_sorted_neighborhood_ranks_partitioned_and_join_equi(spark, smoke_dir):
    """q157: both row_number windows must be partitioned by the prefix
    bucket (per-bucket parallel sorts), the only SinglePartition
    exchanges may feed the metadata-sized bucket-count prefix sums, and
    the candidate join must be an equi-join on the rank block — not a
    cartesian rank-range join."""
    import re

    df = QUERIES["q157_sorted_neighborhood"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # every row_number window is partitioned (opens with the bucket
    # column list, not directly with an ORDER column over p_name)
    for m in re.finditer(r"row_number\(\) windowspecdefinition\((\w+)#", plan):
        assert m.group(1) == "_bkt", plan
    # the neighborhood join is equi on the block id
    assert re.search(r"Join \[_blk#\d+L?\], \[_blk#\d+L?\], Inner", plan), plan
    # unpartitioned windows exist only for the tiny bucket-count prefix
    # sum (ordered by _bkt)
    for m in re.finditer(r"windowspecdefinition\((\w+)#\d+ ASC", plan):
        assert m.group(1) in {"_bkt"}, plan


def test_shipping_priority_pushdown_and_topk(spark, smoke_dir):
    """q158: all three scan predicates (segment, order date, ship date)
    must reach the parquet scans, and the top-10 must be
    TakeOrderedAndProject (per-partition heaps), never a global sort."""
    df = QUERIES["q158_shipping_priority"](spark, smoke_dir)
    pushed = " ".join(p for p in pushed_filters(df))
    for col in ("c_mktsegment", "o_orderdate", "l_shipdate"):
        assert col in pushed, pushed
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_seasonal_baseline_joins_broadcast_no_shuffle_of_events(
    spark, smoke_dir
):
    """q159: the O(types×24) baseline joins back to events as a
    broadcast hash join — re-shuffling the event stream for a 120-row
    lookup is the scale bug the hint prevents."""
    df = QUERIES["q159_seasonal_anomaly"](spark, smoke_dir)
    assert broadcast_joins(df) >= 1, explain_formatted(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_returned_revenue_pushdown_and_topk(spark, smoke_dir):
    """q170 (Q10 shape): the returnflag and order-date predicates must
    reach their parquet scans, and the top-20 must run as
    TakeOrderedAndProject over the aggregate — never a global sort of
    the fact stream."""
    df = QUERIES["q170_returned_revenue"](spark, smoke_dir)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_returnflag", "o_orderdate"):
        assert col in pushed, pushed
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_inactive_high_balance_anti_join_no_cartesian(spark, smoke_dir):
    """q173 (Q22 shape): the NOT EXISTS must plan as a proper anti
    equi-join on custkey. The only nested-loop allowed is the 1-row
    scalar-threshold broadcast; a CartesianProduct or an anti join that
    degraded to a nested loop over orders is the scale bug."""
    df = QUERIES["q173_inactive_high_balance"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan
    # the anti join itself must be hash-based (broadcast or shuffled),
    # not the nested-loop fallback a non-equi condition would force
    anti_lines = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti_lines and all(
        "HashJoin" in ln or "SortMergeJoin" in ln for ln in anti_lines
    ), plan


def test_volume_shipping_no_nested_loop_all_joins_keyed(spark, smoke_dir):
    """q168 (Q7 shape): six-table snowflake with a cross-chain
    disjunctive predicate — every join must stay a keyed hash/merge
    join; the disjunction must NOT force a nested-loop or cartesian
    plan."""
    df = QUERIES["q168_volume_shipping"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, pushed


def test_bigram_lm_count_tables_never_force_broadcast(spark, smoke_dir):
    """q175: the unigram/bigram count tables follow Heaps' law and must
    not carry a broadcast HINT — only AQE may choose broadcast from
    measured sizes (the q118 rule applied to the bigram surface). The
    1-row token total is the only explicit broadcast."""
    import re

    df = QUERIES["q175_bigram_lm_interp"](spark, smoke_dir)
    optimized = str(
        df._jdf.queryExecution().optimizedPlan().toString()
    )
    # ResolvedHint survives into the optimized plan as 'hints=' /
    # 'Join ... rightHint=(strategy=broadcast)' markers; exactly one
    # (the 1-row total) is allowed.
    hints = len(re.findall(r"strategy=broadcast", optimized))
    assert hints <= 1, optimized


def test_market_basket_prefilter_semijoin_before_pair_join(spark, smoke_dir):
    """q178: the A-priori single-item support filter must reach the
    plan as a semi join BEFORE the pair self-join, and the pair join
    must be keyed on the order (no cartesian / nested loop)."""
    df = QUERIES["q178_market_basket"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # exactly one nested loop is allowed: the 1-row n_orders scalar
    # broadcast. The PAIR join itself must be hash-keyed.
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "LeftSemi" in plan, plan


def test_event_pattern_match_no_window_sort(spark, smoke_dir):
    """q179: ordering is in-row (sort_array over collected structs) —
    the plan must contain NO window operator over the event stream; a
    Window here would mean a per-user global sort shuffle crept in."""
    df = QUERIES["q179_event_pattern_match"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_forecast_revenue_all_predicates_pushed(spark, smoke_dir):
    """q194 (Q6 shape): all three conjunctive predicates (ship date,
    discount range, quantity) must reach the parquet scan as pushed
    filters — the end-to-end pushdown query."""
    df = QUERIES["q194_forecast_revenue"](spark, smoke_dir)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_degree_distribution_pair_join_keyed_no_cartesian(spark, smoke_dir):
    """q200: the co-order pair generation must stay an equi self-join
    on l_orderkey — a CartesianProduct or nested loop here means the
    all-pairs-over-the-catalog plan that dies at 100 TB."""
    df = QUERIES["q200_degree_distribution"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_auc_rank_window_over_grouped_scores_only(spark, smoke_dir):
    """q198: the cumulative-rank window must run AFTER the per-score
    aggregation — the window's child subtree must contain the
    HashAggregate, so the single-partition sort sees O(distinct scores)
    rows, never the raw documents table (the naive global per-row rank
    is the formulation that dies at 100 TB)."""
    df = QUERIES["q198_auc_rank"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window" in ln]
    agg_idx = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    assert win_idx, plan
    # executedPlan prints children below parents: at least one
    # HashAggregate must appear BELOW the window operator (its input).
    assert any(a > win_idx[0] for a in agg_idx), plan


def test_daily_acf_lag_join_no_cartesian_lags_broadcast(spark, smoke_dir):
    """q196: the 7-row lag frame must broadcast (its cross join is the
    only nested loop allowed) and the day-pairing join must be a keyed
    equi join on the computed date — no cartesian over the daily
    series."""
    df = QUERIES["q196_daily_acf"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert broadcast_joins(df) >= 1, plan


def test_rake_no_python_and_no_forced_broadcast(spark, smoke_dir):
    """q201: phrase algebra must stay JVM-side (no Python eval in the
    plan) and the Heaps-law word-stats table must not carry a broadcast
    hint — AQE decides from measured sizes (the q118/q175 rule)."""
    import re

    df = QUERIES["q201_rake_keywords"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    optimized = str(df._jdf.queryExecution().optimizedPlan().toString())
    assert not re.findall(r"strategy=broadcast", optimized), optimized


def test_adamic_adar_wedge_join_keyed_no_cartesian(spark, smoke_dir):
    """q204: the wedge join must be an equi join on the shared
    intermediate node — a cartesian or nested loop over the adjacency
    lists is the all-pairs plan the hub prune exists to prevent."""
    df = QUERIES["q204_adamic_adar"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_referential_integrity_single_lazy_plan_keyed_joins(spark, smoke_dir):
    """q205: the audit must be one lazy plan of keyed joins — no
    cartesian, no Python — and the nation/customer/supplier/part parent
    sides must never degrade to nested loops."""
    df = QUERIES["q205_referential_integrity"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_small_qty_avg_decorrelated_single_lineitem_agg(spark, smoke_dir):
    """q207 (Q17 shape): the correlated per-part AVG must appear as ONE
    aggregation joined back on partkey — no nested-loop/cartesian
    per-row subquery execution."""
    df = QUERIES["q207_small_qty_revenue"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_discount_brackets_or_predicate_stays_keyed(spark, smoke_dir):
    """q208 (Q19 shape): the OR-of-ANDs spanning both join sides must
    NOT demote the part-lineitem join to a nested loop — the equi key
    (partkey) joins, the disjunction filters after; and the
    single-table prefilters must reach the scans."""
    df = QUERIES["q208_discount_brackets"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed, pushed
    assert "p_size" in pushed, pushed


def test_profit_snowflake_all_joins_keyed(spark, smoke_dir):
    """q209 (Q9 shape): all four joins of the snowflake must stay keyed
    hash/merge joins, and the part name-pattern filter must prune the
    part side before its join (pushed to the scan)."""
    df = QUERIES["q209_profit_by_nation_year"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    pushed = " ".join(pushed_filters(df))
    assert "p_name" in pushed, pushed


def test_price_brackets_bnlj_is_broadcast_and_deliberate(spark, smoke_dir):
    """q212: the non-equi bracket join must plan as a BROADCAST nested
    loop over the 5-row bounds table — the documented bounded-side
    exception. A CartesianProduct (no broadcast) or a shuffled nested
    loop would mean the bounds table lost its broadcast."""
    df = QUERIES["q212_price_brackets"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_equidepth_histogram_window_after_aggregation(spark, smoke_dir):
    """q216: the cumulative window must consume the per-value
    HashAggregate (O(distinct values)), never the raw orders rows —
    same invariant class as q198's."""
    df = QUERIES["q216_equidepth_histogram"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window" in ln]
    agg_idx = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    assert win_idx, plan
    assert any(a > win_idx[0] for a in agg_idx), plan


def test_fulfillment_latency_window_after_aggregation(spark, smoke_dir):
    """q219: percentile windows run over the latency histogram built by
    the per-order aggregation — the HashAggregate must sit below the
    window operator in the executed plan."""
    df = QUERIES["q219_fulfillment_latency"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window" in ln]
    agg_idx = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    assert win_idx, plan
    assert any(a > win_idx[0] for a in agg_idx), plan


def test_vocab_coverage_rank_over_vocab_not_tokens(spark, smoke_dir):
    """q226: the global rank must consume the vocabulary HashAggregate
    (O(distinct tokens)), never the raw exploded token stream."""
    df = QUERIES["q226_vocab_coverage"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window" in ln]
    agg_idx = [i for i, ln in enumerate(lines) if "HashAggregate" in ln]
    assert win_idx, plan
    assert any(a > win_idx[0] for a in agg_idx), plan


def test_key_gap_audit_extent_join_broadcasts_no_shuffle_join(spark, smoke_dir):
    """q222: the global-extent row (1-row agg of the O(buckets) table)
    must reach the per-bucket side as a BROADCAST nested loop — a
    CartesianProduct or a sort-merge join here would shuffle the bucket
    table just to attach two scalars."""
    df = QUERIES["q222_key_sequence_gaps"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_neyman_rate_table_broadcasts_to_draw_scan(spark, smoke_dir):
    """q227: the 5-row allocation table must broadcast into the draw
    pass over customer — the draw is one scan plus a broadcast hash
    join, never a shuffle of the fact side."""
    df = QUERIES["q227_neyman_sample"](spark, smoke_dir)
    assert broadcast_joins(df) >= 1, explain_formatted(df)


def test_adamic_adar_aggregates_decimal_not_raw_double(spark, smoke_dir):
    """q204: the AA score must be the order-free DECIMAL(38,9) sum of
    1e-9-rounded terms (the determinism contract), not a raw double
    sum whose value depends on task schedule."""
    df = QUERIES["q204_adamic_adar"](spark, smoke_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
    # r15 reshape: the 1e-9 round + decimal cast moved from inside the
    # sum into the wedge-expansion projection (one weight per center,
    # reused by every emitted pair) — the aggregate must still sum THAT
    # decimal column, never a raw double.
    assert "round((1.0 / ln(" in plan, plan
    assert "as decimal(38,9)) as w#" in plan, plan
    assert "sum(w#" in plan, plan


def test_shingle_containment_candidate_join_equi_on_gram(spark, smoke_dir):
    """q142: candidate generation must stay an equi-join on
    (lang, gram) between A's rare-first prefix and B's postings — a
    CartesianProduct / nested loop here is the all-pairs plan the
    AllPairs prefix filter exists to avoid, and any Python eval means
    the gram algebra fell off the JVM."""
    df = QUERIES["q142_shingle_containment"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_recursive_bfs_edges_materialized_outside_recursion(spark, smoke_dir):
    """q147: the recursion body must consume the PRE-MATERIALIZED edge
    table, never re-derive the pair aggregation per level (measured
    8.8 s vs 2.4 s at sf0.1, SCALE.md). The lineitem scan feeding edge
    derivation must therefore appear a BOUNDED number of times in the
    executed plan — re-derivation per recursion level multiplies it."""
    df = QUERIES["q147_recursive_bfs"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Count scans of the lineitem relation itself (identified by its
    # column signature) rather than the "Scan parquet" node label, which
    # is Spark-version and datasource dependent. The recursion body
    # consumes the checkpointed edge RDD, so lineitem's relation appears
    # only in the bounded pre-recursion derivation.
    lineitem_scans = len(re.findall(r"\[l_orderkey#[^\]]*\] parquet", plan))
    assert 1 <= lineitem_scans <= 4, plan
    assert "CartesianProduct" not in plan, plan


def test_countmin_shuffles_cells_not_keys(spark, smoke_dir):
    """q164: the sketch aggregation must reduce to the d*w cell grain —
    the plan's aggregate keys are (j, cell), never the raw part key, so
    the shuffle carries <= 4096 cells regardless of data volume; and the
    probe side must broadcast-join against the cell table. The md5/conv
    sketch stage must also not inherit the fixture's coarse scan split
    (parallelize_stage round-robins it across the session's cores)."""
    import re

    df = QUERIES["q164_countmin_freq"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"HashAggregate\(keys=\[j#\d+, cell#\d+", plan), plan
    assert broadcast_joins(df) >= 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "RoundRobinPartitioning" in plan, plan


def test_tfidf_tokenize_stage_materialized_once(spark, smoke_dir):
    """q131: the term-frequency table feeds three consumers (df counts,
    weights, postings); after the lineage cut the final plan must read
    the checkpointed stage, never re-derive tokenize+count from the
    documents parquet (a branch-count regression silently re-runs the
    most expensive stage per consumer)."""
    df = QUERIES["q131_tfidf_cosine_pairs"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_markov_returned_plan_is_driver_folded_local(spark, smoke_dir):
    """q239 (r9 reshape): the 16-step fixed-point fold runs driver-side
    on the collected O(|event types|²) matrix, so the RETURNED plan must
    be a local scan of the folded vector — no joins, no parquet scan
    (the fact-scale transition count executes during construction, via
    the metadata-sized collect). A Join/parquet reappearing here means
    the 16-chained-jobs shape regressed (2.15 s vs 1.08 s at sf0.1,
    SCALE.md round-9)."""
    df = QUERIES["q239_markov_stationary"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "parquet" not in plan, plan


def test_rfm_per_customer_stage_materialized_once(spark, smoke_dir):
    """q220 (r9): the per-customer orders aggregate feeds four consumers
    (three cutoff legs + the final binning); after the lineage cut the
    executed plan must read the checkpointed stage everywhere and never
    re-scan the orders parquet (each re-scan is a full fact pass at
    100 TB)."""
    df = QUERIES["q220_rfm_segments"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 4, plan


def test_cpu_heavy_stages_do_not_inherit_single_scan_split(spark, smoke_dir):
    """The md5-dominated shingle stage must not run on the scan's
    partitioning when that is a single split (a small consolidated file
    is ONE split regardless of cores — parallelize_stage exists exactly
    for this; losing it silently serializes the dedup pipeline)."""
    from hadoop_trans_spark.catalog import table as _table
    from hadoop_trans_spark.operators.stage import parallelize_stage
    from hadoop_trans_spark.queries.dedup import clear_stage_memo, grams3_table

    clear_stage_memo({"grams3"})
    g = grams3_table(spark, smoke_dir)
    assert g.rdd.getNumPartitions() > 1, g.rdd.getNumPartitions()

    # and the helper is a no-op when the input is already parallel
    li = _table(spark, smoke_dir, "lineitem").repartition(64)
    assert parallelize_stage(li) is li


def test_holt_fold_single_fact_aggregation_no_python(spark, smoke_dir):
    """q203: the fact table must collapse to the O(days) series in ONE
    hash aggregate; the Holt recurrence is a JVM array fold
    (F.aggregate) over that metadata-sized series — no Python eval, no
    window over the raw facts, no second scan of lineitem."""
    df = QUERIES["q203_holt_forecast"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    # q203 reads only lineitem, column-pruned to (l_shipdate,
    # l_extendedprice) — exactly one parquet scan in the whole plan.
    # Node renders as `FileScan parquet [cols...]` (physical) or
    # `Relation [cols...] parquet` (logical reuse subtree).
    parquet_scans = len(
        re.findall(r"parquet \[l_\w+#|\[l_\w+#[^\]]*\] parquet", plan)
    )
    assert parquet_scans == 1, plan
    assert "l_extendedprice" in plan and "l_shipdate" in plan, plan


def test_embedding_covariance_no_exploded_self_join(spark, smoke_dir):
    """q211: the Gram matrix must come from IN-ROW outer products +
    one (i, j)-keyed agg with map-side combine — a self-join of the
    exploded (vec, dim) table is the O(N·d²)-shuffle plan this design
    exists to avoid. Only the two tiny mean tables may join, and they
    must broadcast."""
    df = QUERIES["q211_embedding_covariance"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_audience_jaccard_user_keyed_self_join_broadcast_sizes(spark, smoke_dir):
    """q231: the pairwise intersection must be an equi self-join keyed
    on user_id (fan-out bounded by types-per-user², ≤25) and the two
    audience-size tables must broadcast — a shuffle join on the
    O(|types|) size tables or a cartesian over audiences is wrong at
    any scale."""
    df = QUERIES["q231_audience_jaccard"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_binaryfile_source_refuses_driver_local_dir_on_cluster():
    """q150's executor-side blob writes land in a driver-created local
    tempdir by default; that is only coherent when driver and executors
    share a filesystem (local mode). On a real cluster the default must
    be REFUSED loudly, not silently produce an empty read-back."""
    from hadoop_trans_spark.queries.sources_io import q150_binaryfile_source

    class _FakeSC:
        master = "yarn"

    class _FakeSpark:
        sparkContext = _FakeSC()

    with pytest.raises(ValueError, match="shared storage"):
        q150_binaryfile_source(_FakeSpark(), "unused")


def test_sweep_window_matches_computed_rotation():
    """The driver verifies exactly the FIRST 50 registered queries, so a
    stale _SWEEP_PRIORITY wastes the round's external verification —
    the #1 verdict finding in rounds 3 AND 4. This test goes red the
    moment new CORRECTNESS_r*.json history makes the committed window
    stale; the fix is one command:

        python tools/rotate_sweep.py   # then commit the rewritten file
    """
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "tools/rotate_sweep.py", "--check"],
        capture_output=True,
        text=True,
        cwd=__file__.rsplit("/tests/", 1)[0],
    )
    assert r.returncode == 0, f"{r.stdout}\n{r.stderr}"


def test_sweep_check_treats_post_commit_correctness_file_as_pending():
    """r12 verdict item 1: the driver drops CORRECTNESS_r{N}.json AFTER
    the builder's last commit, which made `--check` (and the tripwire
    test above) red at judge time in five rounds. `pending_rounds` must
    classify an untracked/modified CORRECTNESS file as pending; a file
    already incorporated in HEAD must NOT be pending (so a builder who
    forgets to rotate still trips the check)."""
    import importlib.util
    import os
    from unittest import mock

    repo = __file__.rsplit("/tests/", 1)[0]
    spec = importlib.util.spec_from_file_location(
        "rotate_sweep", os.path.join(repo, "tools", "rotate_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    class _R:
        def __init__(self, stdout):
            self.stdout = stdout

    # untracked r13 file + modified r12 file -> both pending
    with mock.patch.object(
        mod.subprocess,
        "run",
        return_value=_R("?? CORRECTNESS_r13.json\n M CORRECTNESS_r12.json\n"),
    ):
        assert mod.pending_rounds() == frozenset({12, 13})
    # clean tree -> nothing pending (forgot-to-rotate stays a hard fail)
    with mock.patch.object(mod.subprocess, "run", return_value=_R("")):
        assert mod.pending_rounds() == frozenset()
    # not a git checkout -> degrade to the strict behavior
    with mock.patch.object(
        mod.subprocess, "run", side_effect=OSError("no git")
    ):
        assert mod.pending_rounds() == frozenset()
    # compute_window must honour the exclusion: excluding a round means
    # its rows do not advance any query's vintage
    rounds = {2: {"qa": {"hash_match": True}}, 3: {"qa": {"hash_match": True}}}
    last_round, _ = mod.latest_status(rounds, {"qa"})
    assert last_round == {"qa": 3}
    last_round, _ = mod.latest_status(
        {k: v for k, v in rounds.items() if k != 3}, {"qa"}
    )
    assert last_round == {"qa": 2}


def test_every_declared_query_has_a_third_engine_model():
    """Round 9 closed the third-engine model gap (241/241 queries have
    an independent non-SQL rederivation in tests/test_third_engine_*.py
    — the COVERAGE.md ledger column). This tripwire keeps it closed: a
    new query registered without a third-engine model goes red here,
    enforcing the standing rule that every formula-carrying query ships
    with a model that bypasses the repo-authored SQL (the Spark query
    and its DuckDB oracle share that SQL, so they can share a
    misconception; the model tier cannot)."""
    import importlib.util
    import os

    repo = __file__.rsplit("/tests/", 1)[0]
    spec = importlib.util.spec_from_file_location(
        "update_coverage", os.path.join(repo, "tools", "update_coverage.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from hadoop_trans_spark.queries import QUERIES

    ledger = mod.third_engine_models(list(QUERIES))
    unmodeled = sorted(q for q, files in ledger.items() if not files)
    assert not unmodeled, (
        "queries without a third-engine model (add one to a "
        f"tests/test_third_engine_*.py file): {unmodeled}"
    )


def test_readme_query_counts_match_the_registry():
    """README states the size of the query surface twice ("N queries",
    "N/N ledger"); both must equal the registry, so the count cannot
    drift from QUERIES again."""
    import os

    repo = __file__.rsplit("/tests/", 1)[0]
    with open(os.path.join(repo, "README.md"), encoding="utf-8") as f:
        text = f.read()
    stated = re.findall(r"\b(\d+) queries\b", text)
    ledger = re.findall(r"\b(\d+)/(\d+) ledger\b", text)
    assert stated and ledger
    n = str(len(QUERIES))
    assert set(stated) == {n}, stated
    assert all(a == b == n for a, b in ledger), ledger


def test_third_engine_credit_requires_code_token_not_prose(tmp_path):
    """ADVICE r9: a docstring or comment saying "same shape as q40" in an
    unrelated third-engine test must NOT credit q40 in the COVERAGE.md
    ledger — only the full query name as a code token (identifier or a
    non-docstring string constant, the form that actually executes the
    query) counts. The short qNN prose form never credits."""
    import importlib.util
    import os

    repo = __file__.rsplit("/tests/", 1)[0]
    spec = importlib.util.spec_from_file_location(
        "update_coverage", os.path.join(repo, "tools", "update_coverage.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    (tmp_path / "test_third_engine_fake.py").write_text(
        '"""Module prose mentioning q03_filter_predicates in full."""\n'
        "def test_a(spark):\n"
        '    """Same shape as q40 and q41_simhash; see q42_ngram_jaccard."""\n'
        "    # comment name-dropping q01_pricing_summary\n"
        '    run("q02_projection_cast")\n'
        "    q05 = 1  # bare identifier must not credit q05_revenue_by_nation\n"
        "    return q05\n"
    )
    queries = [
        "q01_pricing_summary",
        "q02_projection_cast",
        "q03_filter_predicates",
        "q05_revenue_by_nation",
        "q40_minhash_lsh_neardup",
        "q41_simhash",
        "q42_ngram_jaccard",
    ]
    ledger = mod.third_engine_models(queries, tests_dir=str(tmp_path))
    assert ledger == {
        "q01_pricing_summary": "",  # comment prose
        "q02_projection_cast": "fake",  # executed via string literal
        "q03_filter_predicates": "",  # module docstring prose
        "q05_revenue_by_nation": "",  # unrelated identifier prefix
        "q40_minhash_lsh_neardup": "",  # qNN prose name-drop
        "q41_simhash": "",  # full name, but docstring prose
        "q42_ngram_jaccard": "",  # full name, but docstring prose
    }


def test_sweep_latest_status_wins_by_round_number_not_filename_order():
    """A red in r2 overridden by a green in r10 must read green even
    though 'r10' sorts lexicographically before 'r2' — the rotation
    (and COVERAGE) must key on the parsed round NUMBER."""
    import importlib.util
    import os

    repo = __file__.rsplit("/tests/", 1)[0]
    spec = importlib.util.spec_from_file_location(
        "rotate_sweep", os.path.join(repo, "tools", "rotate_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = {"rows_match": False, "schema_match": True, "hash_match": False}
    rounds = {10: {"qx": green}, 2: {"qx": red, "qy": green}}
    last_round, last_ok = mod.latest_status(rounds, {"qx", "qy"})
    assert last_round == {"qx": 10, "qy": 2}
    assert last_ok == {"qx": True, "qy": True}
    # and the reverse: a red in the LATER round must win over old green
    rounds = {10: {"qx": red}, 2: {"qx": green}}
    _, last_ok = mod.latest_status(rounds, {"qx"})
    assert last_ok == {"qx": False}


def test_sweep_reshape_pins_outrank_green_vintage_until_reproven():
    """A RESHAPED pin (code reshaped in round R, latest driver row from
    an EARLIER round) must sort ahead of ordinary green re-confirmations
    — the old green proved pre-reshape code — and must self-clear once a
    row with round >= R exists, so stale pin entries are inert."""
    import importlib.util
    import os

    repo = __file__.rsplit("/tests/", 1)[0]
    spec = importlib.util.spec_from_file_location(
        "rotate_sweep", os.path.join(repo, "tools", "rotate_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    assert mod.RESHAPED.get("q110") == 6  # the round-6 pin set
    # stale green (r3 row, reshape r6): bucket 2 — after never-checked
    # (0) and reds (1), BEFORE plain greens (3) of ANY vintage
    try:
        mod.RESHAPED["q998"] = 6
        green = {"rows_match": True, "schema_match": True, "hash_match": True}

        def key_for(name, rounds):
            last_round, last_ok = mod.latest_status(rounds, {name})
            return mod.priority_key(name, last_round, last_ok)

        pinned = key_for("q998_reshaped", {3: {"q998_reshaped": green}})
        oldest_green = key_for("q001_old", {2: {"q001_old": green}})
        assert pinned < oldest_green, (pinned, oldest_green)
        # post-reshape row (r6 >= pin round 6): pin inert, plain green
        reproven = key_for("q998_reshaped", {6: {"q998_reshaped": green}})
        assert reproven[0] == 3, reproven
    finally:
        del mod.RESHAPED["q998"]


def test_approx_distinct_sketches_built_per_flag_not_per_key(spark, smoke_dir):
    """q12: the HLL sketch (rsd=0.01 -> ~13 KB of buffer per partial row)
    must be built only at per-flag granularity. Mixing countDistinct and
    approx_count_distinct in one agg makes Spark attach the sketch to
    every (flag, orderkey) partial row, shuffling |distinct keys| x 13 KB
    (~27 s at sf0.1, catastrophic at 100 TB). The dedup-first shape keeps
    l_orderkey out of every sketch-building aggregate's grouping keys."""
    df = QUERIES["q12_approx_distinct"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sketch_lines = [
        ln for ln in plan.splitlines() if "approx_count_distinct" in ln
    ]
    assert sketch_lines, plan
    for ln in sketch_lines:
        m = re.search(r"keys=\[([^\]]*)\]", ln)
        assert m is not None, ln
        assert "l_orderkey" not in m.group(1), ln


def test_hll_intersection_sketches_built_per_segment_not_per_user(
    spark, smoke_dir
):
    """q192: same contract as q12 — the lgConfigK=14 sketch (KB-sized
    partial buffer) must be built only at per-event_type granularity,
    never per (event_type, user_id) partial row. The dedup-first shape
    keeps user_id out of every sketch-building aggregate's keys."""
    df = QUERIES["q192_hll_intersection"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sketch_lines = [ln for ln in plan.splitlines() if "hll_sketch_agg" in ln]
    assert sketch_lines, plan
    for ln in sketch_lines:
        m = re.search(r"keys=\[([^\]]*)\]", ln)
        assert m is not None, ln
        assert "user_id" not in m.group(1), ln


@pytest.mark.parametrize(
    "name",
    [
        "q198_auc_rank",
        "q216_equidepth_histogram",
        "q232_gini_spend",
        "q233_ks_test",
        "q240_lorenz_curve",
        "q241_odds_ratio",
        "q220_rfm_segments",
    ],
)
def test_cumulative_histograms_are_band_partitioned(name, spark, smoke_dir):
    """The distinct-value cumulative histograms (ECDF / percentile-disc
    family) must run their running totals through banded_cumsum: the
    executed plan carries a window PARTITIONED on the band column
    (_bkt), so no single task ever sorts the whole distinct-value
    table — distinct near-continuous values scale with the data. The
    only unpartitioned windows left consume metadata-sized frames (the
    band-offsets table, literal bin frames)."""
    from hadoop_trans_spark.operators.stage import MATERIALIZED_PLANS

    MATERIALIZED_PLANS.clear()
    df = QUERIES[name](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # r15: q216 materializes its cumulative table for its two consumer
    # branches, which cuts the banded window below the checkpoint — the
    # lock follows it into the materialized-stage plans (the window must
    # still execute banded SOMEWHERE on the query's path).
    everywhere = plan + "\n".join(MATERIALIZED_PLANS)
    assert "_bkt" in everywhere, f"{name}: banded window missing\n{plan}"
    assert "CartesianProduct" not in plan, plan


def test_key_skew_profile_needs_no_per_key_rank(spark, smoke_dir):
    """q137: the Gini rank sum folds to the distinct-count histogram
    (consecutive-rank identity), so NO row_number / rank window may
    appear in the plan at all — the former per-key global rank pushed
    every distinct key through one task."""
    df = QUERIES["q137_key_skew_profile"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan, plan
    assert "percentile" in plan, plan


def test_vocab_coverage_rank_after_distributed_top1000(spark, smoke_dir):
    """q226: only ranks <= 1000 contribute, so the rank window must sit
    above a TakeOrderedAndProject(limit=1000) — per-partition partial
    top-k — never over the full vocabulary (the q133/q188 shape)."""
    df = QUERIES["q226_vocab_coverage"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=1000" in plan, plan


def test_token_ids_rank_is_frequency_banded(spark, smoke_dir):
    """q130: the vocabulary id assignment must carry the two-level
    (count, token-prefix) banded windows — partition markers _p from
    freq_banded_ids — never a single unpartitioned row_number over the
    whole vocab table."""
    df = QUERIES["q130_token_ids"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_p" in plan, plan
    win_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert win_lines, plan
    for ln in win_lines:
        assert "_p" in ln, ln  # every rank window is band-partitioned


def test_decile_lift_ntile_is_banded_rank(spark, smoke_dir):
    """q182: the decile cut must come from the banded global row number
    (partition marker _bkt) plus the closed-form NTILE arithmetic — the
    plain ntile window is a single-task global sort of every customer."""
    df = QUERIES["q182_decile_lift"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_bkt" in plan, plan
    assert "ntile" not in plan, plan


def test_inverted_index_postings_rank_limited(spark, smoke_dir):
    """q110: the 10-id posting prefix must come from a rank-limited
    per-term window (WindowGroupLimit partial top-k) so no aggregation
    buffer ever holds a stopword-sized posting list; collect_list runs
    over at most 10 rows per term."""
    df = QUERIES["q110_inverted_index"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_salted_join_partitions_on_salt_and_spreads_hot_key(spark):
    """The point of operators/skew.salted_join (SCALE.md round-9
    measured A/B: 1.5x on a 90%-hot key that AQE declined to split):
    the shuffle must hash-partition on (key, __salt), and one hot key's
    joined rows must then land in MULTIPLE shuffle partitions — the
    plain join pins every hot-key row to one partition, the straggler
    the salt exists to break up."""
    from hadoop_trans_spark.operators.skew import salted_join

    big = spark.range(640).select(F.lit(1).alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([(1, "x")], "k long, tag string")
    df = salted_join(big.hint("merge"), small.hint("merge"), on="k", n_salt=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan and "hashpartitioning" in plan, plan

    # Behavioral spread: with AQE partition-coalescing off, partition ids
    # observed through the public API reflect the join's hash partitioning
    # directly (deterministic: xxhash64 and hashpartitioning are fixed
    # functions of the input rows and salt count).
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        salted_pids = (
            salted_join(big.hint("merge"), small.hint("merge"), on="k", n_salt=16)
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
        plain_pids = (
            big.hint("merge")
            .join(small.hint("merge"), "k")
            .select(F.spark_partition_id().alias("pid"))
            .distinct()
            .count()
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert plain_pids == 1, plain_pids
    assert salted_pids >= 4, salted_pids


def test_dynamic_partition_pruning_fires_on_dim_filter(spark, smoke_dir, tmp_path):
    """A partitioned fact joined to a selectively-filtered dim must scan
    only the surviving partitions via DPP — at 100 TB this is the
    difference between reading one month and reading the whole table.
    Verified to actually fire in this build (round-9 probe); this lock
    exists because the same probe found AQE skew-split silently NOT
    firing — runtime-optimizer behaviors get tested, not assumed."""
    path = str(tmp_path / "li_month")
    li = table(spark, smoke_dir, "lineitem").withColumn(
        "par_dt", F.date_format("l_shipdate", "yyyyMM")
    )
    li.write.partitionBy("par_dt").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("199601", 1), ("199702", 2)], "par_dt string, grp int"
    ).where(F.col("grp") == 1)
    df = fact.join(dim, "par_dt").groupBy("grp").agg(F.count("*").alias("n"))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_aqe_converts_smj_to_broadcast_when_side_shrinks(spark, smoke_dir):
    """q05's scale note leans on AQE re-planning when a join side turns
    out small post-filter. Verified firing in this build (round-9 probe,
    same discipline as the DPP lock / the skew-split finding): with
    static broadcast off and the adaptive threshold on, a statically
    SMJ-planned join whose filtered side shrinks at runtime must execute
    as a BroadcastHashJoin."""
    static_key = "spark.sql.autoBroadcastJoinThreshold"
    adaptive_key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    old_static = spark.conf.get(static_key, None)
    old_adaptive = spark.conf.get(adaptive_key, None)
    spark.conf.set(static_key, "-1")
    spark.conf.set(adaptive_key, "64m")
    try:
        li = table(spark, smoke_dir, "lineitem")
        o = table(spark, smoke_dir, "orders")
        # md5 prefix: selectivity invisible to static stats
        o_small = o.where(
            F.md5(F.col("o_orderkey").cast("string")).startswith("0")
        )
        df = (
            li.join(o_small, li.l_orderkey == o_small.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        initial = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in initial, initial
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in final, final
    finally:
        for key, old in ((static_key, old_static), (adaptive_key, old_adaptive)):
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)


def test_range_clustered_layout_skips_row_groups(spark, smoke_dir, tmp_path):
    """The premise of q96 z-order / q180 range-clustering: a layout
    sorted on the filter key confines a selective range predicate to
    the few row groups whose min/max overlap it — parquet footers are
    what Spark's reader prunes on, so assert on them directly (wall
    clock hides this locally behind the page cache; at 100 TB it is
    the difference between reading one file and reading them all)."""
    import glob

    import pyarrow.parquet as pq

    li = table(spark, smoke_dir, "lineitem").select("l_orderkey", "l_quantity")
    clustered = str(tmp_path / "clustered")
    shuffled = str(tmp_path / "shuffled")
    (
        li.repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.parquet(clustered)
    )
    li.repartition(8).write.parquet(shuffled)

    lo, hi = 100, 200

    def overlapping(path: str) -> tuple[int, int]:
        total = hit = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }["l_orderkey"]
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                total += 1
                if st.min <= hi and st.max >= lo:
                    hit += 1
        return hit, total

    c_hit, c_total = overlapping(clustered)
    s_hit, s_total = overlapping(shuffled)
    # range partitioning makes key ranges disjoint: at most the one
    # partition holding [lo, hi] (plus a boundary neighbour) overlaps
    assert c_hit <= 2, (c_hit, c_total)
    # a hash-shuffled layout scatters the range across every file
    assert s_hit >= s_total // 2, (s_hit, s_total)
    # and both layouts return identical rows for the predicate
    pred = (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi)
    assert (
        spark.read.parquet(clustered).where(pred).count()
        == spark.read.parquet(shuffled).where(pred).count()
    )


def test_null_text_exclusion_pushed_to_parquet_scan(spark, smoke_dir):
    """The r10 NULL-probe rule (contentless docs excluded from content
    dedup) must cost nothing at scale: the text IS NOT NULL filter has
    to reach the parquet scan as a pushed filter, so row groups whose
    stats show all-null text are skipped before any shingle CPU. Locks
    the grams3 build shape (pre-checkpoint — the memoized stage hides
    the scan once materialized)."""
    from pyspark.sql import functions as F

    from hadoop_trans_spark.catalog import table
    from hadoop_trans_spark.operators.minhash import shingle_array

    build = (
        table(spark, smoke_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("id"), shingle_array("text", 3).alias("grams")
        )
    )
    plan = build._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines, plan
    assert any("IsNotNull(text)" in ln for ln in scan_lines), plan


def test_span_dedup_counts_never_pairs(spark, smoke_dir):
    """q252 (repeated-span dedup): duplicate detection must be a
    count-over-partition on the window fingerprint — ONE hash shuffle
    on h, one on doc_id for the islands merge (reused by the span
    groupBy), and NO self-join of windows (a pairing plan would be
    C(k,2) on hot boilerplate windows). The orderBy range exchange is
    the only other exchange allowed."""
    df = QUERIES["q252_span_dedup"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    hash_ex = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    keys = [k.split("#")[0] for k in hash_ex]
    assert sorted(keys) == ["doc_id", "h"], plan


def test_span_removal_single_election_shuffle(spark, smoke_dir):
    """q255 (span removal): canonical election must be ONE Window node
    over ONE hash exchange on h (count + row_number share the ordered
    spec); the only other exchanges are the removal-position distinct
    on (doc_id, pos) and the per-doc rebuild on doc_id — n_removed is
    derived from the kept side so the election subtree is planned
    ONCE. No pair join anywhere (ExactSubstr counts and ranks, never
    pairs)."""
    df = QUERIES["q255_span_removal"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    hash_ex = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    keys = [k.split("#")[0] for k in hash_ex]
    assert sorted(keys) == ["doc_id", "doc_id", "h"], plan
    assert plan.count("Window ") == 1, plan


def test_incremental_span_dedup_semi_join_only(spark, smoke_dir):
    """q257 (incremental span dedup): detection must be a LEFT SEMI
    equi-join of new-batch windows against the distinct corpus index —
    no pair join, no cartesian; exchanges are the index distinct on h,
    the join sides, and the islands merge on doc_id."""
    df = QUERIES["q257_incremental_span_dedup"](spark, smoke_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "LeftSemi" in plan, plan
    hash_ex = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    keys = sorted(k.split("#")[0] for k in hash_ex)
    assert set(keys) <= {"doc_id", "h"}, plan
