"""Round-4 analytics additions: skyline/Pareto frontier, chi-square
feature selection, weighted median, sorted-neighborhood dedup blocking,
TPC-H-Q3/Q18-shaped star joins, seasonal hour-of-day anomaly baselines,
OHLC bars, and incremental materialized-view maintenance (SURVEY §2C
extensions; no counterpart in the reference, which only migrates
partition bytes — TransTablePartition.java:46-80).

Scale notes per query live in each docstring; the shared rule is the
repo-wide one: every shuffle is keyed (bucket id, term, group), the only
unpartitioned windows run over metadata-sized aggregates (bucket-count
tables, 120-row baselines), and no per-row Python touches a data path —
the two ``applyInPandas`` sweeps in the skyline operator work on local
frontiers, the algebraically-prunable representation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..operators.cooccur import copurchase_pairs
from ..operators.globalrank import (
    banded_cumsum,
    global_row_number,
    global_row_number_banded,
)
from ..operators.skyline import pareto_frontier
from .base import (
    DEC,
    _dec_out,
    dround,
    dsum,
    dterm,
    o_davg,
    o_dec_out,
    o_dround,
    o_dsum,
    o_dterm,
    query,
    ts_micros,
)


@query(
    "q154_pareto_frontier",
    # Oracle states dominance declaratively (NOT EXISTS a strictly
    # better part) — O(n²) and fine at sf0.01; the Spark side is the
    # scalable local-prune/global-refine decomposition. No floats are
    # derived: price/size pass through from parquet, so equality is
    # exact in both engines.
    oracle="""
    SELECT p.p_partkey,
           p.p_retailprice AS price,
           CAST(p.p_size AS BIGINT) AS size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    ORDER BY p.p_partkey
    """,
)
def q154_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier / skyline query (cheapest-price vs largest-size
    parts nobody strictly beats) via ``operators/skyline.py``: per-bucket
    local frontier sweeps in parallel, then one frontier-sized refine —
    never the quadratic dominance self-join the oracle uses. At 100 TB
    the first phase is one hash shuffle on the bucket id and the refine
    input is the union of ≤32 local frontiers, output-sized; the
    adversarial worst case (everything on one frontier) is the problem's
    own output size, not a plan artifact."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )
    return pareto_frontier(p, low="price", high="size").orderBy("p_partkey")


@query(
    "q155_chisq_terms",
    # Counts are exact integers in both engines; the chi² arithmetic is
    # written with IDENTICAL operand order so the IEEE-double result is
    # bitwise equal, then rounded at 1e-6 (repo determinism pattern).
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, g AS w
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '[^a-z]+')) AS g
              FROM documents)
        WHERE length(g) >= 3
    ),
    lab AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS y FROM documents),
    tot AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(lang = 'en' AS BIGINT)) AS BIGINT) AS n_pos
        FROM documents
    ),
    per AS (
        SELECT t.w,
               COUNT(*) AS df,
               CAST(SUM(CAST(l.y AS BIGINT)) AS BIGINT) AS df_pos
        FROM toks t JOIN lab l ON t.doc_id = l.doc_id
        GROUP BY t.w
        HAVING COUNT(*) >= 10
    )
    SELECT w AS term, df, df_pos,
           CAST(ROUND(
               (CAST(n AS DOUBLE)
                * CAST(df_pos * (n - n_pos - df + df_pos)
                       - (df - df_pos) * (n_pos - df_pos) AS DOUBLE)
                * CAST(df_pos * (n - n_pos - df + df_pos)
                       - (df - df_pos) * (n_pos - df_pos) AS DOUBLE))
               / (CAST(df AS DOUBLE) * (n - df) * n_pos * (n - n_pos)),
               6) AS DOUBLE) AS chi2
    FROM per CROSS JOIN tot
    ORDER BY chi2 DESC, term
    LIMIT 20
    """,
)
def q155_chisq_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: which terms are most associated
    with the ``lang = 'en'`` label — the classic supervised
    vocabulary-selection step of a text classifier pipeline. One explode
    → distinct (doc, term) → one hash aggregate per term carrying both
    the document frequency and the positive-class frequency; corpus
    totals ride as a 1-row broadcast, so chi² is a pure projection. The
    2×2 contingency margins (a=df_pos, b=df−df_pos, c=n_pos−df_pos,
    d=n−n_pos−df+df_pos) come from integer counts only; products stay
    under 2^53 through the double conversions, and operand order matches
    the oracle so the doubles agree bitwise before the 1e-6 round. At
    100 TB this is exactly the TF-IDF/vocab shuffle shape (q77/q87):
    shard by term, no corpus-wide state beyond the 1-row totals."""
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"),
        )
        .where(F.length("w") >= 3)
        .distinct()
    )
    lab = d.select("doc_id", (F.col("lang") == "en").cast("int").alias("y"))
    tot = d.agg(
        F.count("*").alias("n"),
        F.sum((F.col("lang") == "en").cast("bigint")).alias("n_pos"),
    )
    per = (
        toks.join(lab, "doc_id")
        .groupBy("w")
        .agg(
            F.count("*").alias("df"),
            F.sum(F.col("y").cast("bigint")).alias("df_pos"),
        )
        .where(F.col("df") >= 10)
    )
    n, n_pos = F.col("n"), F.col("n_pos")
    df_, a = F.col("df"), F.col("df_pos")
    diff = (a * (n - n_pos - df_ + a) - (df_ - a) * (n_pos - a)).cast(
        "double"
    )
    chi2 = F.round(
        (n.cast("double") * diff * diff)
        / (df_.cast("double") * (n - df_) * n_pos * (n - n_pos)),
        6,
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("w").alias("term"), "df", "df_pos", chi2.alias("chi2")
        )
        .orderBy(F.col("chi2").desc(), "term")
        .limit(20)
    )


@query(
    "q156_weighted_median",
    # Cumulative weights are exact decimals, so the threshold compare
    # 2*cw >= total has no float boundary; prices pass through exactly.
    oracle="""
    WITH pre AS (
        SELECT l_returnflag AS f, l_extendedprice AS p,
               SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_quantity) THEN (l_quantity) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_quantity) THEN (l_quantity) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_quantity) THEN (l_quantity) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_quantity) THEN (l_quantity) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT f, p, SUM(w) OVER (PARTITION BY f ORDER BY p) AS cw
        FROM pre
    ),
    tot AS (SELECT f, SUM(w) AS t FROM pre GROUP BY 1)
    SELECT cum.f AS l_returnflag, MIN(cum.p) AS weighted_median
    FROM cum JOIN tot ON cum.f = tot.f
    WHERE 2 * cum.cw >= tot.t
    GROUP BY 1 ORDER BY 1
    """,
)
def q156_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted median extended price per
    return flag): pre-aggregate to distinct (flag, price) levels FIRST —
    that collapses the per-flag ordered window from billions of rows to
    the bounded price domain, which is what makes the cumulative-weight
    scan safe at 100 TB (the window sorts distinct price levels, not
    line items; the heavy lifting is the leading hash aggregate with
    map-side combine). Weights accumulate in DECIMAL(38,6), so the
    half-total threshold is exact in both engines — the usual
    float-cumsum nondeterminism under re-partitioning cannot occur."""
    li = table(spark, sf_dir, "lineitem")
    pre = li.groupBy(
        F.col("l_returnflag").alias("f"),
        F.col("l_extendedprice").alias("p"),
    ).agg(F.sum(dterm("l_quantity", 6)).alias("w"))
    cum = pre.withColumn(
        "cw",
        F.sum("w").over(
            Window.partitionBy("f")
            .orderBy("p")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    tot = pre.groupBy("f").agg(F.sum("w").alias("t"))
    return (
        cum.join(tot, "f")
        .where(F.lit(2) * F.col("cw") >= F.col("t"))
        .groupBy(F.col("f").alias("l_returnflag"))
        .agg(F.min("p").alias("weighted_median"))
        .orderBy("l_returnflag")
    )


@query(
    "q157_sorted_neighborhood",
    oracle="""
    WITH ranked AS (
        SELECT p_partkey, p_name,
               ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rn
        FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM ranked a JOIN ranked b
      ON b.rn BETWEEN a.rn + 1 AND a.rn + 5
    WHERE levenshtein(a.p_name, b.p_name) <= 6
    ORDER BY id_a, id_b
    """,
)
def q157_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (the third classic blocking
    family next to LSH bands q40 and q-gram prefixes q42/q115): sort the
    corpus by a fuzzy key, compare only rows within a w=5 window of the
    global order, verify candidates with edit distance. The global rank
    comes from ``operators/globalrank.py`` — per-prefix-bucket sorts plus
    a broadcast prefix-sum of bucket counts, NOT a single-partition
    window — and the neighborhood join is an EQUI-join on the w-sized
    rank block with ±1 fan-out (same cell trick as the q153 geo join),
    so candidate cost is w·n, never quadratic, and the shuffle key is
    the block id. Edit distance runs JVM-side (``F.levenshtein``) on
    candidates only."""
    w = 5
    p = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    ranked = global_row_number(
        p, order_cols=["p_name", "p_partkey"], rank_col="rn"
    )
    blk = F.floor((F.col("rn") - 1) / w)
    lhs = (
        ranked.withColumn("_blk0", blk)
        .crossJoin(
            F.broadcast(
                spark.range(0, 2).select(F.col("id").alias("_d"))
            )
        )
        .select(
            F.col("p_partkey").alias("id_a"),
            F.col("p_name").alias("name_a"),
            F.col("rn").alias("rn_a"),
            (F.col("_blk0") + F.col("_d")).alias("_blk"),
        )
    )
    rhs = ranked.select(
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("rn").alias("rn_b"),
        blk.alias("_blk"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        lhs.join(rhs, "_blk")
        .where(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") <= F.col("rn_a") + w)
        )
        .where(dist <= 6)
        .select("id_a", "id_b", dist.cast("bigint").alias("dist"))
        .orderBy("id_a", "id_b")
    )


@query(
    "q158_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15'
      AND l.l_shipdate > TIMESTAMP '1997-03-15'
    GROUP BY l.l_orderkey, order_day, o.o_orderpriority
    ORDER BY revenue DESC, order_day, l.l_orderkey
    LIMIT 10
    """,
)
def q158_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: unshipped-revenue top 10 for
    one market segment — the canonical selective star join. Both date
    predicates and the segment filter push to the parquet scans; the
    segment-filtered customer side joins orders on custkey, the result
    joins lineitem on orderkey (both plain equi-shuffles AQE can
    re-plan), and revenue sums through DECIMAL(38,6) so the top-10 cut
    ties identically across engines. The final top-k is
    TakeOrderedAndProject (per-partition heaps + driver merge of 10
    rows), not a global sort."""
    c = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1997-03-15"
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1997-03-15"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            "o_orderpriority",
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "order_day", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "order_day", "l_orderkey")
        .limit(10)
    )


@query(
    "q159_seasonal_anomaly",
    # mean and E[v²] are decimal-exact then rounded at 1e-6; the
    # anomaly test compares SQUARED residual to 9·variance (no sqrt)
    # and rounds the difference (magnitude-capped, dround) before the
    # strict >0, so a boundary event cannot flip between engines.
    # Exact-moment domain: |value| < 1e7 (value² must stay inside the
    # per-term 2^53 envelope); corrupt-magnitude readings are excluded
    # symmetrically, like non-finite (r11 extreme probe). ABS(NULL)
    # comparisons keep NULL rows, ABS(NaN/inf) excludes them.
    oracle=f"""
    WITH e AS (
        SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr, value
        FROM events
        WHERE value IS NULL OR ABS(value) < 10000000.0
    ),
    s AS (
        SELECT event_type, hr, COUNT(*) AS n,
               {o_davg("value", count="COUNT(*)")} AS mean_v,
               {o_davg("value * value", count="COUNT(*)")} AS m2
        FROM e GROUP BY 1, 2
    )
    SELECT e.event_type, e.hr,
           COUNT(*) AS n,
           MAX(s.mean_v) AS mean_v,
           CAST({o_dround('MAX(s.m2) - MAX(s.mean_v) * MAX(s.mean_v)', 6)}
                AS DOUBLE) AS variance,
           CAST(SUM(CAST({o_dround(
                    '(e.value - s.mean_v) * (e.value - s.mean_v)'
                    ' - 9 * ' + o_dround(
                        's.m2 - s.mean_v * s.mean_v', 6), 6)}
                    > 0 AS BIGINT)) AS BIGINT) AS n_anomalies
    FROM e JOIN s ON e.event_type = s.event_type AND e.hr = s.hr
    GROUP BY e.event_type, e.hr
    ORDER BY e.event_type, e.hr
    """,
)
def q159_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal baseline anomaly detection: an hour-of-day × event-type
    baseline (the diurnal profile a metrics pipeline learns) and a
    3-sigma flag per event against ITS OWN hour's baseline — complements
    q107's global z-score and q124's MAD by making the reference
    seasonal. Two hash aggregates on the same (type, hour) key plus one
    broadcast join of the 120-row baseline back to the stream; variance
    comes from E[v²]−mean² with both moments decimal-exact before
    rounding, and the flag compares squared residual to 9·variance so no
    sqrt enters the boundary. At 100 TB: baseline table stays O(types ×
    24) regardless of data size — the join never shuffles the events."""
    v = F.col("value")
    e = (
        table(spark, sf_dir, "events")
        .select("event_type", F.hour("ts").cast("int").alias("hr"), "value")
        # Exact-moment domain (see the oracle note): abs(NaN/inf) < 1e7
        # is false, so the one predicate excludes non-finite too.
        .where(v.isNull() | (F.abs(v) < 1e7))
    )
    s = e.groupBy("event_type", "hr").agg(
        F.count("*").alias("n"),
        _dec_out(F.sum(dterm(v, 6)) / F.count("*"), 6).alias("mean_v"),
        _dec_out(F.sum(dterm(v * v, 6)) / F.count("*"), 6).alias("m2"),
    )
    base = F.broadcast(s.select("event_type", "hr", "mean_v", "m2"))
    j = e.join(base, ["event_type", "hr"])
    var = dround(F.col("m2") - F.col("mean_v") * F.col("mean_v"), 6)
    resid2 = (v - F.col("mean_v")) * (v - F.col("mean_v"))
    is_anom = (dround(resid2 - 9 * var, 6) > 0).cast("bigint")
    return (
        j.groupBy("event_type", "hr")
        .agg(
            F.count("*").alias("n"),
            F.max("mean_v").alias("mean_v"),
            dround(
                F.max("m2") - F.max("mean_v") * F.max("mean_v"), 6
            )
            .cast("double")
            .alias("variance"),
            F.sum(is_anom).alias("n_anomalies"),
        )
        .orderBy("event_type", "hr")
    )


@query(
    "q160_ohlc_bars",
    # open/close pick values by a zero-padded (epoch_us, event_id)
    # string key — fixed-width lexicographic == numeric order, and the
    # composite makes the pick deterministic even under equal
    # timestamps (arg_min/min_by on the raw ts would tie-break
    # arbitrarily, differently per engine/schedule).
    oracle=f"""
    WITH e AS (
        SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               value,
               format('{{:020d}}-{{:012d}}', epoch_us(ts), event_id) AS k
        FROM events
    )
    SELECT event_type, day,
           arg_min(value, k) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, k) AS close,
           {o_dsum('value')} AS volume,
           COUNT(*) AS n
    FROM e GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def q160_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars (open/high/low/close + volume per type and
    day) — the financial/metrics downsampling shape. One hash aggregate:
    open/close are ``min_by``/``max_by`` over a zero-padded
    (epoch_us, event_id) key, so first/last need NO ordered window and
    NO per-group sort — at 100 TB this is a single map-side-combining
    shuffle on (type, day), the cheapest possible plan for bar-building.
    Volume sums through DECIMAL(38,6) (order-independent)."""
    e = table(spark, sf_dir, "events")
    k = F.format_string(
        "%020d-%012d",
        F.unix_micros(F.col("ts").cast("timestamp")),
        F.col("event_id"),
    )
    return (
        e.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "value",
            k.alias("k"),
        )
        .groupBy("event_type", "day")
        .agg(
            # The pick key is NULLed for NULL-valued rows: min_by/max_by
            # ignore NULL ordering keys, which reproduces DuckDB's
            # arg_min/arg_max value-NULL skipping exactly (open/close =
            # first/last MEASURED value; all-NULL bar -> NULL). Plain
            # min_by("value", k) would return the NULL itself when the
            # bar's first event carries no value (NULL-probe find, r10).
            F.min_by(
                "value", F.when(F.col("value").isNotNull(), F.col("k"))
            ).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by(
                "value", F.when(F.col("value").isNotNull(), F.col("k"))
            ).alias("close"),
            dsum("value").alias("volume"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q161_incremental_rollup",
    # The oracle recomputes the rollup FROM SCRATCH over all orders —
    # the merged base+delta view must be indistinguishable from it
    # (the algebraic-mergeability contract of incremental maintenance).
    oracle=f"""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           o_orderpriority,
           {o_dsum('o_totalprice')} AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY month, o_orderpriority
    ORDER BY month, o_orderpriority
    """,
)
def q161_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a monthly
    revenue-by-priority rollup is maintained as BASE (history before the
    cutover) plus DELTA (the new batch), merged by a full-outer
    coalesce-and-add — never by re-aggregating history. This works
    because sum/count are algebraically mergeable (the same property
    q144's HLL sketches use for distincts); the oracle recomputes from
    scratch and must be indistinguishable. At 100 TB the base aggregate
    is a stored table and only the delta (one day/batch of data) is
    scanned per refresh — the merge itself joins two rollup-sized
    tables, not fact data. Decimal partial sums make base+delta exactly
    equal to the from-scratch sum regardless of the split point."""
    cut = "1999-01-01"
    o = table(spark, sf_dir, "orders")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            "o_orderpriority",
        ).agg(
            F.sum(dterm("o_totalprice", 6)).alias("rev"),
            F.count("*").alias("n"),
        )

    base = rollup(o.where(F.col("o_orderdate") < cut))
    delta = rollup(o.where(F.col("o_orderdate") >= cut))
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
            _dec_out(
                F.coalesce(F.col("rev_b"), zero)
                + F.coalesce(F.col("rev_d"), zero),
                6,
            ).alias("revenue"),
            (
                F.coalesce(F.col("n_b"), F.lit(0))
                + F.coalesce(F.col("n_d"), F.lit(0))
            ).alias("n_orders"),
        )
    )
    return merged.orderBy("month", "o_orderpriority")


@query(
    "q162_large_volume_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem GROUP BY l_orderkey
        -- the threshold must see the SAME guarded terms as the Spark
        -- side's sum(dterm(...)) — a plain SUM diverges the qualifying
        -- set when a quantity is corrupt (hostile probe, r12)
        HAVING SUM({o_dterm('l_quantity', 6)}) > 300
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
           o.o_totalprice,
           {o_dsum('l.l_quantity')} AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, order_day, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q162_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-customer query: orders whose total
    quantity exceeds 300, with their customer and full quantity — the
    classic agg-filtered semi-join. The HAVING aggregate runs FIRST and
    its key set semi-joins back into lineitem (Catalyst keeps it a
    left-semi on orderkey), so the expensive 3-way join only ever sees
    qualifying orders — at 100 TB the selectivity of the HAVING filter
    (a few in 10⁴) is what makes this plan cheap, and the final top-20
    is TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dterm("l_quantity", 6)).alias("q"))
        .where(F.col("q") > 300)
        .select("l_orderkey")
    )
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        o.join(big.withColumnsRenamed({"l_orderkey": "o_orderkey"}), "o_orderkey", "left_semi")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            "o_totalprice",
        )
        .agg(dsum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q164_countmin_freq",
    # The sketch is DETERMINISTIC given the md5-derived row hashes, so
    # both engines build bit-identical cell tables; estimates are exact
    # integer minima. The flag column states CM's one-sided guarantee.
    oracle="""
    WITH keys AS (
        SELECT l_partkey AS k, md5(CAST(l_partkey AS VARCHAR)) AS hh
        FROM lineitem
    ),
    cells AS (
        SELECT j,
               CAST('0x' || substr(hh, 1 + 8 * j, 8) AS BIGINT) % 1024
                   AS cell,
               COUNT(*) AS c
        FROM keys CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u
        GROUP BY 1, 2
    ),
    probe AS (
        SELECT k, MIN(hh) AS hh, COUNT(*) AS exact_n FROM keys
        WHERE k % 97 = 0 GROUP BY k
    ),
    probecells AS (
        SELECT p.k, p.exact_n, u.j,
               CAST('0x' || substr(p.hh, 1 + 8 * u.j, 8) AS BIGINT) % 1024
                   AS cell
        FROM probe p CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) u
    ),
    est AS (
        SELECT pc.k, pc.exact_n, MIN(c.c) AS cm_est
        FROM probecells pc
        JOIN cells c ON c.j = pc.j AND c.cell = pc.cell
        GROUP BY pc.k, pc.exact_n
    )
    SELECT k AS l_partkey, exact_n, cm_est,
           CAST(cm_est >= exact_n AS INT) AS never_underestimates
    FROM est ORDER BY l_partkey
    """,
)
def q164_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation: a d=4 × w=1024 cell table
    built with ONE pass (explode over the 4 hash rows + hash aggregate),
    probed for a deterministic key sample and checked against exact
    counts — including CM's one-sided error guarantee (estimates never
    undercount). The cell table is d·w-sized REGARDLESS of data volume
    and mergeable across partitions/days by cell-wise addition — the
    bounded-memory frequency story that complements q129's approx_top_k
    and q144's HLL distincts. At 100 TB: the shuffle carries 4096 cells,
    not keys; probes broadcast-join against the cell table."""
    # ONE md5 per row, sliced into the 4 row-hashes (8 hex chars each)
    # — 4× less hashing than per-(row, j) digests, and the slices of a
    # single md5 are as independent as CM needs. parallelize_stage: the
    # per-row md5+conv+aggregate hashing is the CPU stage and lineitem
    # scans as a few coarse splits locally (2.5 s -> 1.0 s at sf0.1);
    # gated no-op on well-split cluster inputs.
    from ..operators.stage import parallelize_stage

    li = parallelize_stage(
        table(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    ).withColumn("hh", F.md5(F.col("k").cast("string")))
    rows4 = F.broadcast(
        spark.range(0, 4).select(F.col("id").cast("int").alias("j"))
    )
    slice_cell = (
        F.conv(
            F.substring("hh", F.lit(1) + F.lit(8) * F.col("j"), 8), 16, 10
        ).cast("long")
        % 1024
    ).alias("cell")
    hashed = li.crossJoin(rows4).select("k", "j", slice_cell)
    cells = hashed.groupBy("j", "cell").agg(F.count("*").alias("c"))
    probe = (
        li.where(F.col("k") % 97 == 0)
        .groupBy("k")
        .agg(F.min("hh").alias("hh"), F.count("*").alias("exact_n"))
    )
    probe_cells = probe.crossJoin(rows4).select(
        "k", "exact_n", "j", slice_cell
    )
    est = (
        probe_cells.join(F.broadcast(cells), ["j", "cell"])
        .groupBy("k", "exact_n")
        .agg(F.min("c").alias("cm_est"))
    )
    return est.select(
        F.col("k").alias("l_partkey"),
        "exact_n",
        "cm_est",
        (F.col("cm_est") >= F.col("exact_n")).cast("int").alias(
            "never_underestimates"
        ),
    ).orderBy("l_partkey")


@query(
    "q165_revenue_concentration",
    oracle=f"""
    WITH rev AS (
        SELECT p.p_brand,
               SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l.l_extendedprice * (1 - l.l_discount)) THEN (l.l_extendedprice * (1 - l.l_discount)) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l.l_extendedprice * (1 - l.l_discount)) THEN (l.l_extendedprice * (1 - l.l_discount)) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l.l_extendedprice * (1 - l.l_discount)) THEN (l.l_extendedprice * (1 - l.l_discount)) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l.l_extendedprice * (1 - l.l_discount)) THEN (l.l_extendedprice * (1 - l.l_discount)) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) AS r
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    ),
    tot AS (SELECT SUM(r) AS t FROM rev),
    ranked AS (
        SELECT p_brand, r, t,
               SUM(r) OVER (ORDER BY r DESC, p_brand) AS cum
        FROM rev CROSS JOIN tot
    )
    SELECT p_brand,
           (CASE WHEN ABS(r) < 10000000000000 THEN CAST(ROUND(r, 2) AS DOUBLE) ELSE CAST(CAST(ROUND(r, 0) AS DECIMAL(38,0)) AS DOUBLE) END) AS revenue,
           CAST(ROUND(cum / t, 6) AS DOUBLE) AS cum_share,
           CAST(cum / t <= 0.8 OR (cum - r) / t < 0.8 AS INT) AS in_top80
    FROM ranked
    ORDER BY revenue DESC, p_brand
    """,
)
def q165_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto 80/20 analysis): brands ranked by
    revenue with cumulative share and the heads that cover 80% — the BI
    staple for catalog curation. The cumulative window runs over the
    BRAND aggregate (a few dozen rows), never the fact table, so the one
    unpartitioned window is metadata-sized by construction (the repo-wide
    sweep-line rule, q127). Revenue sums through DECIMAL(38,6); shares
    divide exact decimals and round at 1e-6, and the in_top80 flag uses
    the exclusive-prefix rule (a brand is in the head if the mass BEFORE
    it is still under 80%) so the boundary brand is included identically
    in both engines."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(
                dterm(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
            ).alias("r")
        )
    )
    tot = rev.agg(F.sum("r").alias("t"))
    w = Window.orderBy(F.col("r").desc(), "p_brand").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = rev.crossJoin(F.broadcast(tot)).withColumn(
        "cum", F.sum("r").over(w)
    )
    return ranked.select(
        "p_brand",
        _dec_out(F.col("r"), 2).alias("revenue"),
        F.round(F.col("cum") / F.col("t"), 6).cast("double").alias(
            "cum_share"
        ),
        (
            (F.col("cum") / F.col("t") <= 0.8)
            | ((F.col("cum") - F.col("r")) / F.col("t") < 0.8)
        )
        .cast("int")
        .alias("in_top80"),
    ).orderBy(F.col("revenue").desc(), "p_brand")


@query(
    "q166_null_semantics",
    # The battery pins the exact NULL rules an engine must get right:
    # COUNT(col) skips nulls, GROUP BY keeps a null group, and a
    # null-safe join (<=> / IS NOT DISTINCT FROM) matches null to null
    # where a plain equi-join silently drops both.
    oracle="""
    WITH a AS (
        SELECT NULLIF(o_orderstatus, 'O') AS k,
               COUNT(*) AS n_rows,
               COUNT(NULLIF(o_orderstatus, 'O')) AS n_nonnull_keys
        FROM orders GROUP BY 1
    ),
    b AS (
        SELECT NULLIF(l_linestatus, 'O') AS k, COUNT(*) AS n_items
        FROM lineitem GROUP BY 1
    )
    SELECT COALESCE(a.k, '<null>') AS k,
           a.n_rows, a.n_nonnull_keys,
           COALESCE(b.n_items, 0) AS n_items
    FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY k
    """,
)
def q166_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics battery: GROUP BY must keep a null group,
    COUNT(col) must skip nulls while COUNT(*) does not, and the join
    must be NULL-SAFE (Spark ``eqNullSafe`` / SQL ``<=>``) so the null
    groups of both sides actually meet — a plain equi-join drops them
    silently, the classic reconciliation bug. Coverage-style query: the
    cross-engine hash proves all three rules match ANSI behavior."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    a = o.groupBy(
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("k")
    ).agg(
        F.count("*").alias("n_rows"),
        F.count(F.nullif(F.col("o_orderstatus"), F.lit("O"))).alias(
            "n_nonnull_keys"
        ),
    )
    b = li.groupBy(
        F.nullif(F.col("l_linestatus"), F.lit("O")).alias("kb")
    ).agg(F.count("*").alias("n_items"))
    return (
        a.join(b, F.col("k").eqNullSafe(F.col("kb")), "left")
        .select(
            F.coalesce(F.col("k"), F.lit("<null>")).alias("k"),
            "n_rows",
            "n_nonnull_keys",
            F.coalesce(F.col("n_items"), F.lit(0)).alias("n_items"),
        )
        .orderBy("k")
    )


@query(
    "q167_linear_attribution",
    # Per-touch credit = purchase value / touch count; each credit goes
    # through dterm (round at 1e-9 under the 2^53 cap, whole units
    # above), summed through DECIMAL(38,9), rounded at 1e-6 — the
    # per-term determinism pattern, magnitude-safe since r11.
    oracle=f"""
    WITH purchases AS (
        SELECT event_id AS pid, user_id, ts AS pts, value
        FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
    ),
    touch AS (
        SELECT p.pid, p.value, c.cts,
               COUNT(*) OVER (PARTITION BY p.pid) AS n_touch
        FROM purchases p
        JOIN clicks c
          ON p.user_id = c.user_id
         AND c.cts < p.pts
         AND c.cts >= p.pts - INTERVAL 24 HOURS
    )
    SELECT strftime(date_trunc('day', cts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_touches,
           {o_dec_out(f"SUM({o_dterm('value / n_touch')})", 6)}
               AS credit
    FROM touch
    GROUP BY day ORDER BY day
    """,
)
def q167_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution: each purchase's value splits
    equally across the user's click touches in the preceding 24 h, and
    credit rolls up by click day — the marketing-analytics workload that
    generalizes q10's single-touch as-of join. The touch join is an
    EQUI-join on user_id with the time band as a post-filter (bounded
    per-user fan-out), and the per-purchase touch count is a window
    partitioned by purchase id — nothing global anywhere. At 100 TB:
    shuffle by user_id (the natural skew key — salting via q61 if one
    user dominates), then one hash aggregate by day."""
    e = table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        "value",
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    touch = (
        p.join(c, "user_id")
        .where(
            (F.col("cts") < F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
        )
        .withColumn(
            "n_touch", F.count("*").over(Window.partitionBy("pid"))
        )
    )
    credit = dterm(F.col("value") / F.col("n_touch"))
    return (
        touch.groupBy(F.date_format("cts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_touches"),
            _dec_out(F.sum(credit), 6).cast("double").alias("credit"),
        )
        .orderBy("day")
    )


@query(
    "q178_market_basket",
    # Counts are exact integers; lift multiplies/divides doubles in
    # IDENTICAL operand order in both engines before the 1e-6 round.
    oracle="""
    WITH it AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM it),
    freq AS (
        SELECT p_brand, COUNT(*) AS c FROM it GROUP BY 1 HAVING COUNT(*) >= 20
    ),
    fit AS (SELECT it.* FROM it SEMI JOIN freq USING (p_brand)),
    pairs AS (
        SELECT a.p_brand AS b1, b.p_brand AS b2, COUNT(*) AS support
        FROM fit a JOIN fit b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
        HAVING COUNT(*) >= 50
    )
    SELECT p.b1, p.b2, p.support,
           CAST(ROUND(CAST(p.support AS DOUBLE) * n.n_orders
                      / (CAST(f1.c AS DOUBLE) * f2.c), 6) AS DOUBLE) AS lift
    FROM pairs p
    JOIN freq f1 ON p.b1 = f1.p_brand
    JOIN freq f2 ON p.b2 = f2.p_brand
    CROSS JOIN n
    ORDER BY p.b1, p.b2
    """,
)
def q178_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining (A-priori first round):
    brand pairs bought together in one order, with support and lift —
    the recommendation/affinity primitive. The A-priori pruning is the
    scale hinge: items below the single-item support floor are
    semi-joined OUT before pair generation, so pair fan-out is
    bounded by frequent items only; pairs come from the shared
    operators/cooccur.py shape — keyed on the order (never a global
    cross of the item vocabulary), u < v emitted once per basket.
    Per-order fan-out is C(k,2) in basket size k —
    at 100 TB skewed mega-baskets would be capped or salted; fixture
    baskets are ~4 items. Lift divides exact counts; the 1-row order
    total is the only broadcast."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    from ..operators.stage import materialize_stage

    # Four downstream branches (order total, item supports, both pair
    # sides) consume this join+distinct; materialize it once so the
    # fact join does not re-execute per branch (the q133 tf-stage rule).
    it = materialize_stage(
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n = it.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = (
        it.groupBy("p_brand")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 20)
    )
    fit = it.join(freq.select("p_brand"), "p_brand", "left_semi")
    # Pair supports via the shared co-occurrence operator: one shuffle
    # keyed on the order + generator C(k,2) expansion, instead of
    # shuffling the frequent-item rows twice through a self-join.
    pairs = (
        copurchase_pairs(fit, "l_orderkey", "p_brand", weighted=True)
        .select(
            F.col("u").alias("b1"),
            F.col("v").alias("b2"),
            F.col("w").alias("support"),
        )
        .where(F.col("support") >= 50)
    )
    f1 = freq.select(F.col("p_brand").alias("f1b"), F.col("c").alias("c1"))
    f2 = freq.select(F.col("p_brand").alias("f2b"), F.col("c").alias("c2"))
    return (
        pairs.join(f1, F.col("b1") == F.col("f1b"))
        .join(f2, F.col("b2") == F.col("f2b"))
        .crossJoin(F.broadcast(n))
        .select(
            "b1",
            "b2",
            "support",
            F.round(
                F.col("support").cast("double")
                * F.col("n_orders")
                / (F.col("c1").cast("double") * F.col("c2")),
                6,
            )
            .cast("double")
            .alias("lift"),
        )
        .orderBy("b1", "b2")
    )


@query(
    "q179_event_pattern_match",
    # Sequence strings are built under a TOTAL order (ts, event_id), so
    # both engines agg the identical string; regex counting is
    # non-overlapping left-to-right greedy in both (java.util.regex /
    # RE2 agree on this pattern class).
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               COUNT(*) AS n_events,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                 AS seq
        FROM events
        GROUP BY 1
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(seq, 'vc*p')) AS INT) AS n_funnels,
           CAST(len(regexp_extract_all(seq, 'vc*p')) > 0 AS INT)
             AS converted
    FROM seqs
    ORDER BY user_id
    """,
)
def q179_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style event-pattern matching: encode each user's
    event stream as a one-char-per-event string in strict (ts, event_id)
    order and count non-overlapping matches of view→clicks*→purchase
    (`vc*p`) — regex over the encoded sequence is the poor-man's CEP
    engine, and unlike q101's fixed 3-stage funnel it matches an
    UNBOUNDED pattern (any number of intermediate clicks). Plan shape:
    one per-user hash aggregate collects (ts, event_id, char) structs,
    sorted IN-ROW by `sort_array` (no window sort of the event stream),
    then the regex runs JVM-side per user. State per user is its own
    sequence — at 100 TB per-user activity is bounded (the same
    assumption q81 sessionization makes); a pathological hot user would
    be capped by a slice before the concat."""
    e = table(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        ts_micros("ts").alias("t"),
                        F.col("event_id").alias("i"),
                        F.substring("event_type", 1, 1).alias("ch"),
                    )
                )
            ),
            lambda s: s["ch"],
        ),
        "",
    )
    matches = F.regexp_count(F.col("seq"), F.lit("vc*p")).cast("int")
    return (
        e.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), seq.alias("seq"))
        .select(
            "user_id",
            "n_events",
            matches.alias("n_funnels"),
            (matches > 0).cast("int").alias("converted"),
        )
        .orderBy("user_id")
    )


@query(
    "q181_spearman_by_brand",
    # Fractional average ranks are exact .0/.5 doubles in both engines
    # (min-rank + (ties-1)/2); every moment accumulates through
    # DECIMAL(38,6) and the rho arithmetic is written in IDENTICAL
    # operand order before the 1e-6 round.
    oracle="""
    WITH j AS (
        SELECT p.p_brand, l.l_quantity AS q, l.l_extendedprice AS e
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    r AS (
        SELECT p_brand,
               RANK() OVER (PARTITION BY p_brand ORDER BY q)
                 + (COUNT(*) OVER (PARTITION BY p_brand, q) - 1) / 2.0 AS rq,
               RANK() OVER (PARTITION BY p_brand ORDER BY e)
                 + (COUNT(*) OVER (PARTITION BY p_brand, e) - 1) / 2.0 AS re
        FROM j
    ),
    m AS (
        SELECT p_brand, COUNT(*) AS n,
               SUM((CASE WHEN ABS((CASE WHEN ISFINITE(rq) THEN (rq) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(rq) THEN (rq) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(rq) THEN (rq) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(rq) THEN (rq) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) AS sx,
               SUM((CASE WHEN ABS((CASE WHEN ISFINITE(re) THEN (re) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(re) THEN (re) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(re) THEN (re) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(re) THEN (re) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) AS sy,
               SUM((CASE WHEN ABS((CASE WHEN ISFINITE(rq * rq) THEN (rq * rq) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(rq * rq) THEN (rq * rq) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(rq * rq) THEN (rq * rq) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(rq * rq) THEN (rq * rq) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) AS sxx,
               SUM((CASE WHEN ABS((CASE WHEN ISFINITE(re * re) THEN (re * re) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(re * re) THEN (re * re) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(re * re) THEN (re * re) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(re * re) THEN (re * re) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) AS syy,
               SUM((CASE WHEN ABS((CASE WHEN ISFINITE(rq * re) THEN (rq * re) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(rq * re) THEN (rq * re) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(rq * re) THEN (rq * re) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(rq * re) THEN (rq * re) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) AS sxy
        FROM r GROUP BY 1
    )
    SELECT p_brand, n,
           CAST(ROUND(
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
               6) AS DOUBLE) AS spearman_rho
    FROM m
    ORDER BY p_brand
    """,
)
def q181_spearman_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and price per brand —
    the robust (monotonic, outlier-proof) complement to q116's Pearson.
    Ties get textbook average ranks computed WITHOUT a second pass:
    min-rank + (tie-count − 1)/2 from two windows that share the same
    brand partition. Fractional ranks are exact halves, so the decimal
    moment sums (the q116/q117 closed-form pattern) are
    partition-order-proof, and rho is one projection over the
    O(brands) moment table. At 100 TB the per-brand window sort is the
    only heavy op — bounded per key, AQE-skew-splittable, and the
    moments aggregate map-side."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").alias("q"),
        F.col("l_extendedprice").alias("e"),
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(p, li.l_partkey == p.p_partkey).select("p_brand", "q", "e")
    wq = Window.partitionBy("p_brand").orderBy("q")
    we = Window.partitionBy("p_brand").orderBy("e")
    # r15 (guide §2.4): tie counts via RANGE(currentRow, currentRow)
    # frames on the SAME (brand, orderBy value) windows as the ranks —
    # count of rows with an equal value, identical to the former
    # partitionBy(brand, value) count, but sharing the rank window's
    # exchange + sort instead of adding a second hash exchange per
    # measure (plan: 4 exchange+sort pipelines → 1 exchange + 2 sorts).
    cq = wq.rangeBetween(Window.currentRow, Window.currentRow)
    ce = we.rangeBetween(Window.currentRow, Window.currentRow)
    r = j.select(
        "p_brand",
        (
            F.rank().over(wq) + (F.count("*").over(cq) - 1) / 2.0
        ).alias("rq"),
        (
            F.rank().over(we) + (F.count("*").over(ce) - 1) / 2.0
        ).alias("re"),
    )
    dec = "decimal(38,6)"
    m = r.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum(F.col("rq").cast(dec)).alias("sx"),
        F.sum(F.col("re").cast(dec)).alias("sy"),
        F.sum((F.col("rq") * F.col("rq")).cast(dec)).alias("sxx"),
        F.sum((F.col("re") * F.col("re")).cast(dec)).alias("syy"),
        F.sum((F.col("rq") * F.col("re")).cast(dec)).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    rho = F.round(
        (n * sxy - sx * sy)
        / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
        6,
    ).cast("double")
    return m.select("p_brand", "n", rho.alias("spearman_rho")).orderBy(
        "p_brand"
    )


@query(
    "q182_decile_lift",
    # Deciles come from ntile over a TOTAL order (acctbal DESC, custkey)
    # so both engines assign identical membership; rates divide exact
    # counts in identical operand order before the 1e-6 round.
    oracle="""
    WITH conv AS (
        SELECT c.c_custkey, c.c_acctbal,
               CAST(EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey) AS INT) AS y
        FROM customer c
    ),
    ranked AS (
        SELECT *, NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey)
                  AS decile
        FROM conv
    ),
    tot AS (
        SELECT CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos,
               COUNT(*) AS n FROM conv
    ),
    per AS (
        SELECT decile, COUNT(*) AS n_cust,
               CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_conv
        FROM ranked GROUP BY 1
    )
    SELECT decile, n_cust, n_conv,
           CAST(ROUND(CAST(n_conv AS DOUBLE) / n_cust, 6) AS DOUBLE)
             AS conv_rate,
           CAST(ROUND((CAST(n_conv AS DOUBLE) / n_cust)
                      / (CAST(tot.pos AS DOUBLE) / tot.n), 6) AS DOUBLE)
             AS lift
    FROM per CROSS JOIN tot
    ORDER BY decile
    """,
)
def q182_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift curve — the model-evaluation/targeting report: rank
    customers by account balance (the 'score'), cut into deciles, and
    compare each decile's conversion rate (placed ≥1 order) to the base
    rate. The conversion label is a left-semi-join-derived flag (never a
    correlated per-row subquery at execution — Catalyst decorrelates,
    q146's guarantee), and lift is a projection over the O(10) decile
    aggregate with the 1-row base rate broadcast. The decile cut is
    NTILE over a total order, computed scalably: a banded global row
    number (global_row_number_banded, floor(-acctbal/100) bands — the
    plain ntile window is a single-task global sort of every customer
    at 100 TB) plus NTILE's exact closed form from (rank, n): the
    first n%10 tiles hold n/10+1 rows, the rest n/10 — integer DIV
    arithmetic, bit-identical to the window ntile."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    o = table(spark, sf_dir, "orders").select("o_custkey").distinct()
    from ..operators.stage import materialize_stage

    # conv feeds three consumers (base-rate total, band counts, ranked
    # join-back); it is customer-dimension-sized, so one materialization
    # beats recomputing the semi-join flag per consumer.
    conv = materialize_stage(
        c.join(o, c.c_custkey == o.o_custkey, "left").select(
            "c_custkey",
            "c_acctbal",
            F.col("o_custkey").isNotNull().cast("int").alias("y"),
        )
    )
    tot = conv.agg(
        F.sum("y").cast("bigint").alias("pos"), F.count("*").alias("n")
    )
    rk = global_row_number_banded(
        conv,
        F.floor(F.col("c_acctbal") / F.lit(-100)),
        [F.desc("c_acctbal"), "c_custkey"],
        rank_col="rk",
    )
    ranked = rk.crossJoin(F.broadcast(tot)).select(
        "y",
        F.expr(
            "CAST(CASE WHEN n < 10 THEN rk"
            " WHEN rk <= (n % 10) * (n DIV 10 + 1)"
            " THEN (rk - 1) DIV (n DIV 10 + 1) + 1"
            " ELSE (n % 10) + (rk - (n % 10) * (n DIV 10 + 1) - 1)"
            "      DIV (n DIV 10) + 1 END AS INT)"
        ).alias("decile"),
    )
    per = ranked.groupBy("decile").agg(
        F.count("*").alias("n_cust"),
        F.sum("y").cast("bigint").alias("n_conv"),
    )
    rate = F.col("n_conv").cast("double") / F.col("n_cust")
    base = F.col("pos").cast("double") / F.col("n")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_cust",
            "n_conv",
            F.round(rate, 6).cast("double").alias("conv_rate"),
            # try_divide: a corpus with ZERO conversions has base rate 0
            # and lift is undefined -> NULL, matching DuckDB's NULL on
            # double 0/0 (ANSI division crashed here; empty-input probe
            # find, r10 — empty orders shard).
            F.round(F.try_divide(rate, base), 6)
            .cast("double")
            .alias("lift"),
        )
        .orderBy("decile")
    )


@query(
    "q212_price_brackets",
    # Bracket bounds and counts are exact; the revenue per bracket is
    # decimal-summed. The bracket dim is built inline identically in
    # both engines.
    oracle=f"""
    WITH brackets(bracket, lo, hi) AS (
        VALUES ('micro',      0.0,   20000.0),
               ('small',  20000.0,   60000.0),
               ('medium', 60000.0,  120000.0),
               ('large', 120000.0,  200000.0),
               ('jumbo', 200000.0, 1000000000.0)
    )
    SELECT b.bracket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {o_dsum('o.o_totalprice')} AS revenue
    FROM orders o
    JOIN brackets b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.bracket ORDER BY b.bracket
    """,
)
def q212_price_brackets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bracket assignment via a non-equi join against a tiny bounds
    dimension — the one plan family where BroadcastNestedLoopJoin IS
    the right answer: the 5-row bracket table broadcasts and each fact
    row scans 5 bounds, so cost is O(facts × 5) with zero shuffle
    before the keyed agg. The repo's other plan tests forbid BNLJ
    because an UNBOUNDED side nested-looping is the scale bug; a
    constant-size side is the documented exception (same rule as the
    1-row scalar broadcasts in q173/q178). Brackets are half-open
    [lo, hi) so boundary values land exactly once in both engines."""
    rows = [
        ("micro", 0.0, 20000.0),
        ("small", 20000.0, 60000.0),
        ("medium", 60000.0, 120000.0),
        ("large", 120000.0, 200000.0),
        ("jumbo", 200000.0, 1000000000.0),
    ]
    brackets = spark.createDataFrame(rows, "bracket string, lo double, hi double")
    o = table(spark, sf_dir, "orders").select("o_totalprice")
    return (
        o.join(
            F.broadcast(brackets),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("bracket")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .orderBy("bracket")
    )


@query(
    "q215_decay_attribution",
    # Decay weights are exact rationals 1/(1+hours) rounded at 1e-9 and
    # summed in DECIMAL per purchase (order-independent); the credit
    # division is one double formula in identical operand order, taken
    # through dterm (magnitude-capped round) before the per-day rollup.
    oracle=f"""
    WITH purchases AS (
        SELECT event_id AS pid, user_id, ts AS pts, value
        FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
    ),
    touch AS (
        SELECT p.pid, p.value, c.cts,
               CAST(ROUND(1.0 / (1.0 + FLOOR(
                   (epoch_us(p.pts) - epoch_us(c.cts)) / 3600000000.0)), 9)
                    AS DECIMAL(38,9)) AS w
        FROM purchases p
        JOIN clicks c
          ON p.user_id = c.user_id
         AND c.cts < p.pts
         AND c.cts >= p.pts - INTERVAL 24 HOURS
    ),
    shared AS (
        SELECT pid, value, cts, w,
               SUM(w) OVER (PARTITION BY pid) AS sw
        FROM touch
    )
    SELECT strftime(date_trunc('day', cts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_touches,
           {o_dec_out("SUM(" + o_dterm(
               'value * CAST(w AS DOUBLE) / CAST(sw AS DOUBLE)') + ")", 6)}
           AS credit
    FROM shared
    GROUP BY day ORDER BY day
    """,
)
def q215_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (q167's linear model with
    recency weighting): a click h full hours before the purchase earns
    weight 1/(1+h), normalized per purchase — newest touches dominate,
    the marketing default when linear over-credits stale clicks. The
    step decay is an exact rational (never exp(), whose libm results
    aren't bitwise portable across engines). Same shape as q167: EQUI
    join on user_id with the 24 h band as a post-filter, weight
    normalization windowed per purchase id, one hash agg per day —
    nothing global; user_id is the skew key at 100 TB."""
    e = table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        "value",
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    hours = F.floor(
        (
            F.unix_micros(F.col("pts").cast("timestamp"))
            - F.unix_micros(F.col("cts").cast("timestamp"))
        )
        / 3600000000.0
    )
    touch = (
        p.join(c, "user_id")
        .where(
            (F.col("cts") < F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
        )
        .withColumn(
            "w",
            F.round(F.lit(1.0) / (F.lit(1.0) + hours), 9).cast(
                "decimal(38,9)"
            ),
        )
        .withColumn("sw", F.sum("w").over(Window.partitionBy("pid")))
    )
    credit = dterm(
        F.col("value") * F.col("w").cast("double") / F.col("sw").cast("double")
    )
    return (
        touch.groupBy(F.date_format("cts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").alias("n_touches"),
            _dec_out(F.sum(credit), 6).cast("double").alias("credit"),
        )
        .orderBy("day")
    )


@query(
    "q218_first_last_touch",
    # First/last touches are argmin/argmax over (ts, event_id) structs
    # — total order, so ties resolve identically in both engines; full
    # purchase values credit one touch each via dterm (magnitude-capped
    # double→DECIMAL, r11), decimal-summed per day.
    oracle=f"""
    WITH purchases AS (
        SELECT event_id AS pid, user_id, ts AS pts, value
        FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
        SELECT user_id, ts AS cts, event_id AS cid
        FROM events WHERE event_type = 'click'
    ),
    touch AS (
        SELECT p.pid, p.value,
               MIN({{'cts': c.cts, 'cid': c.cid}}) AS first_t,
               MAX({{'cts': c.cts, 'cid': c.cid}}) AS last_t
        FROM purchases p
        JOIN clicks c
          ON p.user_id = c.user_id
         AND c.cts < p.pts
         AND c.cts >= p.pts - INTERVAL 24 HOURS
        GROUP BY p.pid, p.value
    ),
    credits AS (
        SELECT strftime(date_trunc('day', first_t.cts), '%Y-%m-%d')
                   AS day,
               {o_dterm('value', 6)} AS fc,
               CAST(0 AS DECIMAL(38,6)) AS lc
        FROM touch
        UNION ALL
        SELECT strftime(date_trunc('day', last_t.cts), '%Y-%m-%d'),
               CAST(0 AS DECIMAL(38,6)),
               {o_dterm('value', 6)}
        FROM touch
    )
    SELECT day,
           {o_dec_out('SUM(fc)', 6)} AS first_touch_credit,
           {o_dec_out('SUM(lc)', 6)} AS last_touch_credit
    FROM credits GROUP BY day ORDER BY day
    """,
)
def q218_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch and last-touch attribution side by side (completing
    the q167 linear / q215 decay family): each purchase credits its
    full value once to the day of its earliest qualifying click and
    once to its latest. The touch scan aggregates straight to
    argmin/argmax structs per purchase — no window, no per-touch
    fan-out rows — then a 2-way union rolls credits up by day. Same
    scale profile as q167: one user-keyed join, hash aggs after."""
    e = table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        "value",
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    touch = (
        p.join(c, "user_id")
        .where(
            (F.col("cts") < F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("pid", "value")
        .agg(
            F.min(F.struct("cts", "cid")).alias("first_t"),
            F.max(F.struct("cts", "cid")).alias("last_t"),
        )
    )
    first = touch.select(
        F.date_format("first_t.cts", "yyyy-MM-dd").alias("day"),
        dterm("value", 6).alias("fc"),
        F.lit(0).cast(DEC).alias("lc"),
    )
    last = touch.select(
        F.date_format("last_t.cts", "yyyy-MM-dd").alias("day"),
        F.lit(0).cast(DEC).alias("fc"),
        dterm("value", 6).alias("lc"),
    )
    return (
        first.unionAll(last)
        .groupBy("day")
        .agg(
            _dec_out(F.sum("fc"), 6).alias("first_touch_credit"),
            _dec_out(F.sum("lc"), 6).alias("last_touch_credit"),
        )
        .orderBy("day")
    )


@query(
    "q219_fulfillment_latency",
    # Latencies are exact integer day diffs; percentiles are
    # percentile_disc-style off the cumulative latency histogram (the
    # q206/q216 pattern) — no interpolation anywhere.
    oracle="""
    WITH lat AS (
        SELECT o.o_orderkey,
               CAST(datediff('day', o.o_orderdate, MIN(l.l_shipdate))
                    AS BIGINT) AS days
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    hist AS (
        SELECT days, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lat GROUP BY days
    ),
    cum AS (
        SELECT days, cnt,
               SUM(cnt) OVER (ORDER BY days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               SUM(cnt) OVER () AS n
        FROM hist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_orders,
           MIN(CASE WHEN c >= CEIL(0.50 * n) THEN days END) AS p50_days,
           MIN(CASE WHEN c >= CEIL(0.90 * n) THEN days END) AS p90_days,
           MIN(CASE WHEN c >= CEIL(0.99 * n) THEN days END) AS p99_days,
           MAX(days) AS max_days
    FROM cum
    """,
)
def q219_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment latency SLA report: days from order date to
    the order's FIRST shipment, with discrete p50/p90/p99 read off the
    cumulative latency histogram — the ops dashboard query every
    warehouse runs. The per-order MIN is one orderkey-keyed agg
    (map-side combined); the percentile scan then works on the
    O(distinct latencies) histogram, never the order table — exact
    tail percentiles at any scale without a global sort."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lat = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.min("l_shipdate").alias("first_ship"))
        .select(
            F.datediff(
                F.col("first_ship").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("long")
            .alias("days")
        )
    )
    hist = lat.groupBy("days").agg(F.count("*").alias("cnt"))
    cum = hist.select(
        "days",
        F.sum("cnt")
        .over(
            Window.orderBy("days").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("c"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    def disc(p: float, name: str):
        return F.min(
            F.when(F.col("c") >= F.ceil(F.lit(p) * F.col("n")), F.col("days"))
        ).alias(name)

    return cum.agg(
        F.max("n").cast("long").alias("n_orders"),
        disc(0.50, "p50_days"),
        disc(0.90, "p90_days"),
        disc(0.99, "p99_days"),
        F.max("days").alias("max_days"),
    )


@query(
    "q220_rfm_segments",
    # All three metrics are exact (day diffs, counts, decimal-rounded
    # spend); quintile cutoffs are percentile_disc off each metric's
    # cumulative histogram and bins count strict cutoff exceedances —
    # integer logic end to end except the decimal-avg output.
    oracle=f"""
    WITH m AS (
        SELECT o_custkey,
               CAST(datediff('day', MAX(o_orderdate),
                    (SELECT MAX(o_orderdate) FROM orders)) AS BIGINT) AS rec,
               CAST(COUNT(*) AS BIGINT) AS freq,
               (CASE WHEN ABS(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END))) < 1000000000 THEN CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 6) AS DOUBLE) ELSE CAST(CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(o_totalprice) THEN (o_totalprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 0) AS DECIMAL(38,0)) AS DOUBLE) END) AS mon
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT
          (SELECT MIN(CASE WHEN c >= CEIL(j.j * n / 5.0) THEN v END)
           FROM (SELECT v, SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
                     SUM(cnt) OVER () AS n
                 FROM (SELECT rec AS v, COUNT(*) AS cnt FROM m GROUP BY rec))
          ) AS rc,
          (SELECT MIN(CASE WHEN c >= CEIL(j.j * n / 5.0) THEN v END)
           FROM (SELECT v, SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
                     SUM(cnt) OVER () AS n
                 FROM (SELECT freq AS v, COUNT(*) AS cnt FROM m GROUP BY freq))
          ) AS fc,
          (SELECT MIN(CASE WHEN c >= CEIL(j.j * n / 5.0) THEN v END)
           FROM (SELECT v, SUM(cnt) OVER (ORDER BY v ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
                     SUM(cnt) OVER () AS n
                 FROM (SELECT mon AS v, COUNT(*) AS cnt FROM m GROUP BY mon))
          ) AS mc,
          j.j
        FROM (SELECT UNNEST(range(1, 5)) AS j) j
    ),
    binned AS (
        SELECT m.o_custkey, m.mon,
               1 + CAST(SUM(CASE WHEN m.rec > cuts.rc THEN 1 ELSE 0 END)
                        AS INT) AS r_bin,
               1 + CAST(SUM(CASE WHEN m.freq > cuts.fc THEN 1 ELSE 0 END)
                        AS INT) AS f_bin,
               1 + CAST(SUM(CASE WHEN m.mon > cuts.mc THEN 1 ELSE 0 END)
                        AS INT) AS m_bin
        FROM m CROSS JOIN cuts
        GROUP BY m.o_custkey, m.mon
    )
    SELECT r_bin, f_bin, m_bin,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {o_davg("mon", count="COUNT(*)")} AS avg_monetary
    FROM binned
    GROUP BY r_bin, f_bin, m_bin
    ORDER BY r_bin, f_bin, m_bin
    """,
)
def q220_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order,
    anchored to the corpus max date — no wall clock), frequency, and
    monetary value, each quintile-binned by discrete cutoffs off its
    own cumulative histogram (bin = 1 + strict exceedances of the 4
    cutoffs; higher bin = larger raw value, so r_bin 1 is MOST recent).
    The standard CRM segmentation — and a three-fold reuse of the
    percentile_disc histogram pattern (q206/q216/q219), each cutoff
    table 4 rows and broadcast. Per-customer metrics are one orders
    agg; nothing global touches raw rows."""
    o = table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    m = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_o"),
            F.count("*").alias("freq"),
            _dec_out(F.sum(dterm("o_totalprice", 6)), 6)
            .alias("mon"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff(F.col("mx").cast("date"), F.col("last_o").cast("date"))
            .cast("long")
            .alias("rec"),
            "freq",
            "mon",
        )
    )
    # Four downstream branches (three cutoff legs + the final binning)
    # consume the per-customer aggregate; materialize it once so the
    # orders scan+shuffle does not re-execute per branch (the q133/q178
    # tf-stage rule). At 100 TB this is the difference between one and
    # four passes over the fact table.
    from ..operators.stage import materialize_stage

    m = materialize_stage(m)

    def cuts(col: str, band_width: int):
        # The MONETARY leg: its distinct values scale with the customer
        # count, so it pays for the banded cumsum. rec is
        # calendar-bounded and freq is bounded by per-customer order
        # counts, so cuts_rec_freq() runs both on one plain
        # metadata-sized window, saving two band-stage checkpoints per
        # run.
        hist = m.groupBy(F.col(col).alias("v")).agg(F.count("*").alias("cnt"))
        cum = banded_cumsum(
            hist,
            "v",
            F.floor(F.col("v") / band_width),
            {"c": "cnt"},
            totals={"n": "c"},
        ).select("v", "c", "n")
        js = m.sparkSession.range(1, 5).select(
            F.col("id").cast("long").alias("j")
        )
        return (
            cum.crossJoin(F.broadcast(js))
            .groupBy("j")
            .agg(
                F.min(
                    F.when(
                        F.col("c") >= F.ceil(F.col("j") * F.col("n") / 5.0),
                        F.col("v"),
                    )
                ).alias(f"{col}_cut")
            )
        )

    def cuts_rec_freq():
        # r15 (VERDICT r14 item 7, guide §2.4): the rec and freq cutoff
        # legs each scanned the per-customer checkpoint and ran their
        # own metadata-sized window. Both metrics are longs over the
        # same rows, so ONE metric-tagged pass (explode of two structs
        # per customer — one checkpoint scan, not two) feeds ONE window
        # partitioned by metric; per-metric cumsum/total and the
        # j-cutoff min are computed exactly as the per-leg windows did
        # (partitionBy(metric) == the old per-leg global frame), so the
        # cutoff values are identical. The monetary leg stays separate:
        # its values are decimals and corpus-scaled (banded).
        tagged = m.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("rec").alias("metric"),
                        F.col("rec").cast("long").alias("v"),
                    ),
                    F.struct(
                        F.lit("freq").alias("metric"),
                        F.col("freq").cast("long").alias("v"),
                    ),
                )
            ).alias("x")
        ).select("x.metric", "x.v")
        hist = tagged.groupBy("metric", "v").agg(F.count("*").alias("cnt"))
        wcum = (
            Window.partitionBy("metric")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cum = hist.select(
            "metric",
            "v",
            F.sum("cnt").over(wcum).alias("c"),
            F.sum("cnt").over(Window.partitionBy("metric")).alias("n"),
        )
        js = m.sparkSession.range(1, 5).select(
            F.col("id").cast("long").alias("j")
        )
        hit = F.col("c") >= F.ceil(F.col("j") * F.col("n") / 5.0)
        return (
            cum.crossJoin(F.broadcast(js))
            .groupBy("j")
            .agg(
                F.min(
                    F.when((F.col("metric") == "rec") & hit, F.col("v"))
                ).alias("rec_cut"),
                F.min(
                    F.when((F.col("metric") == "freq") & hit, F.col("v"))
                ).alias("freq_cut"),
            )
        )

    binned = (
        m.crossJoin(
            F.broadcast(cuts_rec_freq().join(cuts("mon", 10000), "j"))
        )
        .groupBy("o_custkey", "mon")
        .agg(
            (
                1
                + F.sum((F.col("rec") > F.col("rec_cut")).cast("int"))
            ).cast("int").alias("r_bin"),
            (
                1
                + F.sum((F.col("freq") > F.col("freq_cut")).cast("int"))
            ).cast("int").alias("f_bin"),
            (
                1
                + F.sum((F.col("mon") > F.col("mon_cut")).cast("int"))
            ).cast("int").alias("m_bin"),
        )
    )
    return (
        binned.groupBy("r_bin", "f_bin", "m_bin")
        .agg(
            F.count("*").alias("n_customers"),
            # _dec_out (not bare round) mirrors the oracle's o_davg
            # magnitude branch: a group mean >= 1e9 with a fractional
            # part rounds to whole units on both engines (advisor, r11).
            _dec_out(
                F.sum(dterm("mon", 6)) / F.count("*"), 6
            ).alias("avg_monetary"),
        )
        .orderBy("r_bin", "f_bin", "m_bin")
    )


@query(
    "q223_percent_of_parent",
    # Shares divide decimal-rounded revenue sums at each level — the
    # ratio is one double division rounded at 1e-6; windows run over
    # the 25-row nation aggregate only.
    oracle="""
    WITH nat AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               (CASE WHEN ABS(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END))) < 1000000000 THEN CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 6) AS DOUBLE) ELSE CAST(CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(o.o_totalprice) THEN (o.o_totalprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 0) AS DECIMAL(38,0)) AS DOUBLE) END) AS rev
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, rev,
           CAST(ROUND(rev / SUM(rev) OVER (PARTITION BY region), 6)
                AS DOUBLE) AS share_of_region,
           CAST(ROUND(SUM(rev) OVER (PARTITION BY region)
                      / SUM(rev) OVER (), 6) AS DOUBLE)
               AS region_share_of_total
    FROM nat ORDER BY region, nation
    """,
)
def q223_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchy report (region → nation revenue):
    each nation's share of its region and each region's share of the
    corpus — the drill-down layout every BI rollup renders. One
    fact-side join chain (dims broadcast by measured size) collapses to
    the 25-row nation aggregate; both share windows run over THAT
    table, so the report layer is O(|nations|) at any fact scale."""
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            _dec_out(F.sum(dterm("o_totalprice", 6)), 6)
            .alias("rev")
        )
    )
    wr = Window.partitionBy("region")
    wt = Window.partitionBy()
    return nat.select(
        "region",
        "nation",
        "rev",
        F.round(F.col("rev") / F.sum("rev").over(wr), 6)
        .cast("double")
        .alias("share_of_region"),
        F.round(F.sum("rev").over(wr) / F.sum("rev").over(wt), 6)
        .cast("double")
        .alias("region_share_of_total"),
    ).orderBy("region", "nation")


@query(
    "q224_cross_correlation",
    # Daily type-volumes are exact counts; the per-lag Pearson formula
    # is q196's, operand order identical, rounded at 1e-6. Lags -3..3
    # cover lead AND lag directions.
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS clicks,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS buys
        FROM events GROUP BY date_trunc('day', ts)
    ),
    pairs AS (
        SELECT l.lag, a.clicks AS x, b.buys AS y
        FROM daily a
        CROSS JOIN (SELECT UNNEST(range(-3, 4)) AS lag) l
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INT) * INTERVAL 1 DAY
    ),
    m AS (
        SELECT lag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT lag, n_pairs,
           CAST(ROUND((n * sxy - sx * sy)
                / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                AS DOUBLE) AS xcorr
    FROM m ORDER BY lag
    """,
)
def q224_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between daily click volume and purchase
    volume at calendar lags −3..+3 (does click traffic LEAD purchases?
    — q196's autocorrelation generalized to two series). Counts are
    integers so the moment sums are exact without decimal staging; the
    series pairing is the same broadcast-lag calendar join. O(days)
    after one events agg."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count_if(F.col("event_type") == "click").alias("clicks"),
        F.count_if(F.col("event_type") == "purchase").alias("buys"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b.day")
            == F.expr("cast(date_add(cast(a.day AS date), lag) AS timestamp)"),
        )
        .select("lag", F.col("a.clicks").alias("x"), F.col("b.buys").alias("y"))
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("double").alias("n"),
        F.count("*").alias("n_pairs"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    return m.select(
        "lag",
        "n_pairs",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        )
        .cast("double")
        .alias("xcorr"),
    ).orderBy("lag")


@query(
    "q225_kaplan_meier",
    # Event/censor day counts are exact integers; at-risk is a reverse
    # cumulative sum over the O(days) histogram; the survival curve is
    # exp of an ORDERED cumulative sum of ln terms — ordered window
    # accumulation is sequential in both engines, so the double sums
    # agree bitwise; outputs round at 1e-6.
    oracle="""
    WITH su AS (
        SELECT user_id, MIN(ts) AS s_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    pu AS (
        SELECT su.user_id, su.s_ts, MIN(e.ts) AS p_ts
        FROM su LEFT JOIN events e
          ON e.user_id = su.user_id AND e.event_type = 'purchase'
         AND e.ts > su.s_ts
        GROUP BY su.user_id, su.s_ts
    ),
    mx AS (SELECT MAX(ts) AS m FROM events),
    t AS (
        SELECT CASE WHEN p_ts IS NOT NULL THEN
                   CAST(FLOOR((epoch_us(p_ts) - epoch_us(s_ts))
                              / 86400000000.0) AS BIGINT)
               ELSE
                   CAST(FLOOR((epoch_us(mx.m) - epoch_us(s_ts))
                              / 86400000000.0) AS BIGINT)
               END AS day,
               CAST(p_ts IS NOT NULL AS INT) AS converted
        FROM pu CROSS JOIN mx
    ),
    h AS (
        SELECT day,
               CAST(SUM(converted) AS BIGINT) AS d,
               CAST(SUM(1 - converted) AS BIGINT) AS c
        FROM t GROUP BY day
    ),
    r AS (
        SELECT day, d, c,
               CAST(SUM(d + c) OVER (ORDER BY day DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
        FROM h
    )
    SELECT day, n_risk, d, c,
           CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) = 1
                THEN 0.0
                ELSE CAST(ROUND(EXP(SUM(
                    CASE WHEN d < n_risk
                         THEN LN(1.0 - CAST(d AS DOUBLE) / n_risk)
                         ELSE 0.0 END)
                    OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)), 6) AS DOUBLE)
           END AS survival
    FROM r WHERE d > 0 OR c > 0
    ORDER BY day
    """,
)
def q225_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-convert curve: per signup user, days until
    the first subsequent purchase (censored at the corpus horizon for
    never-converters — no wall clock). The survival estimator
    Π(1 − d/n) runs as exp(cumsum(ln ·)) over the O(days) duration
    histogram: at-risk counts are a REVERSE cumulative sum and the
    product a forward one, both windows over days, never users. At
    100 TB the per-user reduction is the only fact-scale work; the
    curve itself is metadata-sized."""
    e = table(spark, sf_dir, "events")
    su = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    pu_src = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    pu = (
        su.join(
            pu_src,
            (su.user_id == F.col("p_user")) & (F.col("pts") > su.s_ts),
            "left",
        )
        .groupBy("user_id", "s_ts")
        .agg(F.min("pts").alias("p_ts"))
    )
    mx = e.agg(F.max("ts").alias("m"))
    us = lambda col: F.unix_micros(F.col(col).cast("timestamp"))
    t = pu.crossJoin(F.broadcast(mx)).select(
        F.when(
            F.col("p_ts").isNotNull(),
            F.floor((us("p_ts") - us("s_ts")) / 86400000000.0),
        )
        .otherwise(F.floor((us("m") - us("s_ts")) / 86400000000.0))
        .cast("long")
        .alias("day"),
        F.col("p_ts").isNotNull().cast("int").alias("converted"),
    )
    h = t.groupBy("day").agg(
        F.sum("converted").alias("d"),
        F.sum(1 - F.col("converted")).alias("c"),
    )
    w_rev = Window.orderBy(F.col("day").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.withColumn("n_risk", F.sum(F.col("d") + F.col("c")).over(w_rev))
    w_fwd = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # The final event day can have d == n_risk (everyone remaining
    # converts): ln(0) is an error in DuckDB and NULL in Spark, so the
    # curve is absorbed at exactly 0 from the first such day onward.
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    absorbed = (
        F.max((F.col("d") >= F.col("n_risk")).cast("int")).over(w_fwd) == 1
    )
    return (
        r.where((F.col("d") > 0) | (F.col("c") > 0))
        .select(
            "day",
            "n_risk",
            "d",
            "c",
            F.when(absorbed, F.lit(0.0))
            .otherwise(
                F.round(F.exp(F.sum(term).over(w_fwd)), 6).cast("double")
            )
            .alias("survival"),
        )
        .orderBy("day")
    )
