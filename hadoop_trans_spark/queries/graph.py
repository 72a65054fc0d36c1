"""Graph analytics queries: PageRank over the customer-supplier
transaction graph (operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.cooccur import MAX_BASKET, copurchase_pairs, upper_pairs
from ..operators.graph import pagerank
from .base import query


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled fixed-iteration PageRank as a DuckDB CTE chain, arithmetic
    mirrored op-for-op against operators/graph.py: 1e0 - 85e-2 (NOT a
    0.15 literal — IEEE 1.0-0.85 is 0.15000000000000002 and both engines
    must compute the same double), per-edge contributions rounded to
    1e-12 and summed through DECIMAL(38,12), ranks re-rounded to 1e-12.

    The OUTPUT rounds at 1e-9, three orders coarser than the internal
    staging grain (the repo-wide ratio, cf. 1e-9 terms → 1e-6 outputs):
    Spark's double ROUND (BigDecimal HALF_UP on the shortest decimal
    repr) and DuckDB's can disagree by one unit in the last place on
    half-boundary values, so an output at the staging grain itself has
    zero absorption margin — observed as a 1e-12 flip at sf0.1.

    The output rounding itself goes THROUGH THE DECIMAL DOMAIN
    (CAST(pr AS DECIMAL(38,12)) then ROUND(·, 9)): pr is exactly a
    1e-12-grid value by construction, both engines recover that grid
    value exactly on the decimal cast, and decimal HALF_UP rounding is
    identical in both — so even an exact ...500 half-tie at 1e-9 (one
    output row in ~1000) cannot flip, which a double-domain ROUND(pr,9)
    still could (~2% of such ties, measured).
    """
    sql = """
    WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    p0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pr
           FROM nodes)"""
    for i in range(1, iters + 1):
        sql += f""",
    c{i} AS (SELECT e.dst AS node,
                SUM(CAST(ROUND(p.pr / o.outdeg, 12) AS DECIMAL(38,12))) AS s
             FROM edges e
             JOIN p{i - 1} p ON e.src = p.node
             JOIN outdeg o ON e.src = o.src
             GROUP BY 1),
    p{i} AS (SELECT n.node,
                ROUND((1e0 - 85e-2) / (SELECT n FROM nn)
                      + 85e-2 * CAST(COALESCE(c.s, 0) AS DOUBLE), 12) AS pr
             FROM nodes n LEFT JOIN c{i} c ON n.node = c.node)"""
    sql += f"""
    SELECT 's' || CAST(node // 2 AS VARCHAR) AS node,
           CAST(ROUND(CAST(pr AS DECIMAL(38,12)), 9) AS DOUBLE) AS pr
    FROM p{iters} WHERE node % 2 = 1 ORDER BY node
    """
    return sql


@query("q123_pagerank", oracle=_pagerank_oracle(3))
def q123_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, d=0.85) over the symmetrized
    customer-supplier graph derived from orders ⋈ lineitem — "which
    suppliers sit at the center of the purchase network". Per iteration:
    one rank⋈edges equi-join + one groupBy(dst) — the Pregel shape in
    plain DataFrame ops; see operators/graph.py for the 100 TB notes
    (co-partitioned edges, periodic checkpoint, O(nodes) rank table)."""
    from ..operators.stage import materialize_stage

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Nodes share one bigint id space (customer 2k, supplier 2k+1):
    # integer join/agg keys shuffle a fraction of the bytes of string
    # labels, and the label is reconstructed only on the final output.
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    # Materialize the pair table (the expensive join+distinct); the
    # symmetrized edge list is a shuffle-free union of two projections
    # of it, so pagerank() can skip re-checkpointing the doubled rows.
    pairs = materialize_stage(pairs)
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    pr = pagerank(edges, iters=3, damping=0.85, prematerialized=True)
    return (
        pr.where(F.col("node") % 2 == 1)
        .select(
            F.concat(F.lit("s"), F.expr("CAST(node DIV 2 AS STRING)")).alias(
                "node"
            ),
            # output at 1e-9 via the DECIMAL domain: pr is exactly a
            # 1e-12-grid value, the decimal cast recovers it exactly in
            # both engines, and decimal HALF_UP is engine-identical even
            # on exact half-ties (see _pagerank_oracle docstring)
            F.round(F.col("pr").cast("decimal(38,12)"), 9)
            .cast("double")
            .alias("pr"),
        )
        .orderBy("node")
    )


def _supplier_backbone(spark: SparkSession, sf_dir: str):
    """Top-2000 supplier co-purchase edges by co-occurrence weight, ties
    broken by vertex ids — the ONE backbone definition shared by q140
    (triangles) and q147 (recursive BFS); a single edge budget and tie
    order keeps the two queries' "same graph" docstring claims true by
    construction. Returns the oriented (u < v) edge DataFrame.

    Memoized per (session, sf_dir) and materialized: both consumers pay
    the full pair-mine + top-k once, then read the 2000-row edge table
    (the dedup-family shared-stage rule; each timed draw starts from an
    empty memo, bench.draw)."""
    from ..operators.stage import materialize_stage, memo_stage

    def build() -> DataFrame:
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        return materialize_stage(
            copurchase_pairs(li, "l_orderkey", "l_suppkey", weighted=True)
            .orderBy(F.col("w").desc(), "u", "v")
            .limit(2000)
            .select("u", "v")
        )

    return memo_stage(spark, sf_dir, "supplier_backbone", build)


def _part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT part co-purchase pair table (u < v) shared by q200
    (degree distribution) and q204 (Adamic-Adar) — one definition, NOT
    memoized across queries: a measured attempt to memo_stage it (~1.2M
    rows at sf0.1) made q204 SLOWER (7.0 vs 3.4 s at sf0.01 — the eager
    cut forfeited AQE's view of q204's wedge self-join, since removed)
    and the resident checkpoint plus the anti-join broadcast OOM'd a
    default-memory driver session on the second call. q204 now
    checkpoints it within its own query (materialize_stage, not
    memo_stage), so its broadcast branches share one fact scan; q200
    consumes it unmaterialized."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return copurchase_pairs(li, "l_orderkey", "l_partkey")


@query(
    "q140_triangle_count",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    ok AS (
        SELECT l_orderkey FROM li GROUP BY l_orderkey
        HAVING COUNT(*) <= {MAX_BASKET}
    ),
    pairs AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)
        GROUP BY 1, 2
    ),
    e AS (
        SELECT u, v FROM pairs ORDER BY w DESC, u, v LIMIT 2000
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT supplier, COUNT(*) AS n_triangles
    FROM (SELECT a AS supplier FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY supplier
    ORDER BY supplier
    """,
)
def q140_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counting on the supplier co-purchase BACKBONE
    graph — the clustering-structure primitive behind community
    detection and fraud graph features. The raw co-occurrence graph goes
    near-complete as the corpus grows (every supplier pair eventually
    shares some order), which makes naive triangle counting Θ(n³) —
    measured 77 s at sf0.1 vs 1.5 s at sf0.01 before the backbone cut.
    So the graph operator's input is the top-2000 edges by co-occurrence
    weight (ties broken by vertex ids — a total order, so both engines
    cut identically): Spark plans the cut as TakeOrderedAndProject —
    per-partition partial top-K, no global sort materialization — and
    the edge budget makes downstream cost O(K^1.5) independent of corpus
    size. In production K scales with the node count, and the standard
    further upgrade is degree ordering (orient low-degree → high-degree)
    bounding wedge fan-out by arboricity. Triangles a<b<c are enumerated
    exactly once by two equi-joins (wedge build (a,b)+(b,c), closure
    semi-join on (a,c)); per-vertex counts are one hash aggregate over
    the 3-way vertex fan-out. No broadcast hints — AQE picks sides from
    measured sizes."""
    e = _supplier_backbone(spark, sf_dir)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
            "left_semi",
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    verts = (
        tri.select(F.col("a").alias("supplier"))
        .unionAll(tri.select(F.col("b").alias("supplier")))
        .unionAll(tri.select(F.col("c").alias("supplier")))
    )
    return (
        verts.groupBy("supplier")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy("supplier")
    )


@query(
    "q147_recursive_bfs",
    oracle=f"""
    WITH RECURSIVE li AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    ok AS (
        SELECT l_orderkey FROM li GROUP BY l_orderkey
        HAVING COUNT(*) <= {MAX_BASKET}
    ),
    pairs AS (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)
        GROUP BY 1, 2
    ),
    backbone AS (
        SELECT u, v FROM pairs ORDER BY w DESC, u, v LIMIT 2000
    ),
    edges AS (
        SELECT u AS src, v AS dst FROM backbone
        UNION ALL
        SELECT v AS src, u AS dst FROM backbone
    ),
    seed AS (
        SELECT l_suppkey AS node FROM lineitem
        GROUP BY 1 ORDER BY COUNT(*) DESC, l_suppkey LIMIT 1
    ),
    walk(node, dist) AS (
        SELECT node, 0 FROM seed
        UNION ALL
        SELECT e.dst, w.dist + 1
        FROM walk w JOIN edges e ON w.node = e.src
        WHERE w.dist < 3
    )
    SELECT node AS suppkey, MIN(dist) AS hops
    FROM walk
    GROUP BY node
    ORDER BY suppkey
    """,
)
def q147_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): hop distance ≤ 3 from the
    busiest supplier over the q140 co-purchase backbone — graph
    reachability stated declaratively, where q123/q68 hand-roll the
    iteration in DataFrame ops. The backbone is built ONCE as a
    materialized DataFrame stage and exposed as a view: left inside the
    recursive SQL, Spark re-derived the whole pair aggregation at every
    recursion level (measured 8.8 s vs 3.6 s at sf0.1). Each recursion
    step is then one equi-join of the frontier against the edge table +
    the depth guard (finite UNION ALL expansion on a cyclic graph; the
    final MIN(dist) collapses revisits). The oracle runs the same
    logical query inline — DuckDB materializes the CTE once. At 100 TB
    the frontier join shards by node like any equi-join and
    spark.sql.cteRecursionLevelLimit is the safety rail; unbounded
    reachability belongs to operators/components.py label propagation."""
    from ..operators.stage import materialize_stage

    backbone = _supplier_backbone(spark, sf_dir)
    edges = materialize_stage(
        backbone.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(
            backbone.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    )
    edges.createOrReplaceTempView("q147_edges")
    seed = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("node"))
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "node")
        .limit(1)
        .select("node")
    )
    seed.createOrReplaceTempView("q147_seed")
    return spark.sql(
        """
        WITH RECURSIVE walk(node, dist) AS (
            SELECT node, 0 FROM q147_seed
            UNION ALL
            SELECT e.dst, w.dist + 1
            FROM walk w JOIN q147_edges e ON w.node = e.src
            WHERE w.dist < 3
        )
        SELECT node AS suppkey, MIN(dist) AS hops
        FROM walk
        GROUP BY node
        ORDER BY suppkey
        """
    )


@query(
    "q200_degree_distribution",
    # Pure integer set algebra (distinct pairs → per-node degree →
    # histogram) — exact in both engines, no floats anywhere. The
    # basket cap mirrors the operator's enforced hub removal (r12).
    oracle=f"""
    WITH ok AS (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING COUNT(DISTINCT l_partkey) <= {MAX_BASKET}
    ),
    pairs AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)
    ),
    und AS (
        SELECT u AS node, v AS nbr FROM pairs
        UNION ALL SELECT v, u FROM pairs
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM und GROUP BY node
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree ORDER BY degree
    """,
)
def q200_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph (parts are
    adjacent when they share an order). Pair generation is the shared
    operators/cooccur.py shape — one order-keyed shuffle, then a narrow
    C(k, 2) expansion bounded by the per-order basket size (~7 here),
    never all-pairs over the catalog; degrees and the histogram are two
    keyed hash aggs. At 100 TB a pathological mega-order would be the
    one skew risk — the same per-key quadratic every co-occurrence mine
    has (q178 market basket documents the cap pattern); order baskets
    are naturally small."""
    pairs = _part_pairs(spark, sf_dir)
    und = pairs.selectExpr("u AS node", "v AS nbr").unionAll(
        pairs.selectExpr("v AS node", "u AS nbr")
    )
    deg = und.groupBy("node").agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree").agg(F.count("*").alias("n_nodes")).orderBy("degree")
    )


@query(
    "q204_adamic_adar",
    # Integer set algebra for edges/degrees; each 1/ln(degree) term is
    # rounded at 1e-9 and summed through DECIMAL(38,9) (order-free exact
    # addition — the q214/q217/q228 determinism pattern), then the total
    # is rounded at 1e-6 BEFORE the top-20 rank (ties broken on the
    # pair key). A raw double SUM would depend on aggregation order,
    # which differs between engines and across Spark task schedules.
    oracle=f"""
    WITH ok AS (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING COUNT(DISTINCT l_partkey) <= {MAX_BASKET}
    ),
    pairs AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)
    ),
    und AS (
        SELECT u AS node, v AS nbr FROM pairs
        UNION ALL SELECT v, u FROM pairs
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM und GROUP BY node
    ),
    thin AS (  -- drop hub intermediates: tiny 1/ln(deg) weight, huge fan-out
        SELECT e.node, e.nbr, d.degree
        FROM und e JOIN deg d ON d.node = e.node
        WHERE d.degree <= 64
    ),
    cand AS (
        SELECT a.nbr AS u, b.nbr AS v,
               SUM(CAST(ROUND(1.0 / LN(a.degree), 9) AS DECIMAL(38,9))) AS aa,
               CAST(COUNT(*) AS BIGINT) AS common
        FROM thin a JOIN thin b
          ON a.node = b.node AND a.nbr < b.nbr AND a.degree > 1
        GROUP BY a.nbr, b.nbr
    )
    SELECT c.u, c.v, c.common, CAST(ROUND(c.aa, 6) AS DOUBLE) AS aa_score
    FROM cand c
    LEFT JOIN pairs p ON p.u = c.u AND p.v = c.v
    WHERE p.u IS NULL
    ORDER BY CAST(ROUND(c.aa, 6) AS DOUBLE) DESC, c.u, c.v LIMIT 20
    """,
)
def q204_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the part co-purchase graph: for
    non-adjacent part pairs sharing neighbors, score Σ 1/ln(deg(n))
    over common neighbors n; top-20 predicted links. The wedge join is
    keyed on the shared intermediate node and hub intermediates
    (degree > 64) are dropped FIRST — they contribute the smallest
    per-term weight yet the quadratic fan-out, so the cap is the scale
    lever (the same top-degree prune every production AA/common-
    neighbors job applies); existing edges are removed by anti-join.
    Degree-1 intermediates are excluded (ln(1)=0 would divide by
    zero — they form no wedge anyway)."""
    from ..operators.stage import materialize_stage

    # r15 (guide §1.2/§2.4): the r14 driver plan showed the pair-table
    # subtree replicated under EVERY broadcast branch (18 lineitem
    # scans, 50 Exchanges — broadcast exchanges are never reused across
    # different build sides). Materialize the pair table once; und, the
    # wedge expansion and the final anti-join all read the checkpoint —
    # one fact scan total. (The r13 warning in _part_pairs was about
    # memo_stage CROSS-QUERY residency plus the wedge self-join losing
    # AQE; this is per-query materialization and the self-join is gone.)
    pairs = materialize_stage(_part_pairs(spark, sf_dir))
    und = pairs.selectExpr("u AS node", "v AS nbr").unionAll(
        pairs.selectExpr("v AS node", "u AS nbr")
    )
    # One groupBy(node) replaces deg + the und⋈deg join + the wedge
    # self-join (the cooccur operator's measured pattern): each center's
    # sorted neighbor set is collected once — und rows are distinct by
    # construction, so degree == size of the set — hub centers
    # (degree > 64) and degree-1 centers drop exactly as `thin` and the
    # `ta.degree > 1` filter did, and the C(k,2) wedge fan-out streams
    # out of the set through cooccur.upper_pairs (at most C(64,2) = 2016
    # wedges per center after the hub prune), each wedge row carrying
    # its center's weight w. The neighbor rows shuffle ONCE and there is
    # no self-join. Per-wedge weights/counts are identical by
    # construction, and the decimal sum is order-free — results
    # bit-identical (oracle unchanged).
    centers = (
        und.groupBy("node")
        .agg(F.array_sort(F.collect_set("nbr")).alias("ps"))
        .where((F.size("ps") <= 64) & (F.size("ps") > 1))
        .select(
            F.round(F.lit(1.0) / F.log(F.size("ps").cast("long")), 9)
            .cast("decimal(38,9)")
            .alias("w"),
            "ps",
        )
    )
    cand = (
        upper_pairs(centers, "ps", "w")
        .groupBy("u", "v")
        .agg(F.sum("w").alias("aa"), F.count("*").alias("common"))
    )
    return (
        cand.join(pairs, ["u", "v"], "left_anti")
        .select(
            "u",
            "v",
            "common",
            F.round("aa", 6).cast("double").alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "u", "v")
        .limit(20)
    )
