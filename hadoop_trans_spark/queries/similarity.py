"""Similarity-search queries (E35): brute-force cosine top-k, the
IVF-style two-stage ANN, and sign-LSH bucketed near-dup over the
embeddings table."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.similarity import (
    cosine_topk,
    ivf_topk,
    random_hyperplanes,
    signlsh_near_duplicates,
)
from .base import (
    _dec_out,
    dterm,
    o_davg,
    o_vec_usable,
    query,
    vec_usable,
    vec_valid,
)

_COS = (
    "list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))"
    "    * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))"
)


@query(
    "q44_cosine_topk",
    oracle=f"""
    SELECT q_id, c_id, cos, rank FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             CAST(ROUND({_COS}, 6) AS DOUBLE) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY ROUND({_COS}, 6) DESC, c.vec_id) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 8
        AND (q.embedding IS NOT NULL AND len(list_filter(q.embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(q.embedding, x -> x <> 0)) > 0)
        AND (c.embedding IS NOT NULL AND len(list_filter(c.embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(c.embedding, x -> x <> 0)) > 0)
    ) WHERE rank <= 5
    ORDER BY q_id, rank
    """,
)
def q44_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 8 query vectors against the corpus.

    Scale plan: queries broadcast; per-partition dot products (JVM
    higher-order fns, codegen'd); top-k via per-query window. Ordering on
    ROUND(cos,6) + id makes ranks engine-reproducible."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return cosine_topk(q, c, k=5, query_id="q_id", corpus_id="c_id").orderBy(
        "q_id", "rank"
    )


def _signlsh_oracle(n_planes: int = 32, bands: int = 4, dim: int = 64, top: int = 20) -> str:
    """Generate the DuckDB twin of signlsh_near_duplicates: the SAME
    deterministic hyperplanes are rendered as SQL literals, so both
    engines compute bit-identical signatures with no shared hash fn."""
    r = n_planes // bands
    planes = random_hyperplanes(n_planes, dim)
    bit_exprs = " || ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ",".join(f"{x:.1f}" for x in row)
        + "]) > 0 THEN '1' ELSE '0' END)"
        for row in planes
    )
    return f"""
    WITH pre AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)
    ),
    sig AS (SELECT id, {bit_exprs} AS s FROM pre),
    banded AS (
      SELECT id, b, substring(s, b * {r} + 1, {r}) AS band_sig
      FROM sig, generate_series(0, {bands - 1}) g(b)
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b ON a.b = b.b AND a.band_sig = b.band_sig
      WHERE a.id < b.id
    ),
    scored AS (
      SELECT c.id_a, c.id_b,
             CAST(ROUND(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS DOUBLE) AS cos
      FROM cand c
      JOIN pre x ON x.id = c.id_a
      JOIN pre y ON y.id = c.id_b
    )
    SELECT id_a, id_b, cos FROM scored
    ORDER BY cos DESC, id_a, id_b
    LIMIT {top}
    """


@query("q69_signlsh_neardup", oracle=_signlsh_oracle())
def q69_signlsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed cosine near-dup: top-20 candidate pairs by exact
    cosine (operators.similarity.signlsh_near_duplicates with the
    threshold open, then a global top-k).

    This is the ANN fallback for embedding dedup when blocking keys grow
    quadratically (q43's documented 100 TB boundary): candidates come
    from a (band, signature) equi-join — MinHash-banding topology, ~1.5%
    of random pairs — and only candidates pay the exact-cosine
    verification. The synthetic fixture has no planted high-cosine dups,
    so the query reports the strongest candidates rather than filtering
    at a near-dup threshold; recall at a real threshold t is
    1-(1-p^8)^4 with p = 1 - acos(t)/pi (~75% at cos 0.9), tuned via
    (n_planes, bands)."""
    e = table(spark, sf_dir, "embeddings")
    pairs = signlsh_near_duplicates(e, threshold=-1.0)
    return pairs.orderBy(F.col("cos").desc(), "id_a", "id_b").limit(20)


@query(
    "q45_ivf_topk",
    oracle=f"""
    WITH cents AS (
      SELECT label, list(m ORDER BY pos) AS centroid FROM (
        SELECT label, pos, avg(embedding[pos]::DOUBLE) AS m
        FROM (SELECT label, embedding,
                     unnest(range(1, len(embedding) + 1)) AS pos
              FROM embeddings WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0))
        GROUP BY label, pos
      ) GROUP BY label
    ),
    qs AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
           FROM embeddings WHERE vec_id < 5 AND (embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)),
    probed AS (
      SELECT q_id, q_vec, label FROM (
        SELECT q.q_id, q.q_vec, c.label,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY ROUND(list_dot_product(q.q_vec, c.centroid)
                       / (sqrt(list_dot_product(q.q_vec, q.q_vec))
                          * sqrt(list_dot_product(c.centroid, c.centroid))), 6) DESC,
                       c.label) AS cell_rank
        FROM qs q CROSS JOIN cents c
      ) WHERE cell_rank <= 2
    )
    SELECT q_id, c_id, cos, rank FROM (
      SELECT p.q_id, e.vec_id AS c_id,
             CAST(ROUND(list_dot_product(p.q_vec, e.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(p.q_vec, p.q_vec))
                     * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6)
                  AS DOUBLE) AS cos,
             row_number() OVER (PARTITION BY p.q_id ORDER BY
               ROUND(list_dot_product(p.q_vec, e.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(p.q_vec, p.q_vec))
                     * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) DESC,
               e.vec_id) AS rank
      FROM probed p JOIN embeddings e
        ON e.label = p.label AND e.vec_id <> p.q_id AND (e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(e.embedding, x -> x <> 0)) > 0)
    ) WHERE rank <= 3
    ORDER BY q_id, rank
    """,
)
def q45_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: per-cell centroids (cell = label) → probe top-2
    cells per query → exact top-3 within probed cells.

    Scale plan: centroid build is two shuffles over (cell,pos); the probe
    joins queries only against 2/|cells| of the corpus — with the corpus
    written `partitionBy(cell)`, that's real partition pruning."""
    e = table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    corpus = e.select(F.col("vec_id").alias("c_id"), "label", "embedding")
    return ivf_topk(
        q, corpus, k=3, n_probe=2, cell="label", query_id="q_id", corpus_id="c_id"
    ).orderBy("q_id", "rank")


# Shared unrolled-Lloyd CTE (2 iterations, k=8): init by lowest ids,
# per-iteration assignment with rounded distances and ordinal
# tie-breaks, decimal-mean centroid update — a2 is the final
# (id, cluster, d2) assignment. Used by q105 (cluster fingerprint)
# and q249 (SemDeDup semantic dedup within clusters).
_KMEANS_CTE = f"""
    WITH x AS (
           -- v is coalesce-sanitized so every downstream
           -- list_dot_product is a TOTAL function: DuckDB's optimizer
           -- may reorder a later predicate (e.g. v_sq > 0) below this
           -- CTE's validity filter, evaluating the dot on rows the
           -- filter excludes — list_dot_product ERRORS on their NULL
           -- elements (r13 vec-probe find via q249's vv join).
           -- Surviving rows carry no NULL elements, values unchanged.
           SELECT vec_id AS id,
                  list_transform(embedding::DOUBLE[],
                                 y -> coalesce(y, 0.0)) AS v
           FROM embeddings WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0)),
    xs AS (SELECT id, v, list_dot_product(v, v) AS v_sq FROM x),
    c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
                  v AS c, list_dot_product(v, v) AS c_sq
           FROM (SELECT id, v FROM x ORDER BY id LIMIT 8)),
    a1 AS (SELECT * FROM (
             SELECT xs.id, xs.v, c0.cluster,
                    ROUND(xs.v_sq + c0.c_sq
                          - 2 * list_dot_product(xs.v, c0.c), 6) AS d2,
                    ROW_NUMBER() OVER (PARTITION BY xs.id
                        ORDER BY ROUND(xs.v_sq + c0.c_sq
                          - 2 * list_dot_product(xs.v, c0.c), 6),
                                 c0.cluster) AS rk
             FROM xs CROSS JOIN c0) WHERE rk = 1),
    m1 AS (SELECT cluster, pos,
                  {o_davg("v[pos]", count="COUNT(*)")} AS m
           FROM (SELECT cluster, v,
                        UNNEST(range(1, len(v) + 1)) AS pos FROM a1)
           GROUP BY 1, 2),
    c1 AS (SELECT cluster, c, list_dot_product(c, c) AS c_sq
           FROM (SELECT cluster, list(m ORDER BY pos) AS c FROM m1 GROUP BY 1)),
    a2 AS (SELECT * FROM (
             SELECT xs.id, c1.cluster,
                    ROUND(xs.v_sq + c1.c_sq
                          - 2 * list_dot_product(xs.v, c1.c), 6) AS d2,
                    ROW_NUMBER() OVER (PARTITION BY xs.id
                        ORDER BY ROUND(xs.v_sq + c1.c_sq
                          - 2 * list_dot_product(xs.v, c1.c), 6),
                                 c1.cluster) AS rk
             FROM xs CROSS JOIN c1) WHERE rk = 1)
"""


@query(
    "q105_kmeans_clusters",
    oracle=_KMEANS_CTE + f"""
    SELECT cluster, COUNT(*) AS n,
           (CASE WHEN ABS(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END))) < 1000000000000 THEN (CASE WHEN ABS(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END))) < 1000000000000 THEN CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 3) AS DOUBLE) ELSE CAST(CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 0) AS DECIMAL(38,0)) AS DOUBLE) END) ELSE CAST(CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(d2) THEN (d2) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(d2) THEN (d2) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 0) AS DECIMAL(38,0)) AS DOUBLE) END) AS inertia
    FROM a2 GROUP BY 1 ORDER BY 1
    """,
)
def q105_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means, 2 Lloyd iterations, k=8
    (operators/kmeans.py): per-cluster size and inertia after the second
    assignment. Fully differential — the oracle unrolls both iterations
    as CTEs, so init choice, distance rounding, tie-breaks, and the
    decimal-mean centroid update are all pinned across engines. Per
    iteration the corpus is scanned once against k broadcast centroids —
    never self-joined — which is what lets the same operator assign
    clusters over a 100 TB corpus after fitting on a sample."""
    from ..operators.kmeans import kmeans_assignments

    e = table(spark, sf_dir, "embeddings")
    assigned = kmeans_assignments(e, k=8, iters=2)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            # _dec_out at scale 3 mirrors the oracle's magnitude branch:
            # inertia sums past 1e12 (reachable — components up to
            # VEC_CAP pass the filter) round to whole units on both
            # engines instead of diverging in the sub-unit digits.
            _dec_out(F.sum(dterm("d2", 6)), 3).alias("inertia"),
        )
        .orderBy("cluster")
    )


@query(
    "q119_hard_negatives",
    oracle="""
    WITH x AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS nrm
        FROM embeddings WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)
    )
    SELECT q_id, neg_id, label_q, label_n, cos FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS neg_id,
               q.label AS label_q, c.label AS label_n,
               CAST(ROUND(list_dot_product(q.v, c.v)
                          / (q.nrm * c.nrm), 6) AS DOUBLE) AS cos,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY ROUND(list_dot_product(q.v, c.v)
                                  / (q.nrm * c.nrm), 6) DESC,
                            c.vec_id) AS rk
        FROM x q JOIN x c
          ON q.label <> c.label
        WHERE q.vec_id < 20
    ) WHERE rk = 1
    ORDER BY q_id
    """,
)
def q119_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the most cosine-similar vector with a DIFFERENT label — the pairs
    that teach an embedding model the most. Anchors broadcast against
    the corpus (single-vector norms hoisted before the pair join, q43's
    physical rule), top-1 via window over rounded cosine with id
    tie-break. At 100 TB the anchor set shards and the corpus side
    swaps in q69's sign-LSH candidates so the pair stage stays bounded."""
    from ..operators.similarity import _dbl, dot

    # NULL vectors excluded symmetrically with the oracle (kmeans rule,
    # NULL-probe find r10).
    e = table(spark, sf_dir, "embeddings").where(
        vec_valid()
    )
    x = e.select(
        "vec_id",
        "label",
        _dbl(F.col("embedding")).alias("v"),
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    q = (
        x.where(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("label_q"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    c = x.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("label_n"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("label_q") != F.col("label_n"))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).cast("double"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "neg_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("q_id", "neg_id", "label_q", "label_n", "cos")
        .orderBy("q_id")
    )


@query(
    "q131_tfidf_cosine_pairs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  w -> length(w) >= 1)) AS w
        FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dfs AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
    nn AS (SELECT COUNT(*) AS n FROM documents),
    tw AS (
        SELECT t.doc_id, t.w,
               t.tf * ROUND(ln((SELECT n FROM nn) * 1e0 / d.df), 6) AS wt
        FROM tf t JOIN dfs d USING (w)
    ),
    norms AS (
        -- nrm = 0 (all-stop-word doc, every idf 0) is excluded in both
        -- engines: Spark would raise ANSI DIVIDE_BY_ZERO, DuckDB's 0/0
        -- NaN would fail the cosine filter anyway.
        SELECT * FROM (
            SELECT doc_id,
                   sqrt(CAST(SUM(CAST(ROUND(wt * wt, 9) AS DECIMAL(38,9)))
                             AS DOUBLE)) AS nrm
            FROM tw GROUP BY 1
        ) WHERE nrm > 0
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM tf a
        JOIN tf b ON a.w = b.w AND a.doc_id < b.doc_id
        JOIN dfs d ON d.w = a.w
        WHERE d.df BETWEEN 2 AND GREATEST(50, (SELECT n FROM nn) // 10)
    ),
    dots AS (
        SELECT c.id_a, c.id_b,
               CAST(SUM(CAST(ROUND(x.wt * y.wt, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) AS dot
        FROM cand c
        JOIN tw x ON x.doc_id = c.id_a
        JOIN tw y ON y.doc_id = c.id_b AND y.w = x.w
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT d.id_a, d.id_b,
               CAST(ROUND(d.dot / (na.nrm * nb.nrm), 4) AS DOUBLE) AS cosine
        FROM dots d
        JOIN norms na ON na.doc_id = d.id_a
        JOIN norms nb ON nb.doc_id = d.id_b
        WHERE d.dot / (na.nrm * nb.nrm) >= 0.3
    ),
    sym AS (
        SELECT id_a AS doc_id, id_b AS best_match, cosine FROM scored
        UNION ALL
        SELECT id_b AS doc_id, id_a AS best_match, cosine FROM scored
    )
    SELECT doc_id, best_match, cosine FROM (
        SELECT doc_id, best_match, cosine,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cosine DESC, best_match) AS rk
        FROM sym
    ) WHERE rk = 1 ORDER BY doc_id
    """,
)
def q131_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest lexical neighbor per document by sparse TF-IDF cosine —
    the lexical-overlap twin of the dense embedding near-dup (q43/q69),
    computed from the corpus itself with no model. Candidates come from
    an inverted-posting self-join restricted to mid-frequency terms
    (2 ≤ df ≤ max(50, N/10), relative so the band scales with the
    corpus): stop-word-like terms would pair everything with everything
    (the quadratic blowup), ultra-rare terms pair nothing — the df cap
    bounds fan-out exactly like LSH banding, then the FULL dot product
    runs only for candidates (all shared terms, no cap), so a
    candidate's score is exact; each doc keeps its single best match
    (cosine desc, id tie-break). IDF weights round at 1e-6, products
    sum through decimal(38,9) — ln ulp differences can't move the 1e-4
    cosine. At 100 TB: postings shard by term (the tf groupBy IS the
    shard), candidates bounded per term by the df cap."""
    from ..operators.stage import parallelize_stage

    d = table(spark, sf_dir, "documents")
    # tokenize/explode is the CPU stage; a small consolidated file is
    # one scan split (operators/stage.py parallelize_stage)
    toks = parallelize_stage(d).select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower("text"), "[^a-z]+"),
                lambda w: F.length(w) >= 1,
            )
        ).alias("w"),
    )
    n = d.count()
    # tf feeds three consumers (df counts, weights, postings); cut the
    # lineage so tokenize+count runs once, not per branch (3.2 -> 2.4 s
    # at sf0.1; reliable checkpoint on a cluster via operators/stage.py).
    from ..operators.stage import materialize_stage

    tf = materialize_stage(
        toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    )
    dfs = tf.groupBy("w").agg(F.count("*").alias("df"))
    tw = tf.join(dfs, "w").select(
        "doc_id",
        "w",
        (
            F.col("tf")
            * F.round(F.log(F.lit(float(n)) / F.col("df")), 6)
        ).alias("wt"),
    )
    wsq = F.round(F.col("wt") * F.col("wt"), 9).cast("decimal(38,9)")
    # nrm = 0 happens for real corpora: a doc whose every term appears in
    # every document has idf 0 across the board (all-stop-word docs).
    # Such docs carry no lexical signal and their cosine is 0/0; under
    # ANSI mode that is a DIVIDE_BY_ZERO crash, so they are excluded
    # here — the oracle reaches the same end state because DuckDB's
    # 0/0 = NaN fails the >= 0.3 filter.
    norms = tw.groupBy("doc_id").agg(
        F.sqrt(F.sum(wsq).cast("double")).alias("nrm")
    ).where(F.col("nrm") > 0)
    cap = max(50, n // 10)
    mid = dfs.where((F.col("df") >= 2) & (F.col("df") <= cap)).select("w")
    post = tf.join(mid, "w").select("w", "doc_id")
    cand = (
        post.select("w", F.col("doc_id").alias("id_a"))
        .join(post.select("w", F.col("doc_id").alias("id_b")), "w")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ta = tw.select(F.col("doc_id").alias("id_a"), "w", F.col("wt").alias("wa"))
    tb = tw.select(F.col("doc_id").alias("id_b"), "w", F.col("wt").alias("wb"))
    prod = F.round(F.col("wa") * F.col("wb"), 9).cast("decimal(38,9)")
    dots = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "w"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(prod).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    scored = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .where(cos >= 0.3)
        .select(
            "id_a", "id_b", F.round(cos, 4).cast("double").alias("cosine")
        )
    )
    sym = scored.select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("best_match"),
        "cosine",
    ).unionByName(
        scored.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("best_match"),
            "cosine",
        )
    )
    wk = W.partitionBy("doc_id").orderBy(F.desc("cosine"), "best_match")
    return (
        sym.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") == 1)
        .select("doc_id", "best_match", "cosine")
        .orderBy("doc_id")
    )


@query(
    "q211_embedding_covariance",
    # Per-row products are computed in double (exact: float32 inputs
    # cast exactly), rounded at 1e-9, then decimal-summed — the
    # round-then-decimal pattern that makes the cross-row sum
    # order-independent in both engines; the covariance formula is one
    # double expression in identical operand order, rounded at 1e-6.
    # Only the upper triangle of the top 8x8 dims is emitted (36 rows);
    # the full 64x64 runs identically, the cap keeps the oracle's
    # quadratic unnest cheap.
    oracle="""
    WITH x AS (
        SELECT vec_id, g.i - 1 AS i, CAST(embedding[g.i] AS DOUBLE) AS v
        FROM embeddings
        CROSS JOIN (SELECT UNNEST(range(1, 9)) AS i) g
        WHERE (embedding IS NOT NULL AND len(list_filter(embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(embedding, x -> x <> 0)) > 0)
    ),
    pairs AS (
        SELECT a.i AS i, b.i AS j,
               SUM(CAST(ROUND(a.v * b.v, 9) AS DECIMAL(38,9))) AS sxy,
               COUNT(*) AS n
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        GROUP BY a.i, b.i
    ),
    mu AS (
        SELECT i, SUM(CAST(ROUND(v, 9) AS DECIMAL(38,9))) AS sx
        FROM x GROUP BY i
    )
    SELECT p.i, p.j,
           CAST(ROUND(CAST(p.sxy AS DOUBLE) / p.n
                      - (CAST(ma.sx AS DOUBLE) / p.n)
                        * (CAST(mb.sx AS DOUBLE) / p.n), 6) AS DOUBLE)
               AS cov
    FROM pairs p JOIN mu ma ON ma.i = p.i JOIN mu mb ON mb.i = p.j
    ORDER BY p.i, p.j
    """,
)
def q211_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of embedding dimensions (the first PCA /
    whitening step of an embedding pipeline): each vector emits its
    upper-triangle outer products in-row, and a keyed hash agg sums
    them per (i, j). The explode happens BEFORE the aggregation, so
    map-side combine reduces the shuffle to O(partitions × d²/2) rows
    regardless of corpus size — the distributed Gram-matrix pattern; no
    Python touches the data path. Dims capped at 8 (36 pairs) to keep
    the differential oracle's quadratic unnest cheap; the plan is
    identical at d=64."""
    d = 8
    # NULL vectors excluded symmetrically with the oracle: they carry no
    # components, and the oracle's COUNT(*) denominator would otherwise
    # count their NULL-valued rows (NULL-probe find, r10).
    emb = (
        table(spark, sf_dir, "embeddings")
        .where(vec_valid())
        .select("vec_id", F.slice("embedding", 1, d).alias("e"))
    )
    x = emb.select(
        "vec_id",
        F.posexplode(F.col("e").cast("array<double>")).alias("i", "v"),
    )
    # In-row upper-triangle outer products: each vector expands to its
    # d(d+1)/2 (i, j, x_i*x_j) terms BEFORE the aggregation, so the
    # only shuffle is the (i, j)-keyed agg with map-side combine — no
    # self-join of the exploded table.
    prods = emb.select(
        F.explode(
            F.expr(
                """
                flatten(transform(cast(e AS array<double>), (x, i) ->
                    transform(slice(e, i + 1, size(e) - i), (y, k) ->
                        struct(i AS i, i + k AS j,
                               round(x * cast(y AS double), 9) AS p))))
                """
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.p")
    pairs = prods.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(38,9)")).alias("sxy"),
        F.count("*").alias("n"),
    )
    mu = x.groupBy("i").agg(
        F.sum(F.round("v", 9).cast("decimal(38,9)")).alias("sx")
    )
    ma = mu.select(F.col("i").alias("mi"), F.col("sx").alias("sxa"))
    mb = mu.select(F.col("i").alias("mj"), F.col("sx").alias("sxb"))
    return (
        pairs.join(F.broadcast(ma), pairs.i == ma.mi)
        .join(F.broadcast(mb), pairs.j == mb.mj)
        .select(
            "i",
            "j",
            F.round(
                F.col("sxy").cast("double") / F.col("n")
                - (F.col("sxa").cast("double") / F.col("n"))
                * (F.col("sxb").cast("double") / F.col("n")),
                6,
            )
            .cast("double")
            .alias("cov"),
        )
        .orderBy("i", "j")
    )


@query(
    "q248_embedding_meanpool",
    # Pooling means are decimal sums of 1e-9-rounded components divided
    # by the group count (order-free cross-row sum); the pooled-norm
    # expression lists its 8 squared terms in one literal operand order
    # so both engines evaluate the identical float expression. Emitted
    # dims capped at 8/4 to keep the oracle's unnest cheap — the plan is
    # identical at d=64.
    oracle="""
    WITH x AS (
        SELECT vec_id % 50 AS grp, g.i - 1 AS pos,
               CAST(embedding[g.i] AS DOUBLE) AS v
        FROM embeddings
        CROSS JOIN (SELECT UNNEST(range(1, 9)) AS i) g
        -- len >= 8 on BOTH sides (ADVICE r13): the CROSS JOIN row would
        -- otherwise count a short vector in n_vecs (embedding[i] past
        -- the end is NULL but the row exists) while Spark's posexplode
        -- of the short slice emits fewer rows — state the counting rule
        -- once, identically.
        WHERE {vec_ok} AND len(embedding) >= 8
    ),
    a AS (
        SELECT grp,
               SUM(CASE WHEN pos = 0 THEN 1 ELSE 0 END) AS n_vecs,
               SUM(CASE WHEN pos = 0 THEN CAST(ROUND(v, 9) AS DECIMAL(38,9)) END) AS s0,
               SUM(CASE WHEN pos = 1 THEN CAST(ROUND(v, 9) AS DECIMAL(38,9)) END) AS s1,
               SUM(CASE WHEN pos = 2 THEN CAST(ROUND(v, 9) AS DECIMAL(38,9)) END) AS s2,
               SUM(CASE WHEN pos = 3 THEN CAST(ROUND(v, 9) AS DECIMAL(38,9)) END) AS s3,
               SUM(CASE WHEN pos = 4 THEN CAST(ROUND(v, 9) AS DECIMAL(38,9)) END) AS s4,
               SUM(CASE WHEN pos = 5 THEN CAST(ROUND(v, 9) AS DECIMAL(38,9)) END) AS s5,
               SUM(CASE WHEN pos = 6 THEN CAST(ROUND(v, 9) AS DECIMAL(38,9)) END) AS s6,
               SUM(CASE WHEN pos = 7 THEN CAST(ROUND(v, 9) AS DECIMAL(38,9)) END) AS s7
        FROM x GROUP BY grp
    )
    SELECT grp,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(ROUND(CAST(s0 AS DOUBLE) / n_vecs, 6) AS DOUBLE) AS m0,
           CAST(ROUND(CAST(s1 AS DOUBLE) / n_vecs, 6) AS DOUBLE) AS m1,
           CAST(ROUND(CAST(s2 AS DOUBLE) / n_vecs, 6) AS DOUBLE) AS m2,
           CAST(ROUND(CAST(s3 AS DOUBLE) / n_vecs, 6) AS DOUBLE) AS m3,
           CAST(ROUND(SQRT((CAST(s0 AS DOUBLE) / n_vecs) * (CAST(s0 AS DOUBLE) / n_vecs) + (CAST(s1 AS DOUBLE) / n_vecs) * (CAST(s1 AS DOUBLE) / n_vecs) + (CAST(s2 AS DOUBLE) / n_vecs) * (CAST(s2 AS DOUBLE) / n_vecs) + (CAST(s3 AS DOUBLE) / n_vecs) * (CAST(s3 AS DOUBLE) / n_vecs) + (CAST(s4 AS DOUBLE) / n_vecs) * (CAST(s4 AS DOUBLE) / n_vecs) + (CAST(s5 AS DOUBLE) / n_vecs) * (CAST(s5 AS DOUBLE) / n_vecs) + (CAST(s6 AS DOUBLE) / n_vecs) * (CAST(s6 AS DOUBLE) / n_vecs) + (CAST(s7 AS DOUBLE) / n_vecs) * (CAST(s7 AS DOUBLE) / n_vecs)), 6) AS DOUBLE) AS norm8
    FROM a ORDER BY grp
    """.replace("{vec_ok}", o_vec_usable()),
)
def q248_embedding_meanpool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elementwise mean-pooling of embedding vectors per group — the
    chunk→document pooling step of an embedding pipeline (chunks are
    embedded independently, the document vector is their centroid).
    Physical shape: posexplode BEFORE the aggregation, so the one
    shuffle carries (group, dim)-keyed partial decimal sums with
    map-side combine — O(groups × d) rows regardless of corpus size;
    pooled means come from ONE conditional-sum hash agg (no pivot
    shuffle, no self-join). Zero vectors are valid pooling inputs
    (vec_usable, not the cosine-only nonzero-norm rule); NaN/inf
    components exclude the vector symmetrically with the oracle."""
    d = 8
    emb = (
        table(spark, sf_dir, "embeddings")
        # size >= d mirrors the oracle's len(embedding) >= 8 conjunct
        # (ADVICE r13): a shorter vector must not count toward n_vecs in
        # either engine.
        .where(vec_usable() & (F.size("embedding") >= d))
        .select(
            (F.col("vec_id") % 50).alias("grp"),
            F.slice("embedding", 1, d).alias("e"),
        )
    )
    x = emb.select(
        "grp", F.posexplode(F.col("e").cast("array<double>")).alias("pos", "v")
    )
    dec = F.round(F.col("v"), 9).cast("decimal(38,9)")
    a = x.groupBy("grp").agg(
        F.sum(F.when(F.col("pos") == 0, 1).otherwise(0)).alias("n_vecs"),
        *[
            F.sum(F.when(F.col("pos") == k, dec)).alias(f"s{k}")
            for k in range(d)
        ],
    )
    m = [
        (F.col(f"s{k}").cast("double") / F.col("n_vecs")) for k in range(d)
    ]
    norm8 = sum(mk * mk for mk in m)
    return a.select(
        "grp",
        F.col("n_vecs").cast("long").alias("n_vecs"),
        *[F.round(m[k], 6).alias(f"m{k}") for k in range(4)],
        F.round(F.sqrt(norm8), 6).alias("norm8"),
    ).orderBy("grp")


@query(
    "q249_semantic_dedup",
    # SemDeDup (Abbas et al. '23 shape): cluster the embedding space,
    # then near-dup ONLY within clusters — the cluster is the blocking
    # key, so the quadratic is bounded by cluster size instead of the
    # corpus. The oracle extends the unrolled-Lloyd CTE (a2 = final
    # assignments) with the within-cluster cosine pair join (nonzero
    # norms only — the cosine-validity rule) and the keep-lowest-id
    # drop rule.
    oracle=_KMEANS_CTE + """
    , vv AS (
        -- coalesce-sanitized vector: DuckDB may evaluate the dup CTE's
        -- cosine predicate BEFORE the validity filters (filter
        -- reordering assumes total expressions), and list_dot_product
        -- ERRORS on NULL elements it would see on rows the filters
        -- exclude (r13 vec-probe find on this query's first draft).
        -- Surviving rows have no NULL elements, so values are unchanged.
        SELECT a2.id, a2.cluster,
               list_transform(xs.v, y -> coalesce(y, 0.0)) AS v,
               sqrt(xs.v_sq) AS n
        FROM a2 JOIN xs ON xs.id = a2.id
        WHERE xs.v_sq > 0
    ),
    dup AS (
        SELECT a.cluster, a.id AS id_a, b.id AS id_b
        FROM vv a JOIN vv b
          ON a.cluster = b.cluster AND a.id < b.id
        WHERE ROUND(list_dot_product(a.v, b.v) / (a.n * b.n), 6) >= 0.4
    ),
    dropped AS (
        SELECT cluster, id_b FROM dup GROUP BY cluster, id_b
    )
    SELECT a2.cluster,
           COUNT(*) AS n_members,
           CAST(COALESCE(MAX(d.n_dropped), 0) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COALESCE(MAX(d.n_dropped), 0) AS BIGINT)
               AS n_kept
    FROM a2
    LEFT JOIN (SELECT cluster, COUNT(*) AS n_dropped
               FROM dropped GROUP BY cluster) d
           ON d.cluster = a2.cluster
    GROUP BY a2.cluster
    ORDER BY a2.cluster
    """,
)
def q249_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — semantic deduplication of an embedding corpus: k-means
    clusters the space (operators/kmeans.py, the q105 operator), then
    cosine near-dups are found ONLY within a cluster
    (operators.similarity.embedding_near_duplicates with the CLUSTER as
    the blocking key) and each duplicate pair keeps its lowest id. At
    100 TB this is the standard shape: the cluster step is a broadcast
    scan per iteration, the pair step's quadratic is bounded by cluster
    size (sub-shard or cap clusters that exceed a budget — the same
    hot-bucket rule as LSH bands), and the drop set is an anti-join.
    Zero-norm vectors cluster fine (Euclidean) but cannot cosine-pair;
    they are always kept — stated identically in the oracle.
    Threshold 0.4 is fixture-calibrated so the driver row exercises a
    NON-empty drop set (the q243 zero-row lesson)."""
    from ..operators.kmeans import kmeans_assignments
    from ..operators.similarity import embedding_near_duplicates

    e = table(spark, sf_dir, "embeddings")
    assigned = kmeans_assignments(e, k=8, iters=2).select(
        F.col("id").alias("vec_id"), "cluster"
    )
    blocked = e.join(assigned, "vec_id")
    pairs = embedding_near_duplicates(blocked, threshold=0.4, block="cluster")
    dropped = (
        pairs.join(
            assigned.select(F.col("vec_id").alias("id_b"), "cluster"), "id_b"
        )
        .select("cluster", "id_b")
        .distinct()
        .groupBy("cluster")
        .agg(F.count("*").alias("n_dropped"))
    )
    return (
        assigned.groupBy("cluster")
        .agg(F.count("*").alias("n_members"))
        .join(dropped, "cluster", "left")
        .select(
            "cluster",
            "n_members",
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
            (
                F.col("n_members") - F.coalesce(F.col("n_dropped"), F.lit(0))
            ).cast("long").alias("n_kept"),
        )
        .orderBy("cluster")
    )


def _pq_subspace_cte(
    s: int, lo: int, hi: int, k: int = 4, src: str = "xb", lut: bool = True
) -> str:
    """Unrolled 2-iteration Lloyd over one PQ subspace (q105's CTE shape
    parameterized): ``src`` must already exist as (id, v) valid
    sanitized full vectors (``xb`` for flat PQ; the residual base for
    q256). Emits xq{s} (subvectors + norms), c1{s} (the fitted
    codebook) and a2{s} (the per-vector code); ``lut`` adds the flat
    per-query LUT (q251/q253) — residual variants build their own
    (query, cell)-keyed LUT instead."""
    davg = o_davg("v[pos]", count="COUNT(*)")
    lut_cte = f""",
    lut{s} AS (SELECT q.id AS q_id, c.cluster,
                      ROUND(xq.v_sq + c.c_sq
                          - 2 * list_dot_product(xq.v, c.c), 6) AS d2
               FROM qids q
               JOIN xq{s} xq ON xq.id = q.id
               CROSS JOIN c1{s} c)"""
    return f"""
    xs{s} AS (SELECT id, v[{lo}:{hi}] AS v FROM {src}),
    xq{s} AS (SELECT id, v, list_dot_product(v, v) AS v_sq FROM xs{s}),
    c0{s} AS (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
                     v AS c, list_dot_product(v, v) AS c_sq
              FROM (SELECT id, v FROM xs{s} ORDER BY id LIMIT {k})),
    a1{s} AS (SELECT * FROM (
              SELECT xq.id, xq.v, c.cluster,
                     ROW_NUMBER() OVER (PARTITION BY xq.id
                         ORDER BY ROUND(xq.v_sq + c.c_sq
                             - 2 * list_dot_product(xq.v, c.c), 6),
                                  c.cluster) AS rk
              FROM xq{s} xq CROSS JOIN c0{s} c) WHERE rk = 1),
    m1{s} AS (SELECT cluster, pos, {davg} AS m
              FROM (SELECT cluster, v,
                           UNNEST(range(1, len(v) + 1)) AS pos FROM a1{s})
              GROUP BY 1, 2),
    c1{s} AS (SELECT cluster, c, list_dot_product(c, c) AS c_sq
              FROM (SELECT cluster, list(m ORDER BY pos) AS c
                    FROM m1{s} GROUP BY 1)),
    a2{s} AS (SELECT id, cluster FROM (
              SELECT xq.id, c.cluster,
                     ROW_NUMBER() OVER (PARTITION BY xq.id
                         ORDER BY ROUND(xq.v_sq + c.c_sq
                             - 2 * list_dot_product(xq.v, c.c), 6),
                                  c.cluster) AS rk
              FROM xq{s} xq CROSS JOIN c1{s} c) WHERE rk = 1){lut_cte if lut else ""}"""


_PQ_ORACLE = (
    """
    WITH xb AS (
           SELECT vec_id AS id,
                  list_transform(embedding::DOUBLE[],
                                 y -> coalesce(y, 0.0)) AS v
           FROM embeddings WHERE ("""
    + o_vec_usable()
    + """)),
    qids AS (SELECT id FROM xb WHERE id < 5),"""
    + _pq_subspace_cte(0, 1, 32)
    + ","
    + _pq_subspace_cte(1, 33, 64)
    + """,
    cand AS (
        SELECT l0.q_id, a0.id AS neighbor_id,
               ROUND(l0.d2 + l1.d2, 6) AS approx_d2
        FROM a20 a0
        JOIN a21 a1x ON a1x.id = a0.id
        JOIN lut0 l0 ON l0.cluster = a0.cluster
        JOIN lut1 l1 ON l1.cluster = a1x.cluster AND l1.q_id = l0.q_id
        WHERE a0.id <> l0.q_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY approx_d2, neighbor_id) AS rk
        FROM cand
    )
    SELECT q_id, CAST(rk AS INT) AS rk, neighbor_id,
           CAST(approx_d2 AS DOUBLE) AS approx_d2
    FROM ranked WHERE rk <= 3
    ORDER BY q_id, rk
    """
)


def _pq_encode(
    spark: SparkSession,
    base: DataFrame,
    q_pred,
    subspaces=((1, 32), (33, 32)),
    k: int = 4,
    fit_sample_frac: float | None = None,
):
    """PQ codebook fit + encode + query LUT build, shared by q251 (flat
    PQ) and q253 (IVF+PQ). ``base`` is (vec_id, v) sanitized doubles;
    ``q_pred`` selects the query rows (None skips the flat LUT build
    entirely — residual variants key their LUTs by (query, cell) and
    build them themselves). Returns (codes, luts, books): codes =
    (vec_id, code0, code1) — 2 bytes/vector at scale; luts[s] =
    (q{s}, k{s}, d2_{s}), |queries| x k rows, broadcast-sized.
    ``fit_sample_frac`` passes through to kmeans_fit_fused: at corpus scale
    the codebooks are fitted on a deterministic sample and only the
    ENCODE pass (one nearest-codeword projection, zero shuffle) touches
    every vector. Also returns the fitted per-subspace codebook
    DataFrames (cluster, c, c_sq) so residual variants (q256) can build
    their own (query, cell)-keyed LUTs."""
    from ..operators.kmeans import kmeans_fit_fused

    codes = None
    luts = []
    books = []
    subs = [
        base.select("vec_id", F.slice("v", lo, n).alias("embedding"))
        for (lo, n) in subspaces
    ]
    # r15 (VERDICT r14 item 8, guide §2.4): the per-subspace Lloyd fits
    # are FUSED into one (subspace)-keyed run — one corpus scan and one
    # centroid collect per iteration for ALL subspaces, instead of one
    # per subspace (the r14 thread pool overlapped the separate fits'
    # round-trips but still paid S scans and S materializations).
    # Per-subspace results are bit-identical to the separate fits
    # (kmeans_fit_fused's contract, differential-tested); the zip below
    # consumes them in subspace order exactly as before.
    fits = kmeans_fit_fused(
        base,
        [F.slice("v", lo, n) for (lo, n) in subspaces],
        k=k,
        iters=2,
        fit_sample_frac=fit_sample_frac,
    )
    for s, ((assigned, cents), (lo, n)) in enumerate(zip(fits, subspaces)):
        sub = subs[s]
        c_s = assigned.select(
            F.col("id").alias("vec_id"), F.col("cluster").alias(f"code{s}")
        )
        codes = c_s if codes is None else codes.join(c_s, "vec_id")
        cent_df = spark.createDataFrame(
            [(int(r["cluster"]), list(r["c"]), float(r["c_sq"])) for r in cents],
            "cluster int, c array<double>, c_sq double",
        )
        books.append(cent_df)
        if q_pred is None:
            continue
        qv = sub.where(q_pred).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            ).alias("q_sq"),
        )
        dot_qc = F.aggregate(
            F.zip_with(F.col("qv"), F.col("c"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        luts.append(
            qv.crossJoin(F.broadcast(cent_df)).select(
                F.col("q_id").alias(f"q{s}"),
                F.col("cluster").alias(f"k{s}"),
                F.round(
                    F.col("q_sq") + F.col("c_sq") - 2 * dot_qc, 6
                ).alias(f"d2_{s}"),
            )
        )
    return codes, luts, books


@query("q251_pq_ann", oracle=_PQ_ORACLE)
def q251_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the memory-scale path of a 100 TB
    vector index (IVF routes the search, q45; PQ compresses the
    residuals): the embedding splits into 2 subspaces, each fitted with
    its own k=4 codebook (the SAME deterministic Lloyd as q105, on the
    subvectors), every vector is encoded as a 2-code tuple, and a query
    scores candidates from a LOOKUP TABLE — one distance per (query,
    subspace, codeword), never a full-vector dot per candidate. Top-3
    approximate neighbors per query, ties broken by id. At 100 TB the
    codes table is 2 bytes/vector (vs 256 for float32 d=64 — the whole
    point), the LUT is queries × 8 cells broadcast, and scoring is one
    equi-join on the code columns."""
    e = table(spark, sf_dir, "embeddings").where(vec_usable())
    # Sanitize exactly like the oracle's xb (no NULL elements survive
    # the usable filter, so values are unchanged — the coalesce keeps
    # every downstream dot total under ANY predicate ordering).
    vd = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda y: F.coalesce(y, F.lit(0.0)),
    )
    base = e.select("vec_id", vd.alias("v"))
    codes, luts, _books = _pq_encode(spark, base, F.col("vec_id") < 5)

    cand = (
        codes.join(
            F.broadcast(luts[0]), F.col("code0") == F.col("k0")
        )
        .join(
            F.broadcast(luts[1]),
            (F.col("code1") == F.col("k1")) & (F.col("q0") == F.col("q1")),
        )
        .where(F.col("vec_id") != F.col("q0"))
        .select(
            F.col("q0").alias("q_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("d2_0") + F.col("d2_1"), 6).alias("approx_d2"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("q_id").orderBy("approx_d2", "neighbor_id")
    )
    return (
        cand.withColumn("rk", rk)
        .where(F.col("rk") <= 3)
        .select("q_id", "rk", "neighbor_id", "approx_d2")
        .orderBy("q_id", "rk")
    )


_IVFPQ_ORACLE = (
    """
    WITH xb AS (
           SELECT vec_id AS id, label,
                  list_transform(embedding::DOUBLE[],
                                 y -> coalesce(y, 0.0)) AS v
           FROM embeddings WHERE ("""
    + o_vec_usable()
    + """)),
    qids AS (SELECT id FROM xb WHERE id < 5),"""
    + _pq_subspace_cte(0, 1, 32)
    + ","
    + _pq_subspace_cte(1, 33, 64)
    + f""",
    mc AS (SELECT label, pos, {o_davg("v[pos]", count="COUNT(*)")} AS m
           FROM (SELECT label, v, UNNEST(range(1, len(v) + 1)) AS pos
                 FROM xb)
           GROUP BY 1, 2),
    cents AS (SELECT label, c, list_dot_product(c, c) AS c_sq
              FROM (SELECT label, list(m ORDER BY pos) AS c
                    FROM mc GROUP BY 1)),
    qv AS (SELECT id, v, list_dot_product(v, v) AS v_sq
           FROM xb WHERE id < 5),
    routed AS (SELECT q_id, label FROM (
        SELECT q.id AS q_id, c.label,
               ROW_NUMBER() OVER (PARTITION BY q.id
                   ORDER BY ROUND(q.v_sq + c.c_sq
                       - 2 * list_dot_product(q.v, c.c), 6),
                            c.label) AS crk
        FROM qv q CROSS JOIN cents c) WHERE crk <= 2),
    cand AS (
        SELECT r.q_id, a0.id AS neighbor_id,
               ROUND(l0.d2 + l1.d2, 6) AS approx_d2
        FROM a20 a0
        JOIN a21 a1x ON a1x.id = a0.id
        JOIN xb ON xb.id = a0.id
        JOIN routed r ON r.label = xb.label
        JOIN lut0 l0 ON l0.cluster = a0.cluster AND l0.q_id = r.q_id
        JOIN lut1 l1 ON l1.cluster = a1x.cluster AND l1.q_id = r.q_id
        WHERE a0.id <> r.q_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY approx_d2, neighbor_id) AS rk
        FROM cand
    )
    SELECT q_id, CAST(rk AS INT) AS rk, neighbor_id,
           CAST(approx_d2 AS DOUBLE) AS approx_d2
    FROM ranked WHERE rk <= 3
    ORDER BY q_id, rk
    """
)


@query("q253_ivfpq_ann", oracle=_IVFPQ_ORACLE)
def q253_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composition — how a production vector index actually
    runs at 100 TB: IVF ROUTES (per-cell centroids, probe the top-2
    cells per query — q45's stage), PQ SCORES (2-byte codes + a
    broadcast lookup table — q251's stage). The scoring path touches
    only the routed cells' code rows and never computes a full-vector
    dot per candidate: the only exact dots are centroid build
    (corpus, one (cell,dim) agg), routing (queries x |cells|), and LUT
    build (queries x k codewords) — all broadcast-sized or one-pass.

    Plan shape: equi-joins only. codes->label attach is an equi-join
    here because the fixture is one flat table; a production index
    stores the code table partitionBy(cell) so the attach is a
    write-time property and the routed-cell restriction is partition
    PRUNING, not a join. Quality upgrade documented, not implemented:
    residual encoding (PQ on x - centroid[cell], LUT per (query,cell)
    instead of per query) — same join shape, k x |probed cells| LUT
    rows, strictly better recall at equal code budget.

    Codebooks are fitted corpus-wide on the raw vectors (the flat-PQ
    variant), identically to q251, so the two queries share the
    _pq_encode stage and their approx_d2 values are directly
    comparable: q253 = q251 restricted to the routed cells."""
    from ..operators.kmeans import dot, update_centroids

    e = table(spark, sf_dir, "embeddings").where(vec_usable())
    vd = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda y: F.coalesce(y, F.lit(0.0)),
    )
    xb = e.select("vec_id", "label", vd.alias("v"))
    codes, luts, _books = _pq_encode(
        spark, xb.select("vec_id", "v"), F.col("vec_id") < 5
    )

    # IVF routing: decimal-mean cell centroids (update_centroids is the
    # proven engine/oracle mean pair), L2 rank, top-2 cells per query.
    cents = update_centroids(
        xb.select(F.col("label").alias("cluster"), "v")
    )
    qv = xb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        dot(F.col("v"), F.col("v")).alias("q_sq"),
    )
    d2c = F.round(
        F.col("q_sq") + F.col("c_sq") - 2 * dot(F.col("qv"), F.col("c")), 6
    )
    crk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("d2c"), F.col("cluster"))
    )
    routed = (
        qv.crossJoin(F.broadcast(cents))
        .withColumn("d2c", d2c)
        .withColumn("crk", crk)
        .where(F.col("crk") <= 2)
        .select("q_id", F.col("cluster").alias("label"))
    )

    cand = (
        codes.join(xb.select("vec_id", "label"), "vec_id")
        .join(F.broadcast(routed), "label")
        .join(
            F.broadcast(luts[0]),
            (F.col("code0") == F.col("k0")) & (F.col("q0") == F.col("q_id")),
        )
        .join(
            F.broadcast(luts[1]),
            (F.col("code1") == F.col("k1")) & (F.col("q1") == F.col("q_id")),
        )
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("d2_0") + F.col("d2_1"), 6).alias("approx_d2"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("q_id").orderBy("approx_d2", "neighbor_id")
    )
    return (
        cand.withColumn("rk", rk)
        .where(F.col("rk") <= 3)
        .select("q_id", "rk", "neighbor_id", "approx_d2")
        .orderBy("q_id", "rk")
    )


_IVFPQ_RES_ORACLE = (
    """
    WITH xb AS (
           SELECT vec_id AS id, label,
                  list_transform(embedding::DOUBLE[],
                                 y -> coalesce(y, 0.0)) AS v
           FROM embeddings WHERE ("""
    + o_vec_usable()
    + f""")),
    qids AS (SELECT id FROM xb WHERE id < 5),
    mc AS (SELECT label, pos, {o_davg("v[pos]", count="COUNT(*)")} AS m
           FROM (SELECT label, v, UNNEST(range(1, len(v) + 1)) AS pos
                 FROM xb)
           GROUP BY 1, 2),
    cents AS (SELECT label, c, list_dot_product(c, c) AS c_sq
              FROM (SELECT label, list(m ORDER BY pos) AS c
                    FROM mc GROUP BY 1)),
    rb AS (SELECT xb.id,
                  list_transform(range(1, len(xb.v) + 1),
                                 i -> xb.v[i] - c.c[i]) AS v
           FROM xb JOIN cents c ON c.label = xb.label),"""
    + _pq_subspace_cte(0, 1, 32, src="rb", lut=False)
    + ","
    + _pq_subspace_cte(1, 33, 64, src="rb", lut=False)
    + """,
    qv AS (SELECT id, v, list_dot_product(v, v) AS v_sq
           FROM xb WHERE id < 5),
    routed AS (SELECT q_id, label FROM (
        SELECT q.id AS q_id, c.label,
               ROW_NUMBER() OVER (PARTITION BY q.id
                   ORDER BY ROUND(q.v_sq + c.c_sq
                       - 2 * list_dot_product(q.v, c.c), 6),
                            c.label) AS crk
        FROM qv q CROSS JOIN cents c) WHERE crk <= 2),
    qr AS (SELECT r.q_id, r.label,
                  list_transform(range(1, len(q.v) + 1),
                                 i -> q.v[i] - c.c[i]) AS rv
           FROM routed r
           JOIN qv q ON q.id = r.q_id
           JOIN cents c ON c.label = r.label),
    rlut0 AS (SELECT q_id, label, c.cluster,
                     ROUND(list_dot_product(sub, sub) + c.c_sq
                         - 2 * list_dot_product(sub, c.c), 6) AS d2
              FROM (SELECT q_id, label, rv[1:32] AS sub FROM qr)
              CROSS JOIN c10 c),
    rlut1 AS (SELECT q_id, label, c.cluster,
                     ROUND(list_dot_product(sub, sub) + c.c_sq
                         - 2 * list_dot_product(sub, c.c), 6) AS d2
              FROM (SELECT q_id, label, rv[33:64] AS sub FROM qr)
              CROSS JOIN c11 c),
    cand AS (
        SELECT l0.q_id, a0.id AS neighbor_id,
               ROUND(l0.d2 + l1.d2, 6) AS approx_d2
        FROM a20 a0
        JOIN a21 a1x ON a1x.id = a0.id
        JOIN xb ON xb.id = a0.id
        JOIN rlut0 l0 ON l0.cluster = a0.cluster AND l0.label = xb.label
        JOIN rlut1 l1 ON l1.cluster = a1x.cluster AND l1.label = xb.label
                     AND l1.q_id = l0.q_id
        WHERE a0.id <> l0.q_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY approx_d2, neighbor_id) AS rk
        FROM cand
    )
    SELECT q_id, CAST(rk AS INT) AS rk, neighbor_id,
           CAST(approx_d2 AS DOUBLE) AS approx_d2
    FROM ranked WHERE rk <= 3
    ORDER BY q_id, rk
    """
)


@query("q256_ivfpq_residual_ann", oracle=_IVFPQ_RES_ORACLE)
def q256_ivfpq_residual_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF+PQ (IVFADC, Jégou et al. '11) — the quality
    upgrade q253's docstring documented: PQ codebooks are fitted on the
    RESIDUALS x - centroid[cell] instead of the raw vectors. Residuals
    concentrate near zero, so the same 2-byte code budget quantizes a
    much tighter distribution — strictly better recall at equal code
    size. The price is LUT shape: the query-side distance table is per
    (query, PROBED CELL) — queries x nprobe x k rows instead of
    queries x k — because the query must be re-expressed as a residual
    against each cell it probes.

    Scale shape (identical joins to q253, one extra map-side zip_with):
    the residual transform is zero-shuffle (centroids broadcast, one
    elementwise subtract per vector); codebook fit/encode reuses
    _pq_encode on the residual base; routing is queries x |cells|
    broadcast; scoring is an equi-join of the 2-byte codes against the
    (query, cell)-keyed LUT broadcast — joining the LUT on (code,
    cell) IS the IVF restriction, no separate routed-cells join. No
    full-vector dot ever touches a candidate row."""
    from ..operators.kmeans import dot, update_centroids

    e = table(spark, sf_dir, "embeddings").where(vec_usable())
    vd = F.transform(
        F.col("embedding").cast("array<double>"),
        lambda y: F.coalesce(y, F.lit(0.0)),
    )
    xb = e.select("vec_id", "label", vd.alias("v"))
    cents = update_centroids(
        xb.select(F.col("label").alias("cluster"), "v")
    )
    # Materialized: the codebook fit's actions (per-subspace init,
    # per-iteration collect, final plan) would otherwise each
    # re-execute the centroid agg + residual join (measured 9.9 s ->
    # the stage runs once).
    from ..operators.stage import materialize_stage

    rb = materialize_stage(
        xb.join(
            F.broadcast(cents), xb["label"] == cents["cluster"]
        ).select(
            "vec_id",
            F.zip_with("v", "c", lambda a, b: a - b).alias("v"),
        )
    )
    codes, _luts, books = _pq_encode(spark, rb, None)

    qv = xb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        dot(F.col("v"), F.col("v")).alias("q_sq"),
    )
    d2c = F.round(
        F.col("q_sq") + F.col("c_sq") - 2 * dot(F.col("qv"), F.col("c")), 6
    )
    crk = F.row_number().over(
        W.partitionBy("q_id").orderBy(F.col("d2c"), F.col("cluster"))
    )
    routed = (
        qv.crossJoin(F.broadcast(cents))
        .withColumn("d2c", d2c)
        .withColumn("crk", crk)
        .where(F.col("crk") <= 2)
        .select(
            "q_id",
            F.col("cluster").alias("rlabel"),
            F.zip_with("qv", "c", lambda a, b: a - b).alias("rv"),
        )
    )
    rluts = []
    for s, (lo, n) in enumerate(((1, 32), (33, 32))):
        sub = F.slice("rv", lo, n)
        rluts.append(
            routed.select("q_id", "rlabel", sub.alias("sub"))
            .crossJoin(F.broadcast(books[s]))
            .select(
                F.col("q_id").alias(f"q{s}"),
                F.col("rlabel").alias(f"l{s}"),
                F.col("cluster").alias(f"k{s}"),
                F.round(
                    dot(F.col("sub"), F.col("sub"))
                    + F.col("c_sq")
                    - 2 * dot(F.col("sub"), F.col("c")),
                    6,
                ).alias(f"d2_{s}"),
            )
        )
    cand = (
        codes.join(xb.select("vec_id", "label"), "vec_id")
        .join(
            F.broadcast(rluts[0]),
            (F.col("code0") == F.col("k0"))
            & (F.col("label") == F.col("l0")),
        )
        .join(
            F.broadcast(rluts[1]),
            (F.col("code1") == F.col("k1"))
            & (F.col("label") == F.col("l1"))
            & (F.col("q0") == F.col("q1")),
        )
        .where(F.col("vec_id") != F.col("q0"))
        .select(
            F.col("q0").alias("q_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("d2_0") + F.col("d2_1"), 6).alias("approx_d2"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("q_id").orderBy("approx_d2", "neighbor_id")
    )
    return (
        cand.withColumn("rk", rk)
        .where(F.col("rk") <= 3)
        .select("q_id", "rk", "neighbor_id", "approx_d2")
        .orderBy("q_id", "rk")
    )
