"""Deduplication query surface (E34): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup. Oracles re-run the identical
deterministic pipelines in DuckDB SQL (same md5 seeds, same banding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.minhash import (
    band_signatures,
    candidate_pairs,
    candidate_pairs_between,
    jaccard_verify,
    shingle_array,
)
from ..operators.simhash import simhash
from ..operators.similarity import embedding_near_duplicates
from ..operators.stage import materialize_stage, memo_stage, parallelize_stage
from ..operators.textstats import normalize_text
from .base import query

# The per-process stage memo lives in operators/stage.py (shared with the
# streaming late-batch staging); q40/q64/q68 reuse the verified MinHash
# pairs, q41/q63 the SimHash fingerprints. The materialized tables are
# tiny (pairs: O(dups) rows; fingerprints: 16 B/doc) while recomputing
# them re-runs the md5-dominated shingle pipeline — the "checkpoint a
# multi-consumer stage once" rule (operators/stage.py), lifted across
# queries. Each timed draw (bench.draw) starts from an empty memo, so a
# query's measured time includes every stage it reads.


def _memo_stage(spark: SparkSession, sf_dir: str, tag: str, build) -> DataFrame:
    return memo_stage(spark, sf_dir, tag, lambda: materialize_stage(build()))


def grams3_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (id, grams) word-3-gram shingle stage on `documents`,
    shared by the whole MinHash family (q40/q64/q68/q70 self-join pairs,
    q86 incremental corpus/new split) — the shingle build happens once
    per session per sf_dir, not once per query. The scan is parallelized
    first (operators/stage.py parallelize_stage): a small consolidated
    documents file is one scan split, which would serialize the
    md5-dominated signature pipeline downstream."""
    return _memo_stage(
        spark,
        sf_dir,
        "grams3",
        lambda: parallelize_stage(
            table(spark, sf_dir, "documents")
        )
        # shingle_array rule: NULL-text docs have no shingles and are
        # excluded from the whole dedup family (NULL-probe find, r10 —
        # unfiltered they all share the degenerate "" shingle and the
        # pair stage emits the NULL-doc clique).
        .where(F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("id"),
            shingle_array("text", 3).alias("grams"),
        ),
    )


def bandsig_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (id, band, band_sig) LSH banding (8 hashes × 4 bands)
    over grams3_table. Band signatures are per-doc — they never depend on
    the rest of the corpus — so the md5-dominated signature stage is
    computed once and every consumer (q40's self-join, q86's corpus/new
    split) filters THIS table instead of re-hashing."""
    return _memo_stage(
        spark,
        sf_dir,
        "bandsig8x4",
        lambda: band_signatures(grams3_table(spark, sf_dir), 8, 4),
    )


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (id_a, id_b, jaccard) on `documents` with
    the declared parameters (k=3 shingles, 8 hashes, 4 bands, J >= 0.5).
    Composed from the operators.minhash stages over the shared
    materialized stages (grams3_table, bandsig_table): the self-join
    `candidate_pairs`, then `jaccard_verify`."""
    return _memo_stage(
        spark,
        sf_dir,
        "minhash_pairs",
        lambda: jaccard_verify(
            grams3_table(spark, sf_dir),
            candidate_pairs(bandsig_table(spark, sf_dir)),
            0.5,
        ),
    )


def simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, simhash) fingerprints on `documents` (64-bit, word-3-grams)."""
    return _memo_stage(
        spark,
        sf_dir,
        "simhash",
        lambda: simhash(
            parallelize_stage(table(spark, sf_dir, "documents"))
        ),
    )


@query(
    "q39_exact_dedup",
    oracle="""
    WITH canon AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_key
      FROM documents
    )
    SELECT content_key,
           MIN(doc_id) AS keep_doc,
           COUNT(*) AS n_copies
    FROM canon
    GROUP BY content_key
    HAVING COUNT(*) >= 1
    ORDER BY keep_doc
    """,
)
def q39_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash: groupBy(md5(canonical
    text)), keep lowest doc_id. One shuffle on the 16-byte key — the
    canonical 100 TB exact-dedup plan (hash, never raw text, crosses the
    wire)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id", F.md5(normalize_text(F.col("text"))).alias("content_key")
        )
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keep_doc"), F.count("*").alias("n_copies"))
        .orderBy("keep_doc")
    )


# Shared CTE prelude for the MinHash oracle — identical pipeline, same
# hash family (hash j = chars [8j,8j+8) of md5((j//4)||':'||shingle),
# string-min), same 8 hashes × 4 bands of r=2 (operators/minhash.py):
# r=2 banding raises candidate recall at J=0.5 to 1-(1-j²)⁴ ≈ 0.68 vs
# 0.41 for r=3, at 2/3 the md5 cost.
_MINHASH_ORACLE = """
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct(
               list_transform(range(1, greatest(len(string_split(text,' '))-2, 1)+1),
                 i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))
             )) AS shingle
      FROM documents
    ),
    hashed AS (
      SELECT id, shingle,
             md5('0:' || shingle) || md5('1:' || shingle) AS hcat
      FROM sh
    ),
    sigs AS (
      SELECT id, j, min(substring(hcat, j*8 + 1, 8)) AS minhash
      FROM hashed, generate_series(0, 7) s(j)
      GROUP BY id, j
    ),
    bands AS (
      SELECT id, j // 2 AS band,
             md5(string_agg(minhash, ',' ORDER BY j)) AS band_sig
      FROM sigs GROUP BY id, j // 2
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
      WHERE a.id < b.id
    ),
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.id = c.id_a
      JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             CAST(ROUND(COALESCE(i.n_inter, 0)::DOUBLE
                        / (sa.n + sb.n - COALESCE(i.n_inter, 0)), 6) AS DOUBLE) AS jaccard
      FROM cand c
      LEFT JOIN inter i USING (id_a, id_b)
      JOIN sizes sa ON sa.id = c.id_a
      JOIN sizes sb ON sb.id = c.id_b
      WHERE COALESCE(i.n_inter, 0)::DOUBLE
            / (sa.n + sb.n - COALESCE(i.n_inter, 0)) >= 0.5
    )
"""

_MINHASH_PAIRS = _MINHASH_ORACLE + """
    SELECT id_a, id_b, jaccard FROM verified ORDER BY id_a, id_b
"""

# Shared transitive-closure tail for the cluster-based oracles (q68, q70):
# edges → reachability (recursive CTE) → per-node component minimum.
_COMPONENTS_SQL = """
    , edges AS (
        SELECT id_a AS src, id_b AS dst FROM verified
        UNION
        SELECT id_b AS src, id_a AS dst FROM verified
    ),
    reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (
        SELECT src AS id, LEAST(src, MIN(dst)) AS comp
        FROM reach GROUP BY src
    )
"""


@query("q40_minhash_lsh_neardup", oracle=_MINHASH_PAIRS)
def q40_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + LSH(4 bands × 2 rows) + exact-Jaccard verification,
    threshold 0.5 (finds the corpus's planted near-duplicates).
    See operators.minhash for the scale analysis."""
    return minhash_pairs(spark, sf_dir).orderBy("id_a", "id_b")


@query(
    "q41_simhash",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id, unnest(list_distinct(
               list_transform(range(1, greatest(len(string_split(lower(text),' '))-2, 1)+1),
                 i -> array_to_string(list_slice(string_split(lower(text),' '), i, i+2), ' ')))) AS tok
      FROM documents
    ),
    votes AS (
      SELECT id, b,
             SUM((((strpos('0123456789abcdef',
                           substring(md5(tok), b // 4 + 1, 1)) - 1)
                   >> (b % 4)) & 1) * 2 - 1) AS s
      FROM toks, generate_series(0, 63) t(b)
      GROUP BY id, b
    )
    SELECT id AS doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN
                      CASE WHEN b = 63 THEN -9223372036854775807 - 1
                           ELSE CAST(pow(2, b) AS BIGINT) END
                    ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes
    GROUP BY id
    ORDER BY doc_id
    """,
)
def q41_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints over word-3-gram shingle features
    (operators.simhash — widened from 32 in r13 after the pair-growth
    audit caught 8-bit pigeonhole segments degenerating; bit 63 is the
    bigint sign bit in both engines); the Hamming-pair stage is q63.

    Bench note: this query pays the one-time fingerprint-stage build
    (md5 per shingle) that q63 then reuses via the stage memo, so its
    wall-clock is the family's shared cost, not per-query work. Repeated
    cold-memo builds at sf0.1 measure 2.8-4.9 s in one session — the
    r1→r2 bench delta (2.53→3.26 s) sits inside that noise band."""
    return (
        simhash_table(spark, sf_dir)
        .select(F.col("id").alias("doc_id"), "simhash")
        .orderBy("doc_id")
    )


@query(
    "q63_simhash_neardup",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS id, unnest(list_distinct(
               list_transform(range(1, greatest(len(string_split(lower(text),' '))-2, 1)+1),
                 i -> array_to_string(list_slice(string_split(lower(text),' '), i, i+2), ' ')))) AS tok
      FROM documents
    ),
    votes AS (
      SELECT id, b,
             SUM((((strpos('0123456789abcdef',
                           substring(md5(tok), b // 4 + 1, 1)) - 1)
                   >> (b % 4)) & 1) * 2 - 1) AS s
      FROM toks, generate_series(0, 63) t(b)
      GROUP BY id, b
    ),
    sims AS (
      SELECT id,
             CAST(SUM(CASE WHEN s > 0 THEN
                        CASE WHEN b = 63 THEN -9223372036854775807 - 1
                             ELSE CAST(pow(2, b) AS BIGINT) END
                      ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY id
    ),
    segs AS (
      -- mirror hamming_pairs' pigeonhole blocking INCLUDING its
      -- max_bucket=1000 skew cap (ADVICE r13): the declared semantics
      -- are the capped ones, so the oracle applies the identical
      -- windowed-count filter. (x >> n) & 65535 equals Spark's
      -- shiftrightunsigned low-16 extraction for negative bigints too.
      SELECT id, simhash, t.seg,
             (simhash >> (t.seg * 16)) & 65535 AS seg_val
      FROM sims, generate_series(0, 3) t(seg)
    ),
    kept AS (
      SELECT * FROM (
        SELECT id, simhash, seg, seg_val,
               COUNT(*) OVER (PARTITION BY seg, seg_val) AS bucket_n
        FROM segs)
      WHERE bucket_n <= 1000
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM kept a JOIN kept b
      ON a.seg = b.seg AND a.seg_val = b.seg_val AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """,
)
def q63_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance 3 via segment
    blocking (operators.simhash.hamming_pairs): the fingerprint splits
    into 4 segments, pigeonhole guarantees any pair within the budget
    shares one exact segment, so candidates come from an equi-join on
    (segment, value). The oracle runs the SAME blocked plan including
    the max_bucket=1000 skew cap (ADVICE r13: the cap can drop true
    pairs on boilerplate-heavy corpora, so an uncapped all-pairs oracle
    would diverge — the capped semantics are the declared contract)."""
    from ..operators.simhash import hamming_pairs

    return (
        hamming_pairs(simhash_table(spark, sf_dir), max_distance=3)
        .select("id_a", "id_b", F.col("hamming").cast("long"))
        .orderBy("id_a", "id_b")
    )


@query(
    "q42_ngram_jaccard",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, n_chars // 200 AS len_bucket,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text,' '))-2, 1)+1),
               i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')
             )) AS grams
      FROM documents WHERE text IS NOT NULL
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(ROUND(len(list_intersect(a.grams, b.grams))::DOUBLE
                / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
                AS DOUBLE) AS jaccard
    FROM w a
    JOIN w b ON a.lang = b.lang AND a.len_bucket = b.len_bucket
            AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.8
    ORDER BY id_a, id_b
    """,
)
def q42_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct word-3-gram Jaccard with (lang, length-bucket) blocking —
    the no-LSH variant for modest corpora. Blocking keys bound the
    quadratic join; at 100 TB you'd use q40's LSH instead (noted in the
    plan docs), but the blocked shape is still shuffle-safe: the join is
    an equi-join on the block key."""
    # NULL-text docs excluded symmetrically with the oracle (shingle_array
    # rule — NULL-probe find, r10).
    d = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ws = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(ws) - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
        )
    )
    # Materialized once: the token explode, the light join sides, and
    # both verification fetches all consume w — without the checkpoint
    # each branch re-tokenizes the corpus from the scan. Parallelized
    # first: the tokenize projection is the CPU stage and a small
    # consolidated file is one scan split.
    w = materialize_stage(
        parallelize_stage(d).select(
            "doc_id",
            "lang",
            (F.col("n_chars") / 200).cast("long").alias("len_bucket"),
            grams.alias("grams"),
        )
    )
    # Physical strategy (exact semantics, staged cost — the AllPairs/
    # PPJoin prefix-filter family, Bayardo et al. WWW'07):
    #   1. candidate generation joins PREFIX TOKENS, not documents: under
    #      a global token order (ascending document frequency, gram
    #      tiebreak), two sets with J ≥ t must share a token within their
    #      first ⌊(1−t)·n⌋+1 tokens — rare-first ordering makes those
    #      prefix postings short, so the (block key, token) equi-join
    #      fans out to ~10³ candidates instead of the ~10⁵·⁸ all-pairs
    #      within blocks;
    #   2. the size-ratio prefilter (J ≥ t ⟹ size ratio ≥ t) prunes
    #      further — both filters are implied by the threshold, so the
    #      oracle needs no counterpart;
    #   3. survivors verify on the exact string grams at the declared
    #      0.8 — output is bit-identical to the naive blocked plan.
    light = w.select("doc_id", "lang", "len_bucket", F.size("grams").alias("n"))
    toks = w.select(
        "doc_id", "lang", "len_bucket", F.explode("grams").alias("g")
    )
    dfreq = toks.groupBy("g").agg(F.count("*").alias("df"))
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy("df", "g")
    )
    prefix = (
        toks.join(dfreq, "g")
        .withColumn("rk", rk)
        .join(light.select("doc_id", "n"), "doc_id")
        .where(F.col("rk") <= F.floor((1 - 0.8) * F.col("n")) + 1)
        .select("doc_id", "lang", "len_bucket", "g", "n")
    )
    pa = prefix.select(
        "lang", "len_bucket", "g",
        F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"),
    )
    pb = prefix.select(
        "lang", "len_bucket", "g",
        F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"),
    )
    cand = (
        pa.join(pb, ["lang", "len_bucket", "g"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.least("n_a", "n_b") >= F.greatest("n_a", "n_b") * 0.8)
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    ga = w.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a"))
    gb = w.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b"))
    scored = (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("g_a", "g_b")).alias("n_inter"),
            "n_a",
            "n_b",
        )
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return (
        scored.where(jac >= 0.8)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


@query(
    "q43_embedding_neardup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)
                AS DOUBLE) AS cos
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE (a.embedding IS NOT NULL AND len(list_filter(a.embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(a.embedding, x -> x <> 0)) > 0)
      AND (b.embedding IS NOT NULL AND len(list_filter(b.embedding, x -> NOT coalesce(isfinite(x) AND abs(x) < 1000000000000000, FALSE))) = 0 AND len(list_filter(b.embedding, x -> x <> 0)) > 0)
      AND list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def q43_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs with label blocking
    (operators.similarity.embedding_near_duplicates)."""
    e = table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(e, threshold=0.4).orderBy("id_a", "id_b")


@query(
    "q68_dedup_clusters",
    # Same MinHash pipeline, then transitive closure as a recursive CTE:
    # DuckDB reproduces the component labeling the Spark side computes by
    # iterative min-label propagation.
    oracle=_MINHASH_ORACLE.replace("WITH", "WITH RECURSIVE", 1)
    + _COMPONENTS_SQL
    + """
    SELECT comp AS cluster_id,
           COUNT(*) AS n_members,
           string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
    FROM comp
    GROUP BY comp
    ORDER BY cluster_id
    """,
)
def q68_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure near-dup CLUSTERS (operators.components): the
    verified MinHash pairs are edges; each connected component is one
    duplicate cluster and `cluster_id` (the component minimum) is the doc
    the cluster-canonical keep rule retains — chains A≈B≈C keep exactly A
    even when the pair (A,C) was never observed, which the pairwise rule
    (q64) cannot guarantee. The members string is cluster-sized by the
    query's own semantics (it IS the member list); at 100 TB a
    boilerplate mega-cluster would make that one output row huge — cap
    with slice() (q110's prefix pattern) if the full roster is not
    required."""
    from ..operators.components import connected_components

    comp = connected_components(minhash_pairs(spark, sf_dir))
    members = F.array_join(
        F.transform(
            F.sort_array(F.collect_list("id")), lambda x: x.cast("string")
        ),
        ",",
    )
    return (
        comp.groupBy(F.col("comp").alias("cluster_id"))
        .agg(F.count("*").alias("n_members"), members.alias("members"))
        .orderBy("cluster_id")
    )


@query(
    "q85_dedup_keep_best",
    # Clusters from the same MinHash pipeline + recursive closure; the
    # keep rule ranks members by the full quality score (same formula as
    # operators.textstats.quality_score, inner ratios rounded to 6 before
    # the composite) instead of min-id.
    oracle=_MINHASH_ORACLE.replace("WITH", "WITH RECURSIVE", 1)
    + _COMPONENTS_SQL
    + r"""
    , q AS (
      SELECT doc_id,
             CAST(ROUND((
               least(length(text)::DOUBLE / 500.0, 1.0)
             + (1.0 - least(ROUND((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
                                  / greatest(length(text), 1), 6) * 5.0, 1.0))
             + (1.0 - least(abs(ROUND(len(list_filter(string_split_regex(lower(text), '\s+'),
                                          w -> w IN ('the','a','of','and','to','in','is','it')))::DOUBLE
                                      / greatest(len(string_split_regex(lower(text), '\s+')), 1), 6)
                                - 0.15) * 4.0, 1.0))
             ) / 3.0, 6) AS DOUBLE) AS quality
      FROM documents
    )
    SELECT cluster_id, keep_doc, keep_score, n_members FROM (
      SELECT c.comp AS cluster_id, c.id AS keep_doc, q.quality AS keep_score,
             row_number() OVER (PARTITION BY c.comp
                                ORDER BY q.quality DESC, c.id) AS rn,
             COUNT(*) OVER (PARTITION BY c.comp) AS n_members
      FROM comp c JOIN q ON q.doc_id = c.id
    ) WHERE rn = 1
    ORDER BY cluster_id
    """,
)
def q85_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked cluster canonical: within each near-dup cluster keep
    the HIGHEST-quality member (ties → lowest id), not the lowest id —
    what a real curation pipeline keeps. Window over the tiny cluster
    table; the corpus never reshuffles."""
    from ..operators.components import cluster_best_members, connected_components
    from ..operators.textstats import quality_score

    comp = connected_components(minhash_pairs(spark, sf_dir))
    scored = table(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    )
    return cluster_best_members(comp, scored, "doc_id", "quality").orderBy(
        "cluster_id"
    )


@query(
    "q86_incremental_dedup",
    # Same MinHash prelude; the candidate join crosses the corpus/new
    # partition (even/odd ids) instead of the self-join triangle, then
    # each new doc keeps its best corpus match.
    oracle=_MINHASH_ORACLE.replace(
        "WHERE a.id < b.id", "WHERE a.id % 2 = 0 AND b.id % 2 = 1"
    )
    + """
    SELECT new_doc, corpus_match, jaccard FROM (
      SELECT id_b AS new_doc, id_a AS corpus_match, jaccard,
             row_number() OVER (PARTITION BY id_b
                                ORDER BY jaccard DESC, id_a) AS rn
      FROM verified
    ) WHERE rn = 1
    ORDER BY new_doc
    """,
)
def q86_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the new batch (odd doc ids) checked
    against the existing corpus (even ids) — per-batch cost scales with
    the batch because the corpus side is a persisted band-signature
    index. Output: each contaminated new doc with its best corpus match
    (operators.minhash.candidate_pairs_between, then jaccard_verify)."""
    # Both sides filter the SHARED materialized shingle + band-signature
    # stages (band signatures are per-doc, so the corpus/new split is a
    # filter, not a recompute — zero md5 work beyond what q40 already
    # paid this session).
    bs = bandsig_table(spark, sf_dir)
    cand = candidate_pairs_between(
        bs.where(F.col("id") % 2 == 0), bs.where(F.col("id") % 2 == 1)
    )
    pairs = jaccard_verify(grams3_table(spark, sf_dir), cand, 0.5)
    w = W.partitionBy("id_b").orderBy(F.col("jaccard").desc(), F.col("id_a"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("id_b").alias("new_doc"),
            F.col("id_a").alias("corpus_match"),
            "jaccard",
        )
        .orderBy("new_doc")
    )


@query(
    "q70_corpus_curation",
    # The full curation pipeline, re-run in SQL: same MinHash prelude,
    # same recursive-CTE clustering, same exact-dedup keep rule, same
    # rounded quality thresholds.
    oracle=_MINHASH_ORACLE.replace("WITH", "WITH RECURSIVE", 1)
    + _COMPONENTS_SQL
    + """
    , kept0 AS (
        SELECT d.* FROM documents d
        WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)
    ),
    exact AS (
        SELECT * FROM (
            SELECT k.*,
                   row_number() OVER (
                     PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                     ORDER BY doc_id) AS rn
            FROM kept0 k
        ) WHERE rn = 1
    ),
    quality AS (
        SELECT * FROM exact
        WHERE n_chars >= 200
          AND ROUND((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
                    / greatest(length(text), 1), 6) <= 0.05
          AND ROUND(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                    w -> w IN ('the','a','of','and','to','in','is','it')))::DOUBLE
                    / greatest(len(string_split_regex(lower(text), '\\s+')), 1), 6) >= 0.05
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total
    FROM quality
    GROUP BY lang
    ORDER BY lang
    """,
)
def q70_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data curation — the pipeline a real corpus
    actually runs, composed from the engine's own operators:

      1. near-dup CLUSTER removal (MinHash/LSH pairs → connected
         components → drop non-canonical members,
         operators.components.dedup_keep_cluster_canonical);
      2. exact dedup, keep-lowest-id per normalized-content hash;
      3. quality filter (length >= 200 chars, punct ratio <= 0.05,
         stopword ratio >= 0.05 — the textstats operators);
      4. per-language corpus fingerprint.

    Scale shape: step 1 is metadata joins (the corpus never reshuffles);
    step 2 is one shuffle on the 16-byte content key; step 3 is a
    codegen'd projection-filter; step 4 a map-side-combined aggregate."""
    from ..operators.components import dedup_keep_cluster_canonical
    from ..operators.textstats import punct_ratio, stopword_ratio

    kept0 = dedup_keep_cluster_canonical(
        table(spark, sf_dir, "documents"), minhash_pairs(spark, sf_dir)
    )
    exact = (
        kept0.withColumn("ck", F.md5(normalize_text(F.col("text"))))
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("ck").orderBy("doc_id"))
        )
        .where(F.col("rn") == 1)
        .drop("rn", "ck")
    )
    quality = exact.where(
        (F.col("n_chars") >= 200)
        & (punct_ratio(F.col("text")) <= 0.05)
        & (stopword_ratio(F.col("text")) >= 0.05)
    )
    return (
        quality.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_total"),
        )
        .orderBy("lang")
    )


@query(
    "q64_dedup_canonical",
    oracle=_MINHASH_ORACLE
    + """
    , losers AS (SELECT DISTINCT id_b FROM verified)
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(d.doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(d.n_chars) AS BIGINT) AS chars_total
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id_b FROM losers)
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def q64_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup REMOVAL (the training-data deliverable): run
    the full MinHash/LSH pipeline, drop the higher doc_id of every
    verified pair (deterministic canonical-keep, operators.minhash.
    dedup_keep_canonical), and fingerprint the surviving corpus per
    language. Left-anti join against the loser set — one broadcast-able
    metadata join at 100 TB, the corpus itself never reshuffles."""
    from ..operators.minhash import dedup_keep_canonical

    d = table(spark, sf_dir, "documents")
    pairs = minhash_pairs(spark, sf_dir)
    kept = dedup_keep_canonical(d, pairs, id_col="doc_id")
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("n_chars").alias("chars_total"),
        )
        .orderBy("lang")
    )


@query(
    "q115_fuzzy_name_pairs",
    oracle="""
    WITH p AS (
        SELECT p_partkey, p_name, p_brand
        FROM part WHERE p_partkey % 20 = 0
    )
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM p a JOIN p b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
    ORDER BY key_a, key_b
    """,
)
def q115_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching (typo-level entity dedup): candidate
    pairs blocked on brand (equi-join — the quadratic term is bounded per
    block, the same guard as every dedup operator here), then JVM
    `levenshtein` as the verify. Spark and DuckDB implement the same
    classic DP distance, so the predicate is engine-portable. At corpus
    scale swap the brand block for q42's prefix filtering; the verify
    stays identical."""
    p = (
        table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 20 == 0)
        .select("p_partkey", "p_name", "p_brand")
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand"),
    )
    return (
        a.join(b, "brand")
        .where(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .where(F.col("dist") <= 12)
        .orderBy("key_a", "key_b")
    )


@query(
    "q142_shingle_containment",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text,' '))-2, 1)+1),
               i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')
             )) AS grams
      FROM documents WHERE text IS NOT NULL
    ),
    light AS (SELECT doc_id, lang, len(grams) AS n FROM w),
    toks AS (SELECT doc_id, lang, unnest(grams) AS g FROM w),
    dfreq AS (SELECT g, COUNT(*) AS df FROM toks GROUP BY 1),
    ranked AS (
      SELECT t.doc_id, t.lang, t.g, l.n,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df, t.g) AS rk
      FROM toks t JOIN dfreq d ON t.g = d.g
      JOIN light l ON t.doc_id = l.doc_id
    ),
    prefix AS (
      SELECT doc_id, lang, g, n FROM ranked
      WHERE rk <= CAST(floor(0.1 * n) AS BIGINT) + 1
    ),
    postings AS (
      SELECT t.doc_id, t.lang, t.g, l.n
      FROM toks t JOIN dfreq d ON t.g = d.g
      JOIN light l ON t.doc_id = l.doc_id
      WHERE d.df >= 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN postings b
        ON a.lang = b.lang AND a.g = b.g
      WHERE a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id)
    )
    SELECT id_a, id_b,
           CAST(ROUND(len(list_intersect(wa.grams, wb.grams))::DOUBLE
                      / len(wa.grams), 6) AS DOUBLE) AS containment
    FROM cand c
    JOIN w wa ON c.id_a = wa.doc_id
    JOIN w wb ON c.id_b = wb.doc_id
    WHERE len(list_intersect(wa.grams, wb.grams))::DOUBLE
          / len(wa.grams) >= 0.9
    ORDER BY id_a, id_b
    """,
)
def q142_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: |A∩B| / |A| ≥ 0.9 with A the
    smaller gram set — catches a document EMBEDDED in a longer one
    (quotes, boilerplate wrappers, page-of-a-book), which symmetric
    Jaccard (q42) misses because the union term dilutes the score.
    EXACT result via the AllPairs/PPJoin prefix filter adapted to
    containment: if |A∩B|/|A| ≥ t, then A's first ⌊(1−t)·|A|⌋+1 grams
    under ANY global token order must include a gram of B — so the
    candidate join touches only A's rare-first (df asc) 10% prefix
    against B's full df≥2 postings, and exact gram-set intersection runs
    only on survivors. Unlike a df-band heuristic there is no recall
    caveat, and the rare-first order keeps hot-gram prefix postings
    near-empty (a stopword gram enters a prefix only for docs made
    almost entirely of stopword grams). Pair direction (smaller set
    contained, id tiebreak) is a total order, so both engines emit
    identical pairs. At 100 TB postings shard by (lang, gram); per-gram
    join fan-out is prefix-count(g) × df(g), the AllPairs cost bound."""
    # NULL-text docs excluded symmetrically with the oracle (shingle_array
    # rule — NULL-probe find, r10).
    d = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ws = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(ws) - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
        )
    )
    w = materialize_stage(
        parallelize_stage(d).select("doc_id", "lang", grams.alias("grams"))
    )
    light = w.select("doc_id", F.size("grams").alias("n"))
    toks = w.select("doc_id", "lang", F.explode("grams").alias("g"))
    dfreq = toks.groupBy("g").agg(F.count("*").alias("df"))
    ranked = (
        toks.join(dfreq, "g")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy("df", "g")
            ),
        )
        .join(light, "doc_id")
    )
    prefix = ranked.where(
        F.col("rk") <= F.floor(0.1 * F.col("n")).cast("long") + 1
    ).select("doc_id", "lang", "g", "n")
    postings = (
        toks.join(dfreq, "g")
        .where(F.col("df") >= 2)
        .join(light, "doc_id")
        .select("doc_id", "lang", "g", "n")
    )
    pa = prefix.select(
        "lang", "g", F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")
    )
    pb = postings.select(
        "lang", "g", F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")
    )
    cand = (
        pa.join(pb, ["lang", "g"])
        .where(
            (F.col("n_a") < F.col("n_b"))
            | (
                (F.col("n_a") == F.col("n_b"))
                & (F.col("id_a") < F.col("id_b"))
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    wa = w.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("g_a"))
    wb = w.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("g_b"))
    scored = (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("g_a", "g_b")).alias("n_inter"),
            F.size("g_a").alias("n_a"),
        )
    )
    cont = F.col("n_inter").cast("double") / F.col("n_a")
    return (
        scored.where(cont >= 0.9)
        .select("id_a", "id_b", F.round(cont, 6).alias("containment"))
        .orderBy("id_a", "id_b")
    )


SPAN_K = 8


def span_windows(spark: SparkSession, sf_dir: str, K: int = SPAN_K) -> DataFrame:
    """(doc_id, start, h): overlapping K-token windows over `documents`,
    keyed by the BINARY md5 digest (16 bytes — the hex string doubled
    the shuffle width for nothing, r14 shuffle-audit find). The scan is
    parallelized first (grams3_table's rule: a small consolidated
    documents file is ONE scan split, which ran the md5-dominated
    fan-out single-threaded — measured 5.4 s → 0.9 s at sf0.1). The
    fan-out itself is map-side: |tokens| rows per doc, no shuffle.
    Shared by the span-dedup tier (q252 find / q255 remove / q257
    incremental)."""
    toks = (
        parallelize_stage(table(spark, sf_dir, "documents"))
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split(F.lower("text"), " ").alias("t"))
        .where(F.size("t") >= K)
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {K} + 1), "
                f"i -> struct(CAST(i AS BIGINT) AS start, "
                f"unhex(md5(array_join(slice(t, i, {K}), ' '))) AS h))"
            )
        ).alias("w"),
    ).select("doc_id", "w.start", "w.h")


def merge_spans(dup: DataFrame, K: int = SPAN_K) -> DataFrame:
    """Lag-islands merge of duplicated window starts into maximal spans:
    one shuffle on doc_id, reused by the per-span groupBy. Equal-length
    intervals sorted by start have monotonic ends, so the lag rule (new
    span iff start > prev + K) is exact without a running max."""
    prev = F.lag("start").over(W.partitionBy("doc_id").orderBy("start"))
    m = dup.withColumn(
        "news",
        F.when(prev.isNull() | (F.col("start") > prev + K), 1).otherwise(0),
    ).withColumn(
        "sid",
        F.sum("news").over(
            W.partitionBy("doc_id")
            .orderBy("start")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return (
        m.groupBy("doc_id", "sid")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + F.lit(K - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
        .orderBy("doc_id", "span_start")
    )


@query(
    "q252_span_dedup",
    # The identical windowed pipeline in DuckDB: same md5 window keys,
    # same corpus-wide >= 2 occurrence rule, same lag-islands merge.
    # Equal-length intervals sorted by start have monotonic ends, so the
    # lag-based merge (new span iff start > prev_start + K) is exact —
    # no running-max needed.
    oracle="""
    WITH w AS (
      SELECT doc_id, CAST(i AS BIGINT) AS start,
             md5(array_to_string(list_slice(
               string_split(lower(text),' '), i, i+7), ' ')) AS h
      FROM documents,
           LATERAL unnest(range(1,
             greatest(len(string_split(lower(text),' '))-7, 0)+1)) t(i)
      WHERE text IS NOT NULL
    ),
    d AS (
      SELECT doc_id, start FROM (
        SELECT doc_id, start, count(*) OVER (PARTITION BY h) AS cnt FROM w)
      WHERE cnt >= 2
    ),
    m AS (
      SELECT doc_id, start,
             CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                       IS NULL
                       OR start > lag(start) OVER (PARTITION BY doc_id
                                                   ORDER BY start) + 8
                  THEN 1 ELSE 0 END AS news
      FROM d
    ),
    g AS (
      SELECT doc_id, start,
             SUM(news) OVER (PARTITION BY doc_id ORDER BY start
                             ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT doc_id,
           MIN(start) AS span_start,
           MAX(start) + 7 AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM g GROUP BY doc_id, sid
    ORDER BY doc_id, span_start
    """,
)
def q252_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level (repeated-span) dedup — the suffix-array method
    of Lee et al. '22 ("Deduplicating Training Data Makes Language
    Models Better"), approximated the way a distributed engine runs it:
    exact-hash dedup of OVERLAPPING K-token windows with span merge.
    Doc-level dedup (q39/q40/q41/q249) misses the boilerplate/license/
    template spans repeated across otherwise-distinct documents; this
    tier finds every maximal token span whose K-token windows all occur
    >= 2 times corpus-wide — the removal targets of the suffix-array
    pass, at K-token resolution.

    Physical shape (scale-first): the window fan-out is map-side
    (explode of per-doc slices, |tokens| rows per doc); duplicate
    detection is ONE hash shuffle keyed on the md5 window fingerprint
    (count-over-partition — counting, never pairing, so a hot
    boilerplate window costs one big count, NEVER a C(k,2) pair
    blow-up: volume is linear in corpus size by construction); the
    lag-islands span merge shuffles once on doc_id, and the final
    per-span groupBy reuses that partitioning. K=8 whitespace tokens,
    the shared tokenization convention (simhash/minhash lineage).

    Output: one row per maximal duplicated span — (doc_id, 1-based
    token span_start/span_end, n_windows merged into the span)."""
    wins = span_windows(spark, sf_dir)
    dup = wins.withColumn(
        "cnt", F.count("*").over(W.partitionBy("h"))
    ).where(F.col("cnt") >= 2)
    return merge_spans(dup)


@query(
    "q255_span_removal",
    # The identical removal pipeline in DuckDB: same window keys, same
    # canonical-first rule (row_number over h ordered by doc_id,start),
    # same token-coverage removal. range(a,b) is end-exclusive, so
    # range(start, start+8) covers the window's 8 token positions;
    # string_agg over zero kept rows is NULL -> md5('') on both sides.
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    w AS (
      SELECT doc_id, CAST(i AS BIGINT) AS start,
             md5(array_to_string(list_slice(t, i, i+7), ' ')) AS h
      FROM base,
           LATERAL unnest(range(1, greatest(len(t)-7, 0)+1)) s(i)
    ),
    r AS (
      SELECT doc_id, start,
             count(*) OVER (PARTITION BY h) AS cnt,
             row_number() OVER (PARTITION BY h
                                ORDER BY doc_id, start) AS rn
      FROM w
    ),
    rem AS (
      SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
      FROM r, LATERAL unnest(range(start, start+8)) u(p)
      WHERE cnt >= 2 AND rn > 1
    ),
    tok AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
      FROM base, LATERAL unnest(range(1, len(t)+1)) s(i)
    ),
    kept AS (
      SELECT tok.doc_id, tok.pos, tok.tok
      FROM tok LEFT JOIN rem
        ON tok.doc_id = rem.doc_id AND tok.pos = rem.pos
      WHERE rem.doc_id IS NULL
    ),
    km AS (
      SELECT doc_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS kept_md5
      FROM kept GROUP BY doc_id
    ),
    nt AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM base
    ),
    nr AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
      FROM rem GROUP BY doc_id
    )
    SELECT nt.doc_id, nt.n_tokens,
           COALESCE(nr.n_removed, 0) AS n_removed,
           COALESCE(km.kept_md5, md5('')) AS kept_md5
    FROM nt
    LEFT JOIN nr ON nt.doc_id = nr.doc_id
    LEFT JOIN km ON nt.doc_id = km.doc_id
    ORDER BY nt.doc_id
    """,
)
def q255_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL step of substring-level dedup — q252 finds the
    duplicated spans; this pass rewrites the corpus with them stripped,
    the ExactSubstr contract of Lee et al. '22: every duplicated
    K-token window keeps exactly ONE canonical occurrence corpus-wide
    (the first by (doc_id, start) — deterministic, no tie possible
    since start is unique per doc) and every other occurrence's token
    positions are removed from their documents. A token survives iff
    no non-canonical duplicated window covers it; the rebuilt text is
    the kept tokens in original order.

    Physical shape (scale-first): window fan-out is map-side;
    canonical election is count + row_number over the SAME window
    partition on h — one hash shuffle, one in-partition sort, never a
    pair join (hot boilerplate windows cost one partition sort, not
    C(k,2)); coverage expansion is a map-side explode of K positions
    per removal window; the kept-token filter is a LEFT ANTI equi-join
    on (doc_id, pos); the rebuild is a per-doc sort-by-position
    aggregation bounded by max document length. Every stage is linear
    in corpus volume. At 100 TB the rebuilt text would be written back
    partitioned; here we return the per-doc audit row (token counts +
    md5 of the rebuilt text) so the oracle can hash-compare without
    shipping full rewritten documents through the gate.

    Output: one row per non-NULL-text document — (doc_id, n_tokens,
    n_removed, kept_md5), n_removed = 0 for untouched docs, kept_md5 =
    md5('') when removal consumed every token."""
    K = SPAN_K
    base = (
        table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    )
    wins = span_windows(spark, sf_dir)
    # One ordered window spec serves both functions: count over the
    # unbounded frame equals the partition count, and sharing the
    # (partition, order) pair keeps the plan at ONE exchange on h + one
    # sort (separate specs planned a second h exchange).
    hw = W.partitionBy("h").orderBy("doc_id", "start")
    ranked = wins.withColumn(
        "cnt",
        F.count("*").over(
            hw.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ),
    ).withColumn("rn", F.row_number().over(hw))
    rem = (
        ranked.where((F.col("cnt") >= 2) & (F.col("rn") > 1))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(K - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    tok = base.select(
        "doc_id", F.posexplode("t").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    kept = tok.join(rem, ["doc_id", "pos"], "left_anti")
    # n_removed is derived as n_tokens - n_kept (removal positions are
    # always valid token positions, so the identity is exact) — counting
    # rem directly would plan the whole window/election subtree twice.
    km = kept.groupBy("doc_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
            )
        ).alias("kept_md5"),
        F.count("*").alias("n_kept"),
    )
    nt = base.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
    return (
        nt.join(km, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(
                "kept_md5", F.lit(hashlib_md5_empty())
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


def hashlib_md5_empty() -> str:
    """md5('') — the kept_md5 of a fully-removed document, matching the
    oracle's COALESCE(..., md5(''))."""
    import hashlib

    return hashlib.md5(b"").hexdigest()


@query(
    "q257_incremental_span_dedup",
    # Same window keys; the corpus/new split follows q86's even/odd
    # convention, the detection rule is EXISTS-in-corpus-index (semi
    # join) instead of q252's corpus-wide count, and the islands merge
    # is the shared tail.
    oracle="""
    WITH w AS (
      SELECT doc_id, CAST(i AS BIGINT) AS start,
             md5(array_to_string(list_slice(
               string_split(lower(text),' '), i, i+7), ' ')) AS h
      FROM documents,
           LATERAL unnest(range(1,
             greatest(len(string_split(lower(text),' '))-7, 0)+1)) t(i)
      WHERE text IS NOT NULL
    ),
    idx AS (SELECT DISTINCT h FROM w WHERE doc_id % 2 = 0),
    d AS (
      SELECT w.doc_id, w.start
      FROM w JOIN idx ON w.h = idx.h
      WHERE w.doc_id % 2 = 1
    ),
    m AS (
      SELECT doc_id, start,
             CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start)
                       IS NULL
                       OR start > lag(start) OVER (PARTITION BY doc_id
                                                   ORDER BY start) + 8
                  THEN 1 ELSE 0 END AS news
      FROM d
    ),
    g AS (
      SELECT doc_id, start,
             SUM(news) OVER (PARTITION BY doc_id ORDER BY start
                             ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT doc_id,
           MIN(start) AS span_start,
           MAX(start) + 7 AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM g GROUP BY doc_id, sid
    ORDER BY doc_id, span_start
    """,
)
def q257_incremental_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION shape of span dedup: a daily increment is checked
    against the standing corpus window INDEX, not re-deduped
    corpus-wide (q252's full pass runs once; this runs per batch —
    q86's incremental tier, one level down at span grain). Corpus =
    even doc_ids, new batch = odd doc_ids (the q86 split convention);
    a new-doc window is flagged iff its fingerprint EXISTS in the
    corpus index, and flagged windows merge into maximal spans — the
    text regions of the increment already present in the corpus (the
    removal targets before the batch is admitted).

    Physical shape: the corpus index is distinct(h) — 16 bytes/row,
    one hash shuffle; detection is a LEFT SEMI equi-join on h (at 100
    TB the index is a standing table bucketed by h, so the probe is
    bucket-local and the increment — the small side — never
    re-shuffles the corpus); the islands merge shuffles once on the
    new batch's doc_id. Within-batch repetition is q252's job run on
    the increment alone; this operator's contract is new-vs-corpus
    only."""
    wins = span_windows(spark, sf_dir)
    idx = (
        wins.where(F.col("doc_id") % 2 == 0).select("h").distinct()
    )
    dup = wins.where(F.col("doc_id") % 2 == 1).join(idx, "h", "left_semi")
    return merge_spans(dup)
