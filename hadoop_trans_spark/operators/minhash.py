"""MinHash + LSH near-duplicate detection (E34).

Classic pipeline (Broder '97 minhash; LSH banding per Leskovec/Rajaraman/
Ullman "Mining of Massive Datasets" ch. 3), expressed entirely in
DataFrame ops so Catalyst plans it:

  shingle (word k-grams, JVM higher-order fns)
    → per-(doc, seed) min of md5(seed || shingle)      [groupBy agg]
    → band signatures (md5 over r consecutive minhashes)
    → candidate pairs: self-equi-join on (band, signature)
      (`candidate_pairs`), or corpus × new batch (`candidate_pairs_between`)
    → exact Jaccard verification on the shingle sets    [equi-joins]

The stages are the operators; there is no end-to-end wrapper. The
queries compose them (queries/dedup.py: grams3_table → bandsig_table,
each materialized once per session, then a candidate stage and
`jaccard_verify` per query), and the tests call the same stages.

Hash-family note: hash j (j = 4·m + c) is the c-th 8-hex-char chunk of
md5(m || ':' || shingle) — md5's diffusion makes the four 32-bit chunks
of one digest independent hashes, so n hashes cost only n/4 md5
evaluations (md5 dominates the pipeline). The "permutation" for hash j
is the lexicographic order of its chunk strings; string-min is
engine-portable (DuckDB reproduces it exactly — no 64-bit integer hash
parity issues), and a uniform hash's hex order is as good a random
permutation as its integer order.

Physical strategy: signatures and band hashes are computed entirely with
nested higher-order functions over the per-doc shingle ARRAY — a single
narrow projection, no explode, no shuffle, whole-stage codegen end to
end. The first (and only pre-candidate) shuffle is the band-signature
self-join. Exact-Jaccard verification intersects the two docs' shingle
arrays directly (`array_intersect`), so only candidate docs ever
re-materialize their shingles.

Scale: the band join's fan-out is bounded by bucket sizes; hot buckets
(boilerplate docs) are the classic skew risk — `max_bucket` drops
degenerate buckets explicitly, the same guardrail production dedup
pipelines use, and it is the PRIMARY defense: do not lean on AQE
skew-split as the backstop (the SCALE.md round-9 probe measured it
never firing in this build across the full conf matrix). Signature width is
n_hashes × 32 hex chars per doc — at 100 TB the shuffled band table is
~1% of corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def shingle_array(text_col="text", k: int = 3) -> F.Column:
    """Distinct word k-gram shingles of a text column (name or Column),
    as an array.

    NULL text must be filtered out by the caller: a contentless doc has
    no shingles and can never be a content-duplicate. On NULL this
    expression degenerates (split→NULL, size→-1, concat_ws skips the
    null) to the single shingle "" — every NULL doc then fingerprints
    identically and the pair stage emits the full NULL-doc clique
    (NULL-probe find, r10; the DuckDB oracles drop these docs naturally
    via null-propagating string ops)."""
    ws = F.split(
        text_col if isinstance(text_col, F.Column) else F.col(text_col), " "
    )
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(ws) - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
        )
    )


def minhash_array(hcat_col: F.Column, n_hashes: int = 12) -> F.Column:
    """Per-doc minhash signature array from pre-hashed shingles.

    ``hcat_col`` is an array with one concatenated-digest string per
    shingle (see ``hashed_shingles``); hash j's value for a shingle is
    chars [8j, 8j+8) of that string. Nested higher-order functions —
    everything runs inside whole-stage codegen; no explode, no shuffle."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda j: F.array_min(
            F.transform(hcat_col, lambda h: F.substring(h, j * 8 + 1, 8))
        ),
    )


def hashed_shingles(grams: F.Column, n_hashes: int) -> F.Column:
    """Concatenated md5 digests per shingle: md5('0:'||s) || md5('1:'||s)
    || … — ⌈n/4⌉ digests give n 8-hex-char chunk hashes."""
    n_md5 = (n_hashes + 3) // 4
    return F.transform(
        grams,
        lambda s: F.concat(
            *[F.md5(F.concat_ws(":", F.lit(str(m)), s)) for m in range(n_md5)]
        ),
    )


def band_signatures(
    docs: DataFrame, n_hashes: int, bands: int, grams_col: str = "grams"
) -> DataFrame:
    """(id, band, band_sig): md5 over each band's r consecutive minhashes.

    Input: (id, grams array). Two narrow projections (the first
    materializes the per-shingle digests so the n_hashes chunk-mins reuse
    them — CollapseProject keeps non-cheap aliases un-inlined) → explode
    of `bands` small structs per doc."""
    r = n_hashes // bands
    hashed = docs.select(
        "id", hashed_shingles(F.col(grams_col), n_hashes).alias("hcat")
    )
    mhs = minhash_array(F.col("hcat"), n_hashes)
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(F.array_join(F.slice(mhs, b * r + 1, r), ",")).alias(
                "band_sig"
            ),
        ),
    )
    return hashed.select("id", F.explode(band_structs).alias("bs")).select(
        "id", "bs.band", "bs.band_sig"
    )


def candidate_pairs(bands_df: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band signature.

    Buckets larger than ``max_bucket`` are dropped (degenerate boilerplate
    protection — quadratic fan-out guard at scale)."""
    sized = bands_df.withColumn(
        "bucket_n", F.count("*").over(W.partitionBy("band", "band_sig"))
    ).where(F.col("bucket_n") <= max_bucket)
    a = sized.select("band", "band_sig", F.col("id").alias("id_a"))
    b = sized.select("band", "band_sig", F.col("id").alias("id_b"))
    return (
        a.join(b, ["band", "band_sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def candidate_pairs_between(
    corpus_bands: DataFrame, new_bands: DataFrame
) -> DataFrame:
    """Distinct (id_a ∈ corpus, id_b ∈ new) pairs sharing any band
    signature — the incremental-ingestion candidate stage. The corpus's
    band signatures are a persisted index (~1% of corpus bytes) that
    each new batch equi-joins against on (band, band_sig), so per-batch
    cost scales with the BATCH, not the corpus. Ids must be disjoint
    across the sides; no bucket cap (a batch never self-joins)."""
    a = corpus_bands.select("band", "band_sig", F.col("id").alias("id_a"))
    b = new_bands.select("band", "band_sig", F.col("id").alias("id_b"))
    return a.join(b, ["band", "band_sig"]).select("id_a", "id_b").distinct()


def jaccard_verify(
    grams_df: DataFrame, pairs: DataFrame, threshold: float = 0.0
) -> DataFrame:
    """Exact Jaccard for candidate pairs via direct array intersection.

    Input grams_df: (id, grams). Only candidate docs re-materialize their
    shingle arrays (two equi-joins keyed on doc id); the intersection is
    a JVM-side `array_intersect`, computed once per pair."""
    ga = grams_df.select(F.col("id").alias("id_a"), F.col("grams").alias("g_a"))
    gb = grams_df.select(F.col("id").alias("id_b"), F.col("grams").alias("g_b"))
    joined = pairs.join(ga, "id_a").join(gb, "id_b")
    scored = joined.select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("g_a", "g_b")).alias("n_inter"),
        F.size("g_a").alias("n_a"),
        F.size("g_b").alias("n_b"),
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return scored.where(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop the higher id of every verified near-dup pair (canonical =
    lowest id — a deterministic, order-free rule; full transitive-closure
    clustering is an iterative algorithm noted in SCALE.md)."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")
