"""Corpus-curation operators for training-data pipelines:
benchmark decontamination, repetition-based quality filtering
(Gopher-style), deterministic hash splits, and stratified sampling.

All four are standard steps between "raw crawl" and "training set"
(decontamination per GPT-3/PaLM appendix methodology: drop training
documents sharing n-grams with evaluation sets; repetition filters per
Rae et al. 2021 "Scaling Language Models" §A1.1). Everything is built-in
`pyspark.sql.functions` — JVM-side, whole-stage codegen; the only
shuffles are the candidate semi-join (decontamination, after a broadcast
prefilter) and the per-doc term-count aggregations (map-side combined).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def word_grams(text_col, k: int, distinct: bool = True) -> F.Column:
    """Word k-grams of a space-tokenized text column. ``distinct=False``
    keeps duplicates — needed when the *count* of a repeated gram is the
    signal (repetition filters)."""
    c = text_col if isinstance(text_col, F.Column) else F.col(text_col)
    ws = F.split(c, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(ws, i, k)),
    )
    return F.array_distinct(grams) if distinct else grams


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Training docs sharing ≥1 word k-gram with a benchmark/eval set:
    (id, n_shared) where n_shared = distinct shared grams.

    Physical shape: the benchmark gram set is tiny relative to the corpus
    (eval sets are KBs against TBs), so it broadcasts; corpus grams are
    filtered map-side by the broadcast hash join *before* the only
    shuffle (the per-doc count aggregation over surviving grams). At
    100 TB the scan dominates and parallelizes embarrassingly; nothing
    quadratic exists anywhere.
    """
    from .stage import parallelize_stage

    # NULL-text docs excluded on BOTH sides (shingle_array rule,
    # NULL-probe find r10): word_grams degenerates on NULL text to the
    # single gram "", so unfiltered NULL corpus docs would read as
    # "contaminated" by NULL benchmark docs.
    corpus = corpus.where(F.col(text_col).isNotNull())
    benchmark = benchmark.where(F.col(text_col).isNotNull())
    bench_grams = (
        benchmark.select(F.explode(word_grams(text_col, k)).alias("gram"))
        .distinct()
    )
    # parallelize the corpus side: the k-gram explode is the CPU stage
    # and a small consolidated file is one scan split (stage.py).
    corpus_grams = parallelize_stage(corpus).select(
        F.col(id_col).alias("id"), F.explode(word_grams(text_col, k)).alias("gram")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc repetition signals: top-word fraction, top-bigram fraction,
    mean word length. The classic "most common n-gram mass" filters —
    documents dominated by one term/phrase are boilerplate.

    Single pass: words and bigrams are tagged and unioned before ONE
    (doc, kind, term) count aggregation (map-side combined — shuffle
    volume is distinct terms per doc, never raw words), then reduced per
    doc. Mean word length rides the word branch (Σ n·len(term) / Σ n),
    so no extra scan or join exists anywhere."""
    from .stage import parallelize_stage

    # Contentless docs have no repetition signal (shingle_array rule,
    # NULL-probe find r10) — excluded rather than emitted with NULL/
    # degenerate fractions.
    df = df.where(F.col(text_col).isNotNull())
    df = parallelize_stage(df)  # tokenize/explode is the CPU stage
    lowered = F.trim(F.lower(F.col(text_col)))
    words = df.select(
        F.col(id_col).alias("id"),
        F.lit("w").alias("kind"),
        F.explode(F.split(lowered, r"\s+")).alias("g"),
    )
    bigrams = df.select(
        F.col(id_col).alias("id"),
        F.lit("b").alias("kind"),
        F.explode(word_grams(lowered, 2, distinct=False)).alias("g"),
    )
    per_kind = (
        words.unionByName(bigrams)
        .groupBy("id", "kind", "g")
        .agg(F.count("*").alias("n"))
        .groupBy("id", "kind")
        .agg(
            F.round(F.max("n").cast("double") / F.sum("n"), 6).alias("top_frac"),
            F.round(
                F.sum(F.col("n") * F.length("g")).cast("double") / F.sum("n"), 6
            ).alias("mean_len"),
        )
    )
    w, b = F.col("kind") == "w", F.col("kind") == "b"
    return per_kind.groupBy("id").agg(
        F.max(F.when(w, F.col("top_frac"))).alias("top_word_frac"),
        F.max(F.when(b, F.col("top_frac"))).alias("top_bigram_frac"),
        F.max(F.when(w, F.col("mean_len"))).alias("mean_word_len"),
    )


HEX = "0123456789abcdef"


def hash_split(id_col: str = "doc_id", train: int = 12, val: int = 2) -> F.Column:
    """Deterministic engine-portable split assignment from the first hex
    nibble of md5(id): nibbles [0, train) → 'train', [train, train+val) →
    'val', rest → 'test'. Pure projection — stable under re-runs,
    partitioning, and engine. Compared as hex *characters* (md5 renders
    identical lowercase hex in Spark and DuckDB), so no engine-specific
    hex→int conversion is involved."""
    c = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    return (
        F.when(c <= F.lit(HEX[train - 1]), "train")
        .when(c <= F.lit(HEX[train + val - 1]), "val")
        .otherwise("test")
    )


def stratified_sample(
    df: DataFrame, strata_col: str, id_col: str = "doc_id", k: int = 20
) -> DataFrame:
    """Deterministic k-per-stratum sample: rank by md5(id) within each
    stratum, keep rank ≤ k. The md5 order is a fixed pseudo-random
    permutation, so the sample is reproducible across runs and engines.

    Scale: window rank with a `rank <= k` filter gets Spark's
    WindowGroupLimit partial top-k — each map task forwards at most k
    rows per stratum into the shuffle."""
    rk = F.row_number().over(
        W.partitionBy(strata_col).orderBy(
            F.md5(F.col(id_col).cast("string")), F.col(id_col)
        )
    )
    return df.withColumn("rk", rk).where(F.col("rk") <= k)


# --- PII redaction -----------------------------------------------------------

# Patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{4}\b"


def redact_pii(text: F.Column) -> F.Column:
    """Replace emails, IPv4s, and phone-shaped tokens with typed tags.
    Email first (its domain could otherwise partially match), then IP,
    then phone. One JVM regex pass per pattern — no Python in the path."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_RE, "<IP>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def pii_counts(text: F.Column) -> list[F.Column]:
    return [
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), 0)).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
    ]


# --- sequence packing --------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tokens_col,
    budget: int,
) -> DataFrame:
    """Assign documents to training-sequence bins by greedy contiguous
    packing: within each ``group_col`` shard, docs (in ``order_col``
    order) go to bin ``floor(tokens_before_this_doc / budget)`` — a doc
    starting inside a bin stays there, so a bin can overflow by at most
    one document (standard boundary-spill packing; callers that need a
    hard cap truncate the spilling doc downstream).

    Scale: one window per shard — the cumulative sum never crosses
    group boundaries, so parallelism is the number of shards and no
    global sort exists. Adds ``n_tokens`` and ``bin`` columns.
    """
    w = (
        W.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        df.withColumn("n_tokens", tokens_col)
        .withColumn(
            "bin",
            F.floor(
                (F.sum("n_tokens").over(w) - F.col("n_tokens")) / budget
            ).cast("long"),
        )
    )


def mixture_sample(df: DataFrame, rate_col, id_col: str = "doc_id") -> DataFrame:
    """Reproducible mixture sampling: keep a row iff the first two hex
    chars of md5(id) fall below its group's rate cutoff. Seedless and
    engine-portable (identical md5 text both sides), stable under
    re-partitioning and corpus growth — the property a training-data
    mixture needs so reruns and incremental builds sample the SAME docs.

    ``rate_col`` must evaluate to a 2-hex-char cutoff string: 'ff' ≈
    keep-all, '7f' ≈ keep half, '3f' ≈ keep quarter (cutoff inclusive,
    granularity 1/256).
    """
    hx = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return df.where(hx <= rate_col)


def chunk_documents(
    df: DataFrame,
    size: int = 200,
    stride: int = 150,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks —
    the context-window preprocessing step between raw corpus and
    tokenizer (stride < size ⇒ size-stride characters of overlap so no
    boundary-spanning content is lost).

    Pure per-row `sequence` + `explode` + substring: no shuffle, no
    Python, chunk count per doc = ceil(len/stride) regardless of corpus
    size. Emits (doc_id, off, chunk_len, chunk_hash) — the hash stands in
    for the chunk payload so the result stays narrow; a real pipeline
    would carry the substring itself to the tokenizer.
    """
    if not 0 < stride <= size:
        raise ValueError(f"need 0 < stride <= size, got {stride=} {size=}")
    offs = F.sequence(
        F.lit(0),
        F.greatest(F.lit(0), F.length(F.col(text_col)) - 1),
        F.lit(stride),
    )
    chunk = F.col(text_col).substr(F.col("off") + 1, F.lit(size))
    return (
        df.select(F.col(id_col), F.col(text_col), F.explode(offs).alias("off"))
        .where(F.col("off") < F.length(F.col(text_col)))
        .select(
            F.col(id_col),
            "off",
            F.length(chunk).alias("chunk_len"),
            F.md5(chunk).alias("chunk_hash"),
        )
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row gets key = u^(1/w) with u a
    seedless per-id uniform from the first 6 hex chars of md5(id) —
    the same engine-portable hash mixture_sample/hash_split use. (A
    bare multiplicative hash id*2654435761 overflows int64 for ids
    ≳3.4e9, where Spark wraps silently but DuckDB raises, and Spark's
    `%` keeps the dividend's sign so negative ids would yield u ≤ 0 and
    a NaN key — md5 text has neither failure mode for ANY id value.)
    The k largest keys are the sample. Inclusion probability is
    proportional to weight, the choice is reproducible across
    engines/runs/partition layouts, and sort+limit plans as
    TakeOrderedAndProject — each task keeps its local top-k and the
    driver merges k-row candidate sets; never a global sort, never a
    single-partition window (asserted in tests/test_plans.py). The
    100 TB training-mixture primitive when documents carry quality
    weights.
    """
    v = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 6), 16, 10
    ).cast("bigint")
    u = (v + 1) / F.lit(16777217.0)
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 6
    )
    return (
        # w <= 0 has no A-ES meaning and engines disagree on pow edge
        # cases (0^inf vs NaN) — excluded, never silently sampled.
        df.where(F.col(weight_col) > 0)
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.col(id_col))
        .limit(k)
    )
