"""Unit tests for the corpus-curation operators on crafted inputs —
edge cases the synthetic fixture corpus can't exercise."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_trans_spark.operators.curation import (
    decontaminate,
    hash_split,
    pii_counts,
    redact_pii,
    repetition_stats,
    stratified_sample,
)
from hadoop_trans_spark.operators.similarity import quantize_int8


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_decontaminate_flags_exact_ngram_overlap(spark):
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),  # shares 4-gram with bench
            (2, "zeta eta theta iota kappa"),  # no overlap
        ],
    )
    bench = _docs(spark, [(100, "alpha beta gamma delta zulu")])
    hits = {r["id"]: r["n_shared"] for r in decontaminate(corpus, bench, k=4).collect()}
    assert hits == {1: 1}  # only "alpha beta gamma delta", once


def test_decontaminate_counts_distinct_grams(spark):
    # The same shared gram appearing twice in a doc counts once.
    corpus = _docs(spark, [(1, "a b c d x a b c d")])
    bench = _docs(spark, [(9, "a b c d")])
    [row] = decontaminate(corpus, bench, k=4).collect()
    assert row["n_shared"] == 1


def test_repetition_stats_detects_dominated_doc(spark):
    df = _docs(
        spark,
        [
            (1, "spam spam spam spam ham"),  # top word 4/5
            (2, "one two three four five"),  # uniform
        ],
    )
    out = {r["id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["top_word_frac"] == 0.8
    assert out[2]["top_word_frac"] == 0.2
    # "spam spam" bigram appears 3 times of 4 bigrams
    assert out[1]["top_bigram_frac"] == 0.75
    assert out[2]["mean_word_len"] == 3.8  # (3+3+5+4+4)/5


def test_hash_split_deterministic_and_partitioned(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    out = df.withColumn("split", hash_split("doc_id"))
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # 12/2/2 nibble split over md5 → roughly 75/12.5/12.5%
    assert counts["train"] > 650
    # identical assignment on re-evaluation (pure projection, no seed state)
    again = {r["doc_id"]: r["split"] for r in out.collect()}
    assert {r["doc_id"]: r["split"] for r in out.collect()} == again


def test_stratified_sample_caps_per_stratum(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(100)], "doc_id long, lang string"
    )
    out = stratified_sample(df, "lang", "doc_id", k=7)
    sizes = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"en": 7, "de": 7}
    assert out.where(F.col("rk") > 7).count() == 0


def test_redact_pii_patterns(spark):
    df = spark.createDataFrame(
        [(1, "mail a.user+tag@sub.example.org ip 192.168.0.1 call 555-1234 done")],
        "doc_id long, text string",
    )
    [row] = df.select(
        redact_pii(F.col("text")).alias("red"), *pii_counts(F.col("text"))
    ).collect()
    assert row["red"] == "mail <EMAIL> ip <IP> call <PHONE> done"
    assert (row["n_emails"], row["n_ips"], row["n_phones"]) == (1, 1, 1)


def test_redact_pii_leaves_clean_text(spark):
    df = spark.createDataFrame(
        [(1, "no pii here, version 1.2 and room 101-A are fine")],
        "doc_id long, text string",
    )
    [row] = df.select(redact_pii(F.col("text")).alias("red"), *pii_counts(F.col("text"))).collect()
    assert row["red"] == "no pii here, version 1.2 and room 101-A are fine"
    assert (row["n_emails"], row["n_ips"], row["n_phones"]) == (0, 0, 0)


def test_quantize_int8_bounds_and_error(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.001, 0.002, -0.004, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["id"]: r for r in quantize_int8(df).collect()}
    for r in out.values():
        assert all(-128 <= q <= 127 for q in r["q"])
        assert r["sq_err"] >= 0
    # max-magnitude component maps to ±127 (floor can land on 126/-128)
    assert abs(out[1]["q"][0]) >= 126
    # reconstruction error bounded by n·(1/scale)² (floor error < 1 quantum)
    n = 4
    for r in out.values():
        assert r["sq_err"] <= n * (1.0 / r["scale"]) ** 2 + 1e-9
