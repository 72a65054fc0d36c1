"""Candidate-pair growth audit for the blocked-quadratic operators.

Every dedup/similarity/graph operator in this repo bounds its pairwise
work by BLOCKING (LSH bands, pigeonhole segments, PPJoin prefixes,
rank windows, basket caps, hub pruning). The guarantee that matters at
100 TB is that CANDIDATE-PAIR counts grow ~linearly with the corpus —
a block key that degenerates at volume (the r12 q200 mega-basket JVM
OOM was exactly this class) shows up as super-linear pair growth long
before it shows up as a dead executor.

This tool measures the candidate-stage size of each blocked operator
at 1x and at an N x fact-replicated fixture (tools/replicate_facts.py,
disjoint keys / language-suffixed shards so blocks gain SHARDS, not
artificial duplicates), and reports the growth factor. ~N x pairs for
N x rows = linear (blocking holds); >> N x = a degenerating block key.

Usage:
  python tools/replicate_facts.py /root/testdata/sf0.01 /tmp/x8 8 --with-events
  python tools/pair_growth.py /root/testdata/sf0.01 /tmp/x8 8

Counter definitions mirror the operators' own candidate stages
(file:line cited per counter); where a stage builder is importable it
is called directly, otherwise the same expressions are rebuilt here.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from hadoop_trans_spark.catalog import table  # noqa: E402
from hadoop_trans_spark.session import get_spark  # noqa: E402


def _c2(col):
    return F.sum(F.expr(f"{col} * ({col} - 1) / 2")).cast("long")


def q40_minhash(spark, d):
    """LSH band-signature equi-join (operators/minhash.candidate_pairs)."""
    from hadoop_trans_spark.operators.minhash import candidate_pairs
    from hadoop_trans_spark.queries.dedup import bandsig_table

    return candidate_pairs(bandsig_table(spark, d)).count()


def q41_simhash(spark, d):
    """Pigeonhole segment blocks (operators/simhash.py hamming_pairs):
    pairs sharing any of the 4 exact 16-bit segments = sum C(k,2) per
    (seg, seg_val) block under the max_bucket cap — the join size
    before the hamming filter. (This counter caught the r13 find: at
    N_BITS=32 the 8-bit segments gave 61x pairs at 8x docs.)"""
    from hadoop_trans_spark.operators.simhash import N_BITS
    from hadoop_trans_spark.queries.dedup import simhash_table

    n_seg, seg_bits = 4, N_BITS // 4
    segs = simhash_table(spark, d).select(
        F.explode(F.sequence(F.lit(0), F.lit(n_seg - 1))).alias("seg"),
        F.expr(
            f"shiftrightunsigned(simhash, seg * {seg_bits})"
            f" & {(1 << seg_bits) - 1}"
        ).alias("seg_val"),
    )
    r = (
        segs.groupBy("seg", "seg_val")
        .count()
        .where(F.col("count") <= 1000)
        .agg(_c2("count").alias("pairs"))
        .collect()[0]
    )
    return int(r.pairs or 0)


def _grams_table(spark, d):
    from hadoop_trans_spark.operators.stage import (
        materialize_stage,
        parallelize_stage,
    )

    doc = table(spark, d, "documents").where(F.col("text").isNotNull())
    ws = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(ws) - 2, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
        )
    )
    return materialize_stage(
        parallelize_stage(doc).select(
            "doc_id",
            "lang",
            (F.col("n_chars") / 200).cast("long").alias("len_bucket"),
            grams.alias("grams"),
        )
    )


def q42_ppjoin(spark, d):
    """PPJoin prefix-filtered candidates (queries/dedup.py:337):
    (lang, len_bucket, prefix-gram) equi-join + size-ratio filter."""
    w = _grams_table(spark, d)
    light = w.select("doc_id", F.size("grams").alias("n"))
    toks = w.select(
        "doc_id", "lang", "len_bucket", F.explode("grams").alias("g")
    )
    dfreq = toks.groupBy("g").agg(F.count("*").alias("df"))
    rk = F.row_number().over(W.partitionBy("doc_id").orderBy("df", "g"))
    prefix = (
        toks.join(dfreq, "g")
        .withColumn("rk", rk)
        .join(light, "doc_id")
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
    return (
        pa.join(pb, ["lang", "len_bucket", "g"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.least("n_a", "n_b") >= F.greatest("n_a", "n_b") * 0.8)
        )
        .select("id_a", "id_b")
        .distinct()
        .count()
    )


def q142_containment(spark, d):
    """Containment prefix candidates (queries/dedup.py:831): rare-first
    10% prefix x df>=2 postings within lang."""
    w = _grams_table(spark, d)
    light = w.select("doc_id", F.size("grams").alias("n"))
    toks = w.select("doc_id", "lang", F.explode("grams").alias("g"))
    dfreq = toks.groupBy("g").agg(F.count("*").alias("df"))
    ranked = (
        toks.join(dfreq, "g")
        .withColumn(
            "rk",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "g")),
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
    return (
        pa.join(pb, ["lang", "g"])
        .where(
            (F.col("n_a") < F.col("n_b"))
            | ((F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b")))
        )
        .select("id_a", "id_b")
        .distinct()
        .count()
    )


def q157_neighborhood(spark, d):
    """Sorted-neighborhood w=5 rank blocks (queries/advanced.py:250):
    candidates = rows within w of each other = ~w*n by construction;
    counted exactly from the rank."""
    n = table(spark, d, "part").count()
    w = 5
    # each row pairs with the next min(w, n-rank) rows:
    # sum_{i=1..n} min(w, n-i) = w*(n-w) + C(w,2) for n > w
    if n <= 1:
        return 0
    if n <= w:
        return n * (n - 1) // 2
    return w * (n - w) + w * (w - 1) // 2


def q200_baskets(spark, d):
    """Basket-capped co-purchase expansion (operators/cooccur.copurchase_pairs with
    MAX_BASKET enforced): sum C(k,2) over orders' distinct-part baskets
    with k <= 1024."""
    from hadoop_trans_spark.operators.cooccur import MAX_BASKET

    li = table(spark, d, "lineitem")
    r = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_partkey").alias("k"))
        .where(F.col("k") <= MAX_BASKET)
        .agg(_c2("k").alias("pairs"))
        .collect()[0]
    )
    return int(r.pairs or 0)


def q204_wedges(spark, d):
    """Hub-pruned wedge join (queries/graph.py:429): sum C(deg,2) over
    intermediates with 2 <= deg <= 64 on the co-purchase graph."""
    from hadoop_trans_spark.queries.graph import _part_pairs

    pairs = _part_pairs(spark, d)
    und = pairs.selectExpr("u AS node").unionAll(pairs.selectExpr("v AS node"))
    r = (
        und.groupBy("node")
        .count()
        .where((F.col("count") >= 2) & (F.col("count") <= 64))
        .agg(_c2("count").alias("pairs"))
        .collect()[0]
    )
    return int(r.pairs or 0)


def q252_span_windows(spark, d):
    """Duplicated-window volume (queries/dedup.py q252_span_dedup): rows
    surviving the corpus-wide count>=2 filter — the span-merge stage
    input. q252 COUNTS window occurrences (one hash shuffle), never
    pairs them, so a hot boilerplate window contributes its occurrence
    count, not C(k,2) — this counter proves that stays ~linear."""
    K = 8
    toks = (
        table(spark, d, "documents")
        .where(F.col("text").isNotNull())
        .select(F.split(F.lower("text"), " ").alias("t"))
        .where(F.size("t") >= K)
    )
    wins = toks.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {K} + 1), "
                f"i -> md5(array_join(slice(t, i, {K}), ' ')))"
            )
        ).alias("h")
    )
    r = (
        wins.groupBy("h")
        .count()
        .where(F.col("count") >= 2)
        .agg(F.sum("count").alias("v"))
        .collect()[0]
    )
    return int(r.v or 0)


COUNTERS = {
    "q40_minhash_lsh": q40_minhash,
    "q41_simhash_pigeonhole": q41_simhash,
    "q42_ppjoin_prefix": q42_ppjoin,
    "q142_containment_prefix": q142_containment,
    "q157_sorted_neighborhood": q157_neighborhood,
    "q200_basket_cap": q200_baskets,
    "q204_hub_pruned_wedges": q204_wedges,
    "q252_span_window_volume": q252_span_windows,
}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) < 3:
        raise SystemExit(__doc__.strip().split("Usage:")[1])
    base, repl, factor = args[0], args[1], float(args[2])
    spark = get_spark(app_name="pair_growth")

    # q41's pigeonhole blocking carries an irreducible BIRTHDAY term:
    # random fingerprints collide in a segment at rate C(n,2)/2^16 per
    # segment, so its candidates grow linear (true near-dups) PLUS
    # n²/B random collisions — quadratic with a 1/262144 constant,
    # worst-case bounded by the max_bucket cap. The gate allows the
    # predicted random mass; a degenerating block key (the r13 32-bit
    # find: 61x from 8-bit segments) still blows far past it.
    def birthday_allowance(name: str, docs_n: int) -> float:
        if name != "q41_simhash_pigeonhole":
            return 0.0
        return 4.0 * docs_n * (docs_n - 1) / 2 / 65536

    docs_nx = table(spark, repl, "documents").count()
    rows = []
    for name, fn in COUNTERS.items():
        n1 = fn(spark, base)
        n2 = fn(spark, repl)
        growth = (n2 / n1) if n1 else float("inf") if n2 else 1.0
        bound = factor * 1.5 * max(n1, 1) + 2 * birthday_allowance(
            name, docs_nx
        )
        rows.append(
            {
                "operator": name,
                "pairs_1x": n1,
                f"pairs_{factor:g}x": n2,
                "growth": round(growth, 2),
                "linear_ok": bool(n2 <= bound + 1e-9),
            }
        )
        print(json.dumps(rows[-1]))
    bad = [r["operator"] for r in rows if not r["linear_ok"]]
    print(
        f"\n=== PAIR GROWTH === ops: {len(rows)}  factor: {factor:g}x  "
        f"superlinear: {len(bad)}" + (f"  ({','.join(bad)})" if bad else "")
    )
    if bad:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
