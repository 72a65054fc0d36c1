"""SimHash near-duplicate fingerprints (E34; Charikar '02).

Per document: each distinct feature votes ±1 on every bit of a b-bit
fingerprint (vote = parity of a hex digit of md5(feature)); bit = 1
where the vote sum is positive. Near-duplicates have small Hamming
distance.

Features are word 3-gram shingles, not unigram tokens: documents drawn
from a shared vocabulary have near-identical unigram SETS (SimHash sees
the set, not counts), which collapses fingerprints corpus-wide; shingle
sets differ wherever word order does, so random pairs sit near Hamming
b/2 while true near-dups stay ≤3. b=64 from ONE md5: fingerprint bit b
takes BIT (b mod 4) of hex digit (b div 4) — the digest's first 64
actual bits, not digit parities — so every step (md5, digit value, bit
extract, sum, assembly) is reproducible in ANSI SQL and the DuckDB
oracle runs the identical pipeline. b was 32 digit-parities through
r12; the r13 pair-growth audit (tools/pair_growth.py) measured the
pigeonhole blocks degenerating — 32/4 = 8-bit segments give only 256
buckets per segment, so candidate pairs grew ~n²/256 (61× pairs at 8×
docs). 16-bit segments put the same corpus across 65 536 buckets per
segment, at the SAME md5 count per shingle (an interim two-digest
variant measured ~1.23× on q41; nibble-bit extraction restored single
md5). At 100 TB the explode factor is |shingles|×64, all map-side; the
only shuffle is the final groupBy(doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .minhash import shingle_array
from .stage import materialize_stage

HEX = "0123456789abcdef"
N_BITS = 64
# bit 63's addend: two's-complement sign bit of the bigint fingerprint
# (1 << 63 overflows LongType; both engines assemble it as this value)
SIGN_BIT = -(2**63)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) with a 64-bit fingerprint as bigint (bit 63 is the
    sign bit — xor/bit_count are bit-pattern ops, sign-agnostic).

    Physical shape: one row per (doc, shingle). ONE md5 per shingle;
    the digest's first 16 hex digits parse as two 32-bit chunks (conv
    base-16 — bigint-safe), fingerprint bit b reads bit (b mod 4) of
    digit (b div 4) via shifts, then a single codegen'd hash
    aggregation sums the 64 bit positions; the fingerprint assembles
    from the counts (vote sum for bit b = 2·ones_b − n).
    Equivalent-but-slow shapes, measured at sf0.1: explode
    (shingle × bit) rows → 10s (32× the shuffle rows); nested
    higher-order lambdas → 100s (interpreted per-element eval); a
    two-digest 64-bit variant → 1.23× warm (md5 dominates — hence one
    digest). At 100 TB the shuffle carries only the per-doc partial
    count vectors (map-side combine)."""
    # NULL-text docs get no fingerprint (shingle_array rule: contentless
    # docs are excluded from content dedup — NULL-probe find, r10).
    df = df.where(F.col(text_col).isNotNull())
    masks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                shingle_array(F.lower(F.col(text_col)), k=3)
            ).alias("tok"),
        )
        # md5 in its OWN projection so the two chunk extractions below
        # share one digest (identical md5 subtrees in one select are
        # not guaranteed to collapse under codegen)
        .select("id", F.md5("tok").alias("h"))
        .select(
            "id",
            # digits 0..7 / 8..15 of the digest, parsed big-endian:
            # digit d is the nibble at shift 4*(7 - d%8) of chunk c{d//8}
            F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint").alias("c0"),
            F.conv(F.substring("h", 9, 8), 16, 10).cast("bigint").alias("c1"),
        )
    )
    # Fingerprint bit b = bit (b%4) of digit (b//4):
    # (c{(b//4)//8} >> (4*(7 - (b//4)%8) + b%4)) & 1
    counts = masks.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.expr(
                    f"(c{(b // 4) // 8} >> "
                    f"{4 * (7 - (b // 4) % 8) + b % 4}) & 1"
                )
            ).alias(f"s{b}")
            for b in range(N_BITS)
        ],
    )
    fingerprint = sum(
        F.when(
            2 * F.col(f"s{b}") - F.col("n") > 0,
            F.lit(SIGN_BIT if b == 63 else 1 << b),
        ).otherwise(F.lit(0))
        for b in range(N_BITS)
    ).cast("bigint")
    return counts.select("id", fingerprint.alias("simhash"))


def hamming_pairs(
    sim: DataFrame, max_distance: int = 3, max_bucket: int | None = 1000
) -> DataFrame:
    """(id_a, id_b, hamming) for pairs within the distance budget.

    Local/small-N path is a self-join + bit_count(xor). At scale, block
    first: split the fingerprint into (max_distance+1) segments — by
    pigeonhole, any pair within the budget shares at least one exact
    segment — and equi-join on (segment_idx, segment_value) like LSH
    banding. Implemented with the segment blocking so the plan is the
    scale plan.

    ``max_bucket`` drops segment buckets past the cap before the
    quadratic self-join (the minhash candidate_pairs guard, r13): a
    fingerprint segment shared by a boilerplate-heavy cluster is the
    simhash twin of a hot LSH band, and one such bucket is a C(k,2)
    blow-up. Recall caveat (ADVICE r13): sharing one 16-bit segment does
    NOT bound the Hamming distance over the other 48 bits, so a dropped
    bucket can lose TRUE pairs, not just near-identical mass — the cap
    is a declared recall/cost trade, and q63's oracle models the exact
    same windowed-count filter so the declared semantics (capped) are
    what the oracle checks. Pass ``max_bucket=None`` for exact recall
    when the corpus is known boilerplate-light."""
    n_seg = max_distance + 1
    seg_bits = N_BITS // n_seg
    # Materialize the (id, simhash) table once: the self-join would
    # otherwise recompute the fingerprint expression — ~10⁴ hash-digit
    # ops per doc — per branch per segment (AQE defeats ReuseExchange
    # here). The checkpointed table is 16 bytes/doc on executor storage.
    sim = materialize_stage(sim)
    segs = sim.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_seg - 1))).alias("seg"),
    ).withColumn(
        "seg_val",
        F.expr(
            f"shiftrightunsigned(simhash, seg * {seg_bits}) & {(1 << seg_bits) - 1}"
        ),
    )
    if max_bucket is not None:
        segs = segs.withColumn(
            "bucket_n", F.count("*").over(W.partitionBy("seg", "seg_val"))
        ).where(F.col("bucket_n") <= max_bucket)
    a = segs.select("seg", "seg_val", F.col("id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = segs.select("seg", "seg_val", F.col("id").alias("id_b"), F.col("simhash").alias("h_b"))
    return (
        a.join(b, ["seg", "seg_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_distance)
    )
