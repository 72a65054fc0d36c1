"""Build an N× fact-replicated fixture for scale extrapolation (dev tool).

Replicates the FACT tables of an sf dir with disjoint keys so joins stay
consistent (lineitem/orders shift l_orderkey/o_orderkey by copy·offset;
documents shift doc_id and suffix lang with the copy id so language-blocked
dedup sees N independent shards rather than N× artificial duplicates);
dimension tables (and events/embeddings) are copied unchanged. This is the
"10× extrapolation check" harness from SCALE.md.

Usage:
  python tools/replicate_facts.py /root/testdata/sf0.1 /tmp/sf0.1_x10 10
  python tools/ab_cold.py q204 --sf /root/testdata/sf0.1,/tmp/sf0.1_x10   # then time against both

``--with-events`` / ``--with-embeddings`` additionally replicate the
events table (event_id AND user_id shifted per copy, so user-grained
self-joins — q231 audiences, q239 transition count — see 10× users
with 10× rows, not 10× artificial duplicate rows that a distinct
collapses) and the embeddings table (vec_id shifted). Off by default
to keep parity with the round-4/5 audit tables.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from hadoop_trans_spark.catalog import table  # noqa: E402
from hadoop_trans_spark.session import get_spark  # noqa: E402

COPY_ASIS = ["region", "nation", "customer", "supplier", "part", "events", "embeddings"]


def main() -> None:
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    with_events = "--with-events" in sys.argv
    with_embeddings = "--with-embeddings" in sys.argv
    src, dst, n = argv[0], argv[1], int(argv[2])
    os.makedirs(dst, exist_ok=True)
    spark = get_spark(app_name="replicate_facts")

    copy_asis = [
        t
        for t in COPY_ASIS
        if not (t == "events" and with_events)
        and not (t == "embeddings" and with_embeddings)
    ]
    for t in copy_asis:
        s, d = f"{src}/{t}.parquet", f"{dst}/{t}.parquet"
        if not os.path.exists(s):
            continue
        # Always refresh: a reused dst with a different src would
        # otherwise silently mix old dimensions with new facts.
        if os.path.isdir(d):
            shutil.rmtree(d)
        elif os.path.exists(d):
            os.remove(d)
        # src may be a single file (driver fixtures) or a Spark-written
        # parquet directory (e.g. this tool's own output).
        if os.path.isdir(s):
            shutil.copytree(s, d)
        else:
            shutil.copy(s, d)

    okey_off = (
        table(spark, src, "orders").agg(F.max("o_orderkey")).first()[0] + 1
    )
    copies = spark.range(n).select(F.col("id").alias("copy"))

    o = table(spark, src, "orders")
    (
        o.crossJoin(copies)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("copy") * okey_off)
        .drop("copy")
        .write.mode("overwrite")
        .parquet(f"{dst}/orders.parquet")
    )
    li = table(spark, src, "lineitem")
    (
        li.crossJoin(copies)
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("copy") * okey_off)
        .drop("copy")
        .write.mode("overwrite")
        .parquet(f"{dst}/lineitem.parquet")
    )
    docs = table(spark, src, "documents")
    did_off = docs.agg(F.max("doc_id")).first()[0] + 1
    # Text is SALTED per copy (every word suffixed with the copy id, copy
    # 0 byte-identical to the source): the lang suffix alone only shards
    # LANGUAGE-blocked operators — content-blocked ones (MinHash bands,
    # SimHash segments) still see N byte-identical twins per doc and
    # correctly flag C(N,2) true duplicate pairs per doc, drowning the
    # growth signal the replica exists to measure (r13 pair_growth find:
    # q40 read 602x at 8x replication before the salt). Word-level salt
    # changes every shingle, so copies are genuinely distinct documents.
    salted = F.concat_ws(
        " ",
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, F.lit("_c"), F.col("copy").cast("string")),
        ),
    )
    (
        docs.crossJoin(copies)
        .withColumn("doc_id", F.col("doc_id") + F.col("copy") * did_off)
        .withColumn("lang", F.concat_ws("-", "lang", F.col("copy").cast("string")))
        .withColumn(
            "text",
            F.when(F.col("copy") == 0, F.col("text")).otherwise(
                F.when(F.col("text").isNotNull(), salted)
            ),
        )
        .withColumn(
            "n_chars",
            F.when(F.col("copy") == 0, F.col("n_chars")).otherwise(
                F.length("text").cast(docs.schema["n_chars"].dataType)
            ),
        )
        .drop("copy")
        .write.mode("overwrite")
        .parquet(f"{dst}/documents.parquet")
    )
    replicated = ["orders", "lineitem", "documents"]
    if with_events:
        ev = table(spark, src, "events")
        eid_off = ev.agg(F.max("event_id")).first()[0] + 1
        uid_off = ev.agg(F.max("user_id")).first()[0] + 1
        (
            ev.crossJoin(copies)
            .withColumn("event_id", F.col("event_id") + F.col("copy") * eid_off)
            .withColumn("user_id", F.col("user_id") + F.col("copy") * uid_off)
            .drop("copy")
            .write.mode("overwrite")
            .parquet(f"{dst}/events.parquet")
        )
        replicated.append("events")
    if with_embeddings:
        emb = table(spark, src, "embeddings")
        vid_off = emb.agg(F.max("vec_id")).first()[0] + 1
        (
            emb.crossJoin(copies)
            .withColumn("vec_id", F.col("vec_id") + F.col("copy") * vid_off)
            .drop("copy")
            .write.mode("overwrite")
            .parquet(f"{dst}/embeddings.parquet")
        )
        replicated.append("embeddings")
    for t in replicated:
        print(t, spark.read.parquet(f"{dst}/{t}.parquet").count())


if __name__ == "__main__":
    main()
