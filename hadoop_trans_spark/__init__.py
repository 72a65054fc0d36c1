"""hadoop_trans_spark — a PySpark-native analytics/ETL engine.

A ground-up rebuild of the capabilities of ``E-SoulDataGroup/hadoop-trans``
(an HDFS partition-migration + small-file-compaction tool; see SURVEY.md §0)
as an idiomatic Spark engine: declarative DataFrame/SQL plans optimized by
Catalyst, plus the LLM-data-pipeline operator surface (dedup, similarity
search, multimodal columns, text analysis) required by the north star.

Layout:
    session    — SparkSession factory (AQE on, UTC, Arrow on)
    catalog    — fixture-table loader / temp-view registration
    queries    — the declared query surface (SURVEY §2B) + DuckDB oracles
    operators  — reusable operator implementations (as-of join, top-k,
                 minhash/simhash dedup, vector similarity, text stats)
    pipelines  — migrate / compact / verify (the reference's three entry
                 points, re-expressed as distributed scan→sink jobs)
    sources    — schema-checked readers (parquet/csv/json/orc/xml)
    streaming  — Structured Streaming query builders (E37–E41)
"""

__version__ = "0.1.0"
