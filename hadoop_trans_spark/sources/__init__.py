"""Schema-checked source readers (E1/E2).

Policy (SURVEY §1.2): schemas are declared, never inferred, except at
explicit ingest boundaries. Inference on 100 TB means a second scan and
nondeterministic types — both unacceptable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(spark: SparkSession, path: str, schema: T.StructType | str, header: bool = True) -> DataFrame:
    """CSV ingest with an explicit schema (no inferSchema scan).

    ignoreLeading/TrailingWhiteSpace are OFF: the univocity trim treats
    every char <= 0x20 as padding, so the defaults silently corrupt
    values with edge whitespace or an edge NUL byte (hostile-string
    probe, r12) — an ingest boundary must be byte-faithful."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """JSON-lines ingest with an explicit schema."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | str | None = None) -> DataFrame:
    """ORC ingest (columnar alternative boundary; schema optional because
    ORC embeds one — passing it still pins the contract)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def read_xml(spark: SparkSession, path: str, schema: T.StructType | str, row_tag: str = "row") -> DataFrame:
    """XML ingest (built into Spark 4; formerly spark-xml). Schema is
    declared like every other text boundary — XML inference is an extra
    full scan plus type guessing, both wrong at 100 TB.

    ignoreSurroundingSpaces is OFF: the default silently trims edge
    whitespace from element text — the same <= 0x20 corruption class as
    the CSV univocity trim (r12 hostile probe; r13 found the XML twin).
    Characters ILLEGAL in XML 1.0 (NUL, 0x01–0x1F except tab/LF/CR)
    cannot cross this boundary at all — the WRITER fails loudly, which
    is the correct contract (a loud refusal, never silent mangling);
    route such payloads through a binary-safe format (parquet/ORC both
    round-trip NULs byte-exactly)."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("ignoreSurroundingSpaces", "false")
        .schema(schema)
        .load(path)
    )
