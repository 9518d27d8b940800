"""Round-7 scalar batch (SURVEY.md §2.8): binary/text encodings —
base64, hex, codepoint functions, byte lengths, and the
encode→base64→decode roundtrip proved in-row.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.plans.registry import register


@register(
    "s26_binary_encoding",
    oracle="""
    SELECT p_partkey,
           base64(encode(p_name)) AS name_b64,
           hex(p_brand) AS brand_hex,
           ascii(p_name) AS first_cp,
           chr(65 + CAST(p_partkey % 26 AS INT)) AS letter,
           CAST(octet_length(encode(p_name)) AS BIGINT) AS n_bytes,
           CAST(bit_length(p_brand) AS BIGINT) AS n_bits,
           decode(from_base64(base64(encode(p_name)))) = p_name
               AS roundtrip_ok
    FROM part
    """,
)
def s26_binary_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary/text encoding functions: base64 and hex of string
    bytes, first codepoint (`ascii`), codepoint→char (`chr`), byte
    and bit lengths, and the encode→base64→unbase64→decode roundtrip
    asserted as an in-row boolean — the wire-format toolkit every
    ingest/export pipeline leans on (m5/m6 move real binary columns;
    this certifies the scalar surface itself, value by value).

    Engine note: Spark strings coerce to UTF-8 bytes via
    CAST(s AS BINARY); DuckDB needs the explicit `encode()` — both
    produce the same bytes, so base64/hex/octet_length agree exactly
    (hex is uppercase in both). Pure scan projection: whole-stage
    codegen, zero shuffles, column pruning to the two strings."""
    part = load_table(spark, sf_dir, "part")
    name_bin = F.col("p_name").cast("binary")
    return part.select(
        "p_partkey",
        F.base64(name_bin).alias("name_b64"),
        F.hex(F.col("p_brand")).alias("brand_hex"),
        F.ascii(F.col("p_name")).alias("first_cp"),
        F.chr(65 + (F.col("p_partkey") % 26).cast("int")).alias(
            "letter"
        ),
        F.octet_length(F.col("p_name")).cast("bigint").alias(
            "n_bytes"
        ),
        F.bit_length(F.col("p_brand")).cast("bigint").alias("n_bits"),
        (
            F.decode(F.unbase64(F.base64(name_bin)), "UTF-8")
            == F.col("p_name")
        ).alias("roundtrip_ok"),
    )
