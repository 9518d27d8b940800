"""Round-7 IO batch 2 (SURVEY.md §2.1): NESTED JSON roundtrip —
array-of-struct documents (an order with its line items) surviving
write → schema-first read → re-flatten, the denormalized-document
interchange shape io2's flat JSON never exercises.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


# io_scratch is register-free, so this import cannot perturb
# registration order; it also honors the configurable scratch
# root (spark.sms.scratch.root / SPARK_GRAFT_SCRATCH_ROOT) —
# a hardcoded /tmp copy silently escaped that config point.
from security_master_spark.plans.io_scratch import _scratch


_NESTED_SCHEMA = (
    "o_orderkey long, o_orderstatus string, "
    "items array<struct<ln: int, qty: double, price: double>>"
)


@register(
    "io21_nested_json_roundtrip",
    oracle=f"""
    SELECT o.o_orderstatus,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT))
                AS BIGINT) AS total_qty,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS total_price_cents
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def io21_nested_json_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nested JSON roundtrip: denormalize each order into a document
    (order header + a sorted array of line-item structs), write JSON
    lines, read back with an explicit NESTED schema, re-flatten with
    explode, and aggregate — certified against an oracle that joins
    the original tables and never sees a document. Array-of-struct
    fidelity (field names, element order, double round-tripping
    inside nested fields) all have to survive for the sums to hash.
    Sums are EXACT integer cents (quantities/prices are 2-decimal
    values): at sf0.1 the per-status double sums reach ~7e9, where
    summation-order ulp noise exceeds a 4dp round — integer sums are
    order-independent and scale-proof.

    Scale: the nest is ONE groupBy (collect_list bounded by lines per
    order, ≤7 in TPC-H shape); the read-back declares the schema so
    there is no inference pass over the JSON; explode restores the
    flat stream pipeline-side. This is the document-interchange path
    (order APIs, event payloads) run through the engine end-to-end."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nested = (
        li.select(
            "l_orderkey",
            F.struct(
                F.col("l_linenumber").cast("int").alias("ln"),
                F.col("l_quantity").alias("qty"),
                F.col("l_extendedprice").alias("price"),
            ).alias("item"),
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("item")).alias("items"))
        .join(
            orders.select("o_orderkey", "o_orderstatus"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_orderkey", "o_orderstatus", "items")
    )
    path = _scratch(sf_dir, "nested_json")
    nested.write.mode("overwrite").json(path)
    back = spark.read.schema(_NESTED_SCHEMA).json(path)
    flat = back.select(
        "o_orderkey",
        "o_orderstatus",
        F.explode("items").alias("item"),
    )
    return flat.groupBy("o_orderstatus").agg(
        F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(F.floor(F.col("item.qty") + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("total_qty"),
        F.sum(
            F.floor(F.col("item.price") * 100 + 0.5).cast("bigint")
        )
        .cast("bigint")
        .alias("total_price_cents"),
    )
