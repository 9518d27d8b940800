"""Round-7 UDF batch (SURVEY.md §2.13): ``applyInArrow`` — Spark 4's
Arrow-native grouped-map (the pandas-free sibling of u4's
applyInPandas), running pyarrow.compute C++ kernels per group.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


_PROFILE_SCHEMA = pa.schema(
    [
        ("o_orderpriority", pa.string()),
        ("n_orders", pa.int64()),
        ("total_price", pa.float64()),
        ("min_price", pa.float64()),
        ("max_price", pa.float64()),
    ]
)


def _order_profile(table: "pa.Table") -> "pa.Table":
    """Per-group (one o_orderpriority) profile computed with
    pyarrow.compute C++ kernels and ``math.fsum`` — no pandas anywhere.
    Spark ships this function to the workers by value; pyarrow imports
    resolve there via the shipped package zip.

    The total is exactly rounded (``math.fsum``; the oracle uses
    DuckDB's compensated ``FSUM``), so it does not depend on the order
    rows reach the group: a plain float sum of ~30k prices (near 7.5e9 at sf0.1)
    drifts by ~1e-4 with the order and flips the 4th rounded decimal.

    The explicit result schema matters: ``pa.table`` infers type
    ``null`` from an all-None column (a fully-null group — the
    bad-upstream-extract shape), and Spark's Arrow verifier rejects
    null-typed columns against the declared string/double schema as a
    worker crash. Typed construction null-propagates instead (caught
    by the round-8 null-payload sweep)."""
    price = table.column("o_totalprice")
    prices = pc.drop_null(price).to_pylist()
    try:
        total = math.fsum(prices) if prices else None
    except (ValueError, OverflowError):
        # inf − inf or an overflowing total: IEEE semantics, as SQL SUM.
        total = pc.sum(price).as_py()
    return pa.table(
        {
            "o_orderpriority": [table.column("o_orderpriority")[0].as_py()],
            "n_orders": [table.num_rows],
            "total_price": [total],
            "min_price": [pc.min(price).as_py()],
            "max_price": [pc.max(price).as_py()],
        },
        schema=_PROFILE_SCHEMA,
    )


@register(
    "u14_apply_in_arrow",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dround("FSUM(o_totalprice)", 4)} AS total_price,
           {sql_dround("MIN(o_totalprice)", 4)} AS min_price,
           {sql_dround("MAX(o_totalprice)", 4)} AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def u14_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` (Spark 4): the grouped-map custom-aggregation
    surface with NO pandas layer — each group arrives as a raw Arrow
    table and the reduction runs pyarrow.compute's C++ kernels
    (u4/applyInPandas is the pandas sibling; u7/mapInArrow the
    ungrouped one). This is the seam for per-group native-lib work
    (a per-instrument calibrator, a per-entity model scorer) when
    even the pandas bridge is unwanted overhead.

    Scale: the shuffle is the groupBy's — same as any aggregation;
    Python cost is one vectorized pass per group with Arrow
    zero-copy in both directions. The whole path (group transfer,
    kernel results, column types) is certified against plain SQL.
    Skew caveat as u4: one group = one task, so a dominant key wants
    the d11 salting discipline first."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    prof = orders.groupBy("o_orderpriority").applyInArrow(
        _order_profile,
        schema=(
            "o_orderpriority string, n_orders long, total_price double,"
            " min_price double, max_price double"
        ),
    )
    return prof.select(
        "o_orderpriority",
        "n_orders",
        dround(F.col("total_price"), 4).alias("total_price"),
        dround(F.col("min_price"), 4).alias("min_price"),
        dround(F.col("max_price"), 4).alias("max_price"),
    )
