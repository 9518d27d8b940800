"""Round-7 window batch 2 (SURVEY.md §2.5): ratio-to-report — the
share-of-total window (Oracle's RATIO_TO_REPORT), spelled as a
windowed sum division with multi-level shares in one pass.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "w13_ratio_to_report",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_regionkey AS regionkey,
               c.c_nationkey AS nationkey,
               SUM(o.o_totalprice) AS nation_rev
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    )
    SELECT regionkey, nationkey,
           {sql_dround("nation_rev", 4)} AS nation_rev,
           {sql_dround(
               "nation_rev / SUM(nation_rev)"
               " OVER (PARTITION BY regionkey)", 6
           )} AS share_of_region,
           {sql_dround(
               "nation_rev / SUM(nation_rev) OVER ()", 6
           )} AS share_of_total,
           CAST(RANK() OVER (PARTITION BY regionkey
                             ORDER BY nation_rev DESC, nationkey)
                AS BIGINT) AS rank_in_region
    FROM rev
    """,
)
def w13_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue as a share of its
    region AND of the grand total, plus the within-region rank — the
    contribution-analysis idiom (Oracle's RATIO_TO_REPORT) that every
    reporting layer reinvents, certified here as windowed-sum
    divisions so subtotal and grand-total shares come from ONE pass
    over the pre-aggregated frame.

    Shape: the fact table collapses to O(nations) rows FIRST (one
    map-side-combined groupBy through two broadcast dim joins); all
    three windows then run over that tiny frame — the region
    partition for share and rank share one sort, and the global sum
    is a single-partition pass over ~25 rows (fine HERE because the
    windowed frame is the pre-aggregated rollup, never the facts —
    the same reason w6's global top-k is safe)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        # no forced broadcast on customer (SF-linear; round-12 audit) —
        # nation below keeps its hint (25-row bounded dim)
        orders.join(
            cust,
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .groupBy(
            F.col("n_regionkey").alias("regionkey"),
            F.col("c_nationkey").alias("nationkey"),
        )
        .agg(F.sum("o_totalprice").alias("nation_rev"))
    )
    wreg = Window.partitionBy("regionkey")
    wall = Window.partitionBy()
    wrank = Window.partitionBy("regionkey").orderBy(
        F.col("nation_rev").desc(), F.col("nationkey")
    )
    return rev.select(
        "regionkey",
        "nationkey",
        dround(F.col("nation_rev"), 4).alias("nation_rev"),
        dround(
            F.col("nation_rev") / F.sum("nation_rev").over(wreg), 6
        ).alias("share_of_region"),
        dround(
            F.col("nation_rev") / F.sum("nation_rev").over(wall), 6
        ).alias("share_of_total"),
        F.rank().over(wrank).cast("bigint").alias("rank_in_region"),
    )
