"""Round-7 securities-domain batch 3 (SURVEY.md §2.11): Hurst
exponent via rescaled-range (R/S) analysis — the long-memory
diagnostic (H > 0.5 trending, < 0.5 mean-reverting) that complements
d70's variance-ratio test with the classic multi-scale spelling.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.functions.daily import (
    DAILY_SQL as _DAILY_SQL,
)
from security_master_spark.functions.daily import (
    RETS_SQL as _RETS_SQL,
)
from security_master_spark.functions.daily import daily_closes, daily_returns
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: R/S block sizes (trading days) — the three scales the log-log
#: slope regresses over.
_RS_SIZES = (8, 16, 32)


def _rs_size_sql(s: int) -> str:
    """One per-size CTE chain: full blocks of ``s`` returns, within
    each block the cumulative deviation from the block mean, then
    R = max(W) − min(W) over S = population stddev, averaged across
    the series' blocks."""
    return f"""
        SELECT event_type, {s} AS sz,
               AVG(rs) AS mean_rs
        FROM (
            SELECT event_type, blk,
                   (MAX(w) - MIN(w))
                       / NULLIF(SQRT(SUM(dev * dev) / COUNT(*)), 0)
                       AS rs
            FROM (
                SELECT event_type, blk, dev,
                       SUM(dev) OVER (PARTITION BY event_type, blk
                                      ORDER BY day
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS w
                FROM (
                    SELECT event_type, day, blk,
                           r - AVG(r) OVER (PARTITION BY event_type,
                                            blk) AS dev,
                           COUNT(*) OVER (PARTITION BY event_type,
                                          blk) AS cnt
                    FROM (
                        SELECT event_type, day, r,
                               (ROW_NUMBER() OVER (
                                   PARTITION BY event_type
                                   ORDER BY day) - 1) // {s} AS blk
                        FROM rr
                    )
                ) WHERE cnt = {s}
            ) GROUP BY event_type, blk
        ) WHERE rs IS NOT NULL
        GROUP BY event_type"""


@register(
    "d83_hurst_rs",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, rs_panel AS (
        {" UNION ALL ".join(_rs_size_sql(s) for s in _RS_SIZES)}
    )
    SELECT event_type,
           {sql_dround(
               "MAX(CASE WHEN sz = 8 THEN mean_rs END)", 6)} AS rs_8,
           {sql_dround(
               "MAX(CASE WHEN sz = 16 THEN mean_rs END)", 6)} AS rs_16,
           {sql_dround(
               "MAX(CASE WHEN sz = 32 THEN mean_rs END)", 6)} AS rs_32,
           {sql_dround(
               "REGR_SLOPE(LN(mean_rs), LN(CAST(sz AS DOUBLE)))", 6
           )} AS hurst
    FROM rs_panel
    GROUP BY event_type
    """,
)
def d83_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis: split each series'
    daily returns into full blocks of 8/16/32 days; per block compute
    R (range of the cumulative deviation from the block mean) over S
    (population stddev); average R/S per scale; H = the slope of
    ln(R/S) against ln(scale) via REGR_SLOPE — random walks give
    H ≈ 0.5, trends > 0.5, mean reversion < 0.5. d70's variance
    ratio is the two-scale cousin; this is the classic Mandelbrot
    multi-scale spelling, with the per-scale means published so the
    regression inputs are themselves hash-certified.

    Shape: per scale, ONE chain of same-key windows over the
    collapsed daily frame (block id from a per-series row_number,
    block mean + count as partition windows, the cumulative deviation
    as a running sum — all sharing the (series, block) sort), then a
    count-only rollup; the three scales union ~O(series) rows and the
    final REGR_SLOPE folds 3 points per series. Nothing here ever
    touches tick scale, and no scale requires a second shuffle."""
    # Persisted (round-15): the three R/S scales each re-derived the
    # full tick->daily-close window collapse + returns lag; the cached
    # frame is the collapsed O(series x days) daily-returns panel,
    # never tick-scale (1.25 -> measured below, same-era A/B).
    rets = daily_returns(daily_closes(spark, sf_dir)).persist()
    panels = []
    for s in _RS_SIZES:
        widx = Window.partitionBy("event_type").orderBy("day")
        blk = F.floor((F.row_number().over(widx) - 1) / s)
        based = rets.select(
            "event_type", "day", "r", blk.alias("blk")
        )
        wblk = Window.partitionBy("event_type", "blk")
        wrun = (
            Window.partitionBy("event_type", "blk")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        dev = based.select(
            "event_type",
            "day",
            "blk",
            (F.col("r") - F.avg("r").over(wblk)).alias("dev"),
            F.count("*").over(wblk).alias("cnt"),
        ).filter(F.col("cnt") == s)
        w = dev.select(
            "event_type",
            "blk",
            "dev",
            F.sum("dev").over(wrun).alias("w"),
        )
        rs = (
            w.groupBy("event_type", "blk")
            .agg(
                F.try_divide(
                    F.max("w") - F.min("w"),
                    F.nullif(
                        F.sqrt(
                            F.sum(F.col("dev") * F.col("dev"))
                            / F.count("*")
                        ),
                        F.lit(0.0),
                    ),
                ).alias("rs")
            )
            .filter(F.col("rs").isNotNull())
        )
        panels.append(
            rs.groupBy("event_type")
            .agg(F.avg("rs").alias("mean_rs"))
            .withColumn("sz", F.lit(s))
        )
    panel = panels[0].unionByName(panels[1]).unionByName(panels[2])
    return panel.groupBy("event_type").agg(
        dround(
            F.max(F.when(F.col("sz") == 8, F.col("mean_rs"))), 6
        ).alias("rs_8"),
        dround(
            F.max(F.when(F.col("sz") == 16, F.col("mean_rs"))), 6
        ).alias("rs_16"),
        dround(
            F.max(F.when(F.col("sz") == 32, F.col("mean_rs"))), 6
        ).alias("rs_32"),
        dround(
            F.regr_slope(
                F.log(F.col("mean_rs")),
                F.log(F.col("sz").cast("double")),
            ),
            6,
        ).alias("hurst"),
    )
