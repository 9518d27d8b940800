"""Round-7 window batch (SURVEY.md §2.5): gaps-and-islands streak
detection — the canonical "consecutive runs" window idiom that no
frame clause can express directly.

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
from security_master_spark.plans.registry import register


@register(
    "w12_streak_islands",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, base AS (
        SELECT event_type, day,
               CASE WHEN r > 0 THEN 1 ELSE 0 END AS up
        FROM rr
    ), marked AS (
        SELECT event_type, up,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day)
               - ROW_NUMBER() OVER (PARTITION BY event_type, up
                                    ORDER BY day) AS grp
        FROM base
    ), islands AS (
        SELECT event_type, up, grp, COUNT(*) AS len
        FROM marked GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(MAX(CASE WHEN up = 1 THEN len ELSE 0 END) AS BIGINT)
               AS longest_up,
           CAST(MAX(CASE WHEN up = 0 THEN len ELSE 0 END) AS BIGINT)
               AS longest_down,
           CAST(SUM(CASE WHEN up = 1 THEN len ELSE 0 END) AS BIGINT)
               AS n_up_days,
           CAST(SUM(CASE WHEN up = 1 AND len >= 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_up_streaks_ge3
    FROM islands GROUP BY event_type
    """,
)
def w12_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands streak detection: longest run of consecutive
    up days (and down days) per series, total up days, and the count
    of up-streaks of length ≥ 3 — the window idiom (row_number minus
    per-group row_number as the island key) that turns "consecutive"
    into a plain groupBy, with no frame clause and no iteration.

    Shape: the two row_numbers share the per-series sort (the second
    partitions by (series, up) — a sub-partition of the first, so the
    sort order is reusable); islands then aggregate counts only. At
    any scale this is one sort per series over the collapsed daily
    frame plus count-carrying shuffles — the same cost as a single
    window pass, and never a self-join or recursion."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    base = rets.select(
        "event_type",
        "day",
        F.when(F.col("r") > 0, 1).otherwise(0).alias("up"),
    )
    w_all = Window.partitionBy("event_type").orderBy("day")
    w_up = Window.partitionBy("event_type", "up").orderBy("day")
    marked = base.select(
        "event_type",
        "up",
        (
            F.row_number().over(w_all) - F.row_number().over(w_up)
        ).alias("grp"),
    )
    islands = marked.groupBy("event_type", "up", "grp").agg(
        F.count("*").alias("len")
    )
    up_len = F.when(F.col("up") == 1, F.col("len")).otherwise(0)
    return islands.groupBy("event_type").agg(
        F.max(up_len).cast("bigint").alias("longest_up"),
        F.max(
            F.when(F.col("up") == 0, F.col("len")).otherwise(0)
        )
        .cast("bigint")
        .alias("longest_down"),
        F.sum(up_len).cast("bigint").alias("n_up_days"),
        F.sum(
            F.when(
                (F.col("up") == 1) & (F.col("len") >= 3), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_up_streaks_ge3"),
    )
