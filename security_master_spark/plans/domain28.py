"""Round-7 securities-domain batch 10 (SURVEY.md §2.11):
cross-sectional momentum backtest — rank by trailing return, hold the
spread portfolio one day, score the strategy (d84's IC is the
regression scorecard; this is the portfolio spelling).

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

#: trailing formation window (days) and the number of names held on
#: each side of the spread.
_MOM_W = 5
_MOM_SIDE = 2


@register(
    "d90_cross_sectional_momentum",
    oracle=f"""
    WITH {_DAILY_SQL}, {_RETS_SQL}, sig AS (
        SELECT event_type, day, r,
               SUM(CASE WHEN 1 + r > 0 THEN LN(1 + r) END)
                   OVER (PARTITION BY event_type
                                    ORDER BY day
                                    ROWS BETWEEN {_MOM_W - 1} PRECEDING
                                    AND CURRENT ROW) AS mom,
               COUNT(*) OVER (PARTITION BY event_type
                              ORDER BY day
                              ROWS BETWEEN {_MOM_W - 1} PRECEDING
                              AND CURRENT ROW) AS cnt
        FROM rr
    ), fwd AS (
        SELECT event_type, day, mom,
               LEAD(r) OVER (PARTITION BY event_type ORDER BY day)
                   AS fr
        FROM sig WHERE cnt = {_MOM_W}
    ), xs_ranked AS (
        SELECT day, fr,
               RANK() OVER (PARTITION BY day
                            ORDER BY mom DESC, event_type) AS rk_top,
               RANK() OVER (PARTITION BY day
                            ORDER BY mom ASC, event_type) AS rk_bot,
               COUNT(*) OVER (PARTITION BY day) AS n_xs
        FROM fwd WHERE fr IS NOT NULL
    ), daily_ls AS (
        SELECT day,
               AVG(CASE WHEN rk_top <= {_MOM_SIDE} THEN fr END)
               - AVG(CASE WHEN rk_bot <= {_MOM_SIDE} THEN fr END)
                   AS ls
        FROM xs_ranked
        WHERE n_xs >= {2 * _MOM_SIDE + 1}
        GROUP BY day
    )
    SELECT CAST(COUNT(ls) AS BIGINT) AS n_days,
           {sql_dround("AVG(ls)", 8)} AS mean_ls,
           {sql_dround("STDDEV_SAMP(ls)", 8)} AS vol_ls,
           {sql_dround(
               "AVG(ls) / NULLIF(STDDEV_SAMP(ls)"
               " / SQRT(COUNT(ls)), 0)", 6)} AS t_stat,
           {sql_dround(
               "AVG(CASE WHEN ls > 0 THEN 1.0 ELSE 0.0 END)", 6
           )} AS hit_rate
    FROM daily_ls
    """,
)
def d90_cross_sectional_momentum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-sectional momentum backtest: form a trailing 5-day
    log-return signal per series, each day go long the top-2
    and short the bottom-2 names (_MOM_W/_MOM_SIDE), hold one day, and score
    the long-short stream (mean, vol, t-stat, hit rate) — the
    portfolio spelling of the factor question d84's IC answers by
    regression; together they are the standard factor report pair.

    Determinism: ranks tie-break on the series key (the d84 rule);
    days with a cross-section too thin to fill both sides drop via a
    windowed count — no dataset constant, no broadcast. Shape: the
    formation window, the forward-return lead, and both ranks all
    run over the collapsed daily frame (two sorts: per-series, then
    per-day); the long-short stream is O(days) rows into a 1-row
    summary."""
    rets = daily_returns(daily_closes(spark, sf_dir))
    wmom = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_MOM_W - 1), Window.currentRow)
    )
    sig = rets.select(
        "event_type",
        "day",
        "r",
        F.sum(F.log1p("r")).over(wmom).alias("mom"),
        F.count("*").over(wmom).alias("cnt"),
    ).filter(F.col("cnt") == _MOM_W)
    wlead = Window.partitionBy("event_type").orderBy("day")
    fwd = sig.select(
        "event_type",
        "day",
        "mom",
        F.lead("r").over(wlead).alias("fr"),
    ).filter(F.col("fr").isNotNull())
    wtop = Window.partitionBy("day").orderBy(
        F.col("mom").desc(), F.col("event_type")
    )
    wbot = Window.partitionBy("day").orderBy(
        F.col("mom").asc(), F.col("event_type")
    )
    wday = Window.partitionBy("day")
    ranked = fwd.select(
        "day",
        "fr",
        F.rank().over(wtop).alias("rk_top"),
        F.rank().over(wbot).alias("rk_bot"),
        F.count("*").over(wday).alias("n_xs"),
    ).filter(F.col("n_xs") >= 2 * _MOM_SIDE + 1)
    daily_ls = ranked.groupBy("day").agg(
        (
            F.avg(
                F.when(F.col("rk_top") <= _MOM_SIDE, F.col("fr"))
            )
            - F.avg(
                F.when(F.col("rk_bot") <= _MOM_SIDE, F.col("fr"))
            )
        ).alias("ls")
    )
    return daily_ls.agg(
        F.count("ls").cast("bigint").alias("n_days"),
        dround(F.avg("ls"), 8).alias("mean_ls"),
        dround(F.stddev_samp("ls"), 8).alias("vol_ls"),
        dround(
            F.try_divide(
                F.avg("ls"),
                F.nullif(
                    F.stddev_samp("ls") / F.sqrt(F.count("ls")),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("t_stat"),
        dround(
            F.avg(F.when(F.col("ls") > 0, 1.0).otherwise(0.0)), 6
        ).alias("hit_rate"),
    )
