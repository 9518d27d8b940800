"""Round-7 UDF batch 2 (SURVEY.md §2.13): a pandas UDAF used as a
WINDOW function over a bounded rolling frame — the custom-rolling-
statistic surface (u3 covers grouped-agg; this is the same UDAF
family evaluated per sliding frame).

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.functions.daily import (
    DAILY_SQL as _DAILY_SQL,
)
from security_master_spark.functions.daily import daily_closes
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: rolling frame width (rows) for the trimmed mean.
_TRIM_W = 5


def _trimmed_mean_fn(v: pd.Series) -> float:
    """Mean after dropping ONE min and ONE max — the robust rolling
    location estimate no built-in frame aggregate expresses directly.
    Arrow hands the frame as a pandas Series; sum/min/max are
    vectorized C under the hood."""
    if len(v) < 3:
        return None
    return float((v.sum() - v.min() - v.max()) / (len(v) - 2))


def _trimmed_mean():
    # Wrapped lazily: @F.pandas_udf parses its DDL return type at
    # decoration time, which requires an ACTIVE SparkSession — a
    # module-level decorator would crash the registry import in any
    # process that imports plans before building a session.
    return F.pandas_udf(_trimmed_mean_fn, "double")


@register(
    "u15_pandas_udaf_window",
    oracle=f"""
    WITH {_DAILY_SQL}, framed AS (
        SELECT event_type, day, close,
               SUM(close) OVER w AS s,
               MIN(close) OVER w AS lo,
               MAX(close) OVER w AS hi,
               COUNT(*) OVER w AS cnt
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {_TRIM_W - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT event_type, day,
           {sql_dround("(s - lo - hi) / (cnt - 2)", 6)}
               AS trimmed_mean
    FROM framed WHERE cnt = {_TRIM_W}
    """,
)
def u15_pandas_udaf_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pandas UDAF evaluated OVER a bounded rolling window
    (WindowInPandas): the trailing 5-day trimmed mean of each series'
    daily closes, with each frame shipped to Python as an Arrow batch
    — the surface for rolling statistics no built-in frame aggregate
    expresses (rolling Hodges-Lehmann, rolling MAD-of-residuals...).
    The trimmed mean is chosen BECAUSE it has an algebraic twin
    ((Σ − min − max)/(n − 2)), so the oracle certifies the frame
    contents and boundary handling exactly, full windows only.

    Cost honesty: WindowInPandas re-ships each frame (w× write
    amplification vs a JVM frame aggregate) — this surface is for
    statistics that NEED Python, and the repo's rule stands: if a
    built-in spelling exists (as here, deliberately), prefer it in
    production; this query is the certified seam, not the
    recommendation. One sort per series partition either way."""
    daily = daily_closes(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(_TRIM_W - 1), Window.currentRow)
    )
    wc = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        -(_TRIM_W - 1), Window.currentRow
    )
    return (
        daily.select(
            "event_type",
            "day",
            _trimmed_mean()("close").over(w).alias("tm"),
            F.count("*").over(wc).alias("cnt"),
        )
        .filter(F.col("cnt") == _TRIM_W)
        .select(
            "event_type",
            "day",
            dround(F.col("tm"), 6).alias("trimmed_mean"),
        )
    )
