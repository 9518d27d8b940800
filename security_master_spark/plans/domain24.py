"""Round-7 securities-domain batch 6 (SURVEY.md §2.11): the volume
profile (volume-at-price histogram with the point of control) — the
market-profile chart behind support/resistance analytics.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register

#: price bins per series.
_VP_BINS = 20


@register(
    "d86_volume_profile",
    oracle=f"""
    WITH ext AS (
        SELECT event_type, value,
               MIN(value) OVER (PARTITION BY event_type) AS lo,
               MAX(value) OVER (PARTITION BY event_type) AS hi
        FROM events
    ), binned AS (
        SELECT event_type, lo, hi,
               CASE WHEN hi = lo THEN 0
                    ELSE LEAST({_VP_BINS - 1}, CAST(FLOOR(
                        (value - lo) * {_VP_BINS} / (hi - lo))
                        AS INT))
               END AS bin
        FROM ext
    ), prof AS (
        SELECT event_type, bin,
               MAX(lo) AS lo, MAX(hi) AS hi,
               COUNT(*) AS n,
               SUM(COUNT(*)) OVER (PARTITION BY event_type)
                   AS total,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY COUNT(*) DESC, bin ASC)
                   AS rnk
        FROM binned GROUP BY event_type, bin
    )
    SELECT event_type,
           CAST(bin AS BIGINT) AS bin,
           {sql_dround(
               f"lo + (bin + 0.5) * (hi - lo) / {_VP_BINS}", 6
           )} AS bin_mid,
           CAST(n AS BIGINT) AS n_prints,
           {sql_dround("n / CAST(total AS DOUBLE)", 6)} AS share,
           rnk = 1 AS is_poc
    FROM prof
    """,
)
def d86_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume profile: bucket each series' prints into 20 equal-width
    price bins over the series' own range, report per-bin counts and
    share, and flag the point of control (the most-traded price bin —
    deterministic tie-break to the lower bin) — the market-profile
    histogram behind support/resistance and value-area analytics
    (a15 is the generic histogram; this is the per-series-extent,
    POC-flagged domain form).

    Determinism: the bin edge arithmetic is (v − lo)·B/(hi − lo) with
    explicit FLOOR (DuckDB's CAST rounds where Spark's truncates —
    the l66 lesson applied), LEAST pins v = hi into the top bin, and
    a degenerate flat series (hi = lo) collapses to bin 0 on both
    engines. Shape: per-series extents as partition windows (one
    series-key shuffle), then one map-side-combined groupBy; the POC
    rank runs over the O(series × 20) profile frame, not the ticks."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    ext = events.select(
        "event_type",
        "value",
        F.min("value").over(w).alias("lo"),
        F.max("value").over(w).alias("hi"),
    )
    bin_col = (
        F.when(F.col("hi") == F.col("lo"), 0)
        .otherwise(
            F.least(
                F.lit(_VP_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    * _VP_BINS
                    / (F.col("hi") - F.col("lo"))
                ).cast("int"),
            )
        )
        .alias("bin")
    )
    prof = (
        ext.select("event_type", "lo", "hi", bin_col)
        .groupBy("event_type", "bin")
        .agg(
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.count("*").alias("n"),
        )
    )
    wtot = Window.partitionBy("event_type")
    wrnk = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("bin").asc()
    )
    return prof.select(
        "event_type",
        F.col("bin").cast("bigint").alias("bin"),
        dround(
            F.col("lo")
            + (F.col("bin") + 0.5)
            * (F.col("hi") - F.col("lo"))
            / _VP_BINS,
            6,
        ).alias("bin_mid"),
        F.col("n").cast("bigint").alias("n_prints"),
        dround(
            F.col("n") / F.sum("n").over(wtot).cast("double"), 6
        ).alias("share"),
        (F.row_number().over(wrnk) == 1).alias("is_poc"),
    )
