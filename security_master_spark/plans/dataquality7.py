"""Round-7 data-quality batch 3 (SURVEY.md §2.11 dq): event-sequence
audit — are event ids monotone in event time per stream? The
ordering contract every incremental consumer silently assumes.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "dq16_sequence_audit",
    oracle=f"""
    WITH seq AS (
        SELECT event_type, event_id, ts,
               LAG(event_id) OVER w AS prev_id,
               LAG(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), marked AS (
        SELECT event_type,
               CASE WHEN event_id < prev_id THEN 1 ELSE 0 END AS inv,
               CASE WHEN event_id < prev_id
                    THEN epoch_us(ts) - epoch_us(prev_ts) END AS invgap,
               CASE WHEN prev_id IS NOT NULL THEN 1 ELSE 0 END AS cmp
        FROM seq
    )
    SELECT event_type,
           CAST(SUM(cmp) AS BIGINT) AS n_compared,
           CAST(SUM(inv) AS BIGINT) AS n_inversions,
           {sql_dround(
               "SUM(inv) / CAST(NULLIF(SUM(cmp), 0) AS DOUBLE)", 6
           )} AS inversion_rate,
           CAST(MIN(invgap) AS BIGINT) AS min_inversion_gap_us,
           SUM(inv) = 0 AS is_monotone
    FROM marked
    GROUP BY event_type
    """,
)
def dq16_sequence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence audit: order each stream by event time and
    count ADJACENT id inversions — places where a later-timestamped
    event carries a SMALLER id than its predecessor, the signature of
    out-of-order ingestion, clock skew between producers, or id-block
    reallocation. Every incremental consumer that checkpoints on
    "max id seen" silently assumes this rate is zero; this query
    measures it per stream (with the time-gap of the tightest
    inversion, which says whether a small reorder buffer would heal
    it).

    Shape: one lag window per stream (the per-series sort) into one
    map-side-combined groupBy — the same single-pass cost as d18's
    gap screen; adjacent-only inversions make it O(n), not the O(n²)
    full inversion count (Kendall-tau's sibling), which is the right
    screen semantics: a consumer replays in time order, so only
    neighbor disorder matters."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        "event_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_id"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    inv = F.when(F.col("event_id") < F.col("prev_id"), 1).otherwise(0)
    invgap = F.when(
        F.col("event_id") < F.col("prev_id"),
        F.unix_micros("ts") - F.unix_micros("prev_ts"),
    )
    cmp_ = F.when(F.col("prev_id").isNotNull(), 1).otherwise(0)
    return seq.groupBy("event_type").agg(
        F.sum(cmp_).cast("bigint").alias("n_compared"),
        F.sum(inv).cast("bigint").alias("n_inversions"),
        dround(
            F.try_divide(
                F.sum(inv),
                F.nullif(F.sum(cmp_), F.lit(0)).cast("double"),
            ),
            6,
        ).alias("inversion_rate"),
        F.min(invgap).cast("bigint").alias("min_inversion_gap_us"),
        (F.sum(inv) == 0).alias("is_monotone"),
    )
