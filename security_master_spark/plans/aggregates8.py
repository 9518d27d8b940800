"""Round-7 aggregate batch (SURVEY.md §2.4): distribution shape
(skewness/kurtosis from explicit central moments — the cross-engine-
deterministic spelling) and exact distinct counting via bitmap words
(the Roaring-style distributed-distinct technique).

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "a29_moment_shape_stats",
    oracle=f"""
    WITH mu AS (
        SELECT event_type, value,
               AVG(value) OVER (PARTITION BY event_type) AS m
        FROM events
    ), cm AS (
        SELECT event_type,
               COUNT(*) AS n,
               SUM((value - m) * (value - m)) / COUNT(*) AS m2,
               SUM((value - m) * (value - m) * (value - m))
                   / COUNT(*) AS m3,
               SUM((value - m) * (value - m) * (value - m) * (value - m))
                   / COUNT(*) AS m4
        FROM mu GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           {sql_dround("SQRT(m2)", 6)} AS pop_std,
           {sql_dround("m3 / NULLIF(m2 * SQRT(m2), 0)", 6)} AS skewness,
           {sql_dround("m4 / NULLIF(m2 * m2, 0) - 3", 6)}
               AS excess_kurtosis
    FROM cm
    """,
)
def a29_moment_shape_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per series from
    EXPLICIT central moments — not the built-in `skewness`/`kurtosis`
    aggregates, whose bias conventions differ across engines (Spark's
    are population g1/g2; DuckDB's are sample-adjusted G1/G2, so the
    built-ins can never hash-match). Spelling every moment as
    Σ(x−μ)ᵏ/n with k via repeated MULTIPLICATION (never POW — Math.pow
    and std::pow may differ in the last ulp) and x^1.5 as m2·√m2
    keeps every step IEEE-exactly defined on both engines.

    Shape: two passes sharing one series-key shuffle — the mean as a
    partition window, then one map-side-combined groupBy collecting
    the three power sums. At 100 TB this is the textbook two-pass
    moment computation: numerically stable (centered before powering,
    no catastrophic raw-moment cancellation) and shuffle-bounded by
    O(series) rows."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    mu = events.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("m"),
    )
    d = F.col("value") - F.col("m")
    cm = mu.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum(d * d) / F.count("*")).alias("m2"),
        (F.sum(d * d * d) / F.count("*")).alias("m3"),
        (F.sum(d * d * d * d) / F.count("*")).alias("m4"),
    )
    m2 = F.col("m2")
    return cm.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        dround(F.sqrt(m2), 6).alias("pop_std"),
        dround(
            F.try_divide(
                F.col("m3"), F.nullif(m2 * F.sqrt(m2), F.lit(0.0))
            ),
            6,
        ).alias("skewness"),
        dround(
            F.try_divide(F.col("m4"), F.nullif(m2 * m2, F.lit(0.0)))
            - 3,
            6,
        ).alias("excess_kurtosis"),
    )


@register(
    "a30_bitmap_distinct",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
           {sql_dround(
               "CAST(COUNT(DISTINCT user_id) AS DOUBLE) / COUNT(*)", 6
           )} AS distinct_ratio
    FROM events
    GROUP BY event_type
    """,
)
def a30_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-user counts via bitmap words — the
    Roaring-bitmap-style distributed distinct: each user_id sets one
    bit in a 64-bit word keyed by user_id div 64; `bit_or` merges the
    words associatively, and popcount (`bit_count`) sums recover the
    exact cardinality. The DuckDB oracle recomputes with a plain
    COUNT(DISTINCT), so the hash certifies the whole bitmap algebra.

    Why this beats COUNT(DISTINCT) at 100 TB: distinct shuffles every
    (group, user) pair once — O(rows) network; the bitmap collapses
    map-side to at most one word per (group, user-range-of-64) per
    partition, is mergeable without re-sorting (bit_or is commutative
    and idempotent — double-counting is structurally impossible), and
    the partial state is dense integers, not hash sets. Same algebra
    Druid/ClickHouse/Pinot use for exact distinct at scale; a24's HLL
    is the sketch sibling, this is the exact one."""
    events = load_table(spark, sf_dir, "events")
    word = F.floor(F.col("user_id") / 64).alias("word")
    # SQL text: the DataFrame F.shiftleft only takes a literal shift
    # amount; the JVM expression itself is column-capable.
    frag = F.expr("SHIFTLEFT(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))")
    words = (
        events.select("event_type", word, frag.alias("frag"))
        .groupBy("event_type", "word")
        .agg(
            F.bit_or("frag").alias("bits"),
        )
    )
    counts = events.groupBy("event_type").agg(
        F.count("*").alias("n_events")
    )
    pops = words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_distinct_users")
    )
    return counts.join(pops, "event_type").select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_distinct_users").cast("bigint").alias(
            "n_distinct_users"
        ),
        dround(
            F.col("n_distinct_users").cast("double")
            / F.col("n_events"),
            6,
        ).alias("distinct_ratio"),
    )
