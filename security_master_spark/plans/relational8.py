"""Round-7 SQL-surface batch 2 (SURVEY.md §2.9): the NOT IN vs NOT
EXISTS null trap — three-valued-logic semantics certified side by
side on a NULL-bearing subquery.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table, load_tables
from security_master_spark.functions.rounding import sql_dround
from security_master_spark.plans.registry import register


@register(
    "q29_not_in_null_trap",
    oracle="""
    WITH probe AS (
        SELECT CASE WHEN c_acctbal < 0 THEN NULL
                    ELSE c_nationkey END AS k
        FROM customer
    )
    SELECT
        CAST((SELECT COUNT(*) FROM nation
              WHERE n_nationkey NOT IN (SELECT k FROM probe))
             AS BIGINT) AS n_not_in,
        CAST((SELECT COUNT(*) FROM nation n
              WHERE NOT EXISTS (SELECT 1 FROM probe p
                                WHERE p.k = n.n_nationkey))
             AS BIGINT) AS n_not_exists,
        CAST((SELECT COUNT(*) FROM probe WHERE k IS NULL) AS BIGINT)
            AS n_null_probes,
        (SELECT COUNT(*) FROM probe WHERE k IS NULL) > 0
        AND (SELECT COUNT(*) FROM nation
             WHERE n_nationkey NOT IN (SELECT k FROM probe)) = 0
            AS trap_fired
    """,
)
def q29_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, certified: against a probe set that
    CONTAINS NULLs, `x NOT IN (subquery)` can never be TRUE (x <>
    NULL is UNKNOWN, and NOT IN requires ALL comparisons TRUE), so
    the NOT IN count collapses to 0 while NOT EXISTS — which tests
    row existence, not three-valued equality — returns the real
    anti-join count. Both counts, the NULL-probe count, and a
    `trap_fired` flag land in one row: the single most common SQL
    correctness bug, pinned as engine semantics on BOTH engines
    through the SQL front door (q7 is the anti-join spelling;
    q28 the row-value IN; this is the 3VL edge between them).

    Plan note: Catalyst compiles NOT IN over a nullable subquery to a
    null-aware anti join (the expensive-but-correct form) and NOT
    EXISTS to a plain LEFT ANTI hash join — the cost difference IS
    the semantics difference, visible in .explain()."""
    load_tables(spark, sf_dir)
    return spark.sql("""
    WITH probe AS (
        SELECT CASE WHEN c_acctbal < 0 THEN NULL
                    ELSE c_nationkey END AS k
        FROM customer
    )
    SELECT
        CAST((SELECT COUNT(*) FROM nation
              WHERE n_nationkey NOT IN (SELECT k FROM probe))
             AS BIGINT) AS n_not_in,
        CAST((SELECT COUNT(*) FROM nation n
              WHERE NOT EXISTS (SELECT 1 FROM probe p
                                WHERE p.k = n.n_nationkey))
             AS BIGINT) AS n_not_exists,
        CAST((SELECT COUNT(*) FROM probe WHERE k IS NULL) AS BIGINT)
            AS n_null_probes,
        (SELECT COUNT(*) FROM probe WHERE k IS NULL) > 0
        AND (SELECT COUNT(*) FROM nation
             WHERE n_nationkey NOT IN (SELECT k FROM probe)) = 0
            AS trap_fired
    """)
