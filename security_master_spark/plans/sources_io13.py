"""Round-7 IO batch 3 (SURVEY.md §2.1): TSV with custom markers —
tab separator, custom NULL sentinel, and a custom escape character
surviving a write→read roundtrip; the "other CSV dialect" every
real-world ingest eventually meets.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


# io_scratch is register-free, so this import cannot perturb
# registration order; it also honors the configurable scratch
# root (spark.sms.scratch.root / SPARK_GRAFT_SCRATCH_ROOT) —
# a hardcoded /tmp copy silently escaped that config point.
from security_master_spark.plans.io_scratch import _scratch


#: the custom NULL sentinel the dialect writes for missing values.
_NULL_MARK = "\\N"


@register(
    "io22_tsv_dialect_roundtrip",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nulled,
           {sql_dround(
               "SUM(CASE WHEN c_acctbal >= 0 THEN c_acctbal END)", 4
           )} AS sum_bal,
           CAST(SUM(length(c_name) -
                    length(replace(c_name, '\t', ''))) AS BIGINT)
               AS n_tabs_in_names
    FROM (
        SELECT c_mktsegment, c_acctbal,
               c_name || chr(9) || 'x' AS c_name
        FROM customer
    )
    GROUP BY c_mktsegment
    """,
)
def io22_tsv_dialect_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TSV dialect roundtrip: write customers with (1) a TAB
    separator, (2) an embedded TAB planted inside every name (so the
    quoting layer must fire on the separator itself), and (3) a
    custom NULL sentinel ``\\N`` standing in for negative balances —
    then read it back declaring the same dialect and aggregate. The
    oracle applies the same null-out rule to the original table and
    never touches the file, so separator quoting, sentinel encode/
    decode, and double round-tripping are all hash-certified.

    The ``\\N`` sentinel is the classic MySQL-dump convention — the
    single most common "why are my NULLs the string backslash-N"
    ingest bug; this query pins the engine handles it symmetrically.
    Shape: plain splittable single-line records (unlike io20's
    multiLine), so the read parallelizes per file split as usual."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.concat(F.col("c_name"), F.lit("\tx")).alias("c_name"),
        F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")).alias(
            "c_acctbal"
        ),
    )
    path = _scratch(sf_dir, "tsv_dialect")
    (
        cust.write.mode("overwrite")
        .option("header", "true")
        .option("sep", "\t")
        .option("nullValue", _NULL_MARK)
        .csv(path)
    )
    back = (
        spark.read.schema(
            "c_mktsegment string, c_name string, c_acctbal double"
        )
        .option("header", "true")
        .option("sep", "\t")
        .option("nullValue", _NULL_MARK)
        .csv(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_nulled"),
        dround(F.sum("c_acctbal"), 4).alias("sum_bal"),
        F.sum(
            F.length("c_name")
            - F.length(F.regexp_replace("c_name", "\t", ""))
        )
        .cast("bigint")
        .alias("n_tabs_in_names"),
    )
