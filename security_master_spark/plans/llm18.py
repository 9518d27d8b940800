"""Round-7 LLM-pipeline batch 3 (SURVEY.md §2.12): the dedup cluster
profile — the size distribution of duplicate groups, i.e. the
"what will dedup actually delete?" preview every curation run reads
before committing.

Driver-certified via the round-8 window (CORRECTNESS_r08.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from security_master_spark.datasets import load_table
from security_master_spark.functions.rounding import dround, sql_dround
from security_master_spark.plans.registry import register


@register(
    "l68_dedup_cluster_profile",
    oracle=f"""
    WITH fp AS (
        SELECT md5(text) AS f, COUNT(*) AS sz
        FROM documents GROUP BY md5(text)
    ), prof AS (
        SELECT sz, COUNT(*) AS n_clusters
        FROM fp GROUP BY sz
    ), tot AS (
        SELECT SUM(sz * n_clusters) AS n_docs,
               SUM(n_clusters) AS n_clusters_total,
               SUM(CASE WHEN sz = 1 THEN n_clusters ELSE 0 END)
                   AS n_singletons,
               SUM((sz - 1) * n_clusters) AS n_deletable,
               MAX(sz) AS max_cluster
        FROM prof
    )
    SELECT p.sz AS cluster_size,
           CAST(p.n_clusters AS BIGINT) AS n_clusters,
           CAST(p.sz * p.n_clusters AS BIGINT) AS n_docs_in_size,
           {sql_dround(
               "p.sz * p.n_clusters / CAST(t.n_docs AS DOUBLE)", 6
           )} AS doc_share,
           {sql_dround(
               "t.n_deletable / CAST(t.n_docs AS DOUBLE)", 6
           )} AS corpus_deletable_frac,
           CAST(t.max_cluster AS BIGINT) AS corpus_max_cluster
    FROM prof p, tot t
    """,
)
def l68_dedup_cluster_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup cluster profile: group documents by exact content
    fingerprint and publish the cluster-SIZE distribution — how many
    groups of each size, the share of the corpus they hold, and the
    corpus-wide deletable fraction (size − 1 per cluster) — the
    preview that says what l1/l42's dedup pass will actually remove
    and whether one mega-cluster (a boilerplate page replicated 10⁶×)
    dominates. Every row also carries the corpus max cluster size, so
    the pathological case is visible in any single row.

    Shape: text collapses to a 16-byte md5 AT the scan (the shuffle
    key discipline); two nested map-side-combined groupBys — the
    second over O(distinct sizes) rows — and a 1-row total broadcast.
    The profile frame is tiny at any corpus scale; nothing quadratic,
    nothing iterative (the near-dup sibling would profile l16's CC
    cluster ids identically)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("f")).agg(
        F.count("*").alias("sz")
    )
    prof = fp.groupBy("sz").agg(F.count("*").alias("n_clusters"))
    tot = prof.agg(
        F.sum(F.col("sz") * F.col("n_clusters")).alias("n_docs"),
        F.sum(
            (F.col("sz") - 1) * F.col("n_clusters")
        ).alias("n_deletable"),
        F.max("sz").alias("max_cluster"),
    )
    return prof.crossJoin(F.broadcast(tot)).select(
        F.col("sz").alias("cluster_size"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        (F.col("sz") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs_in_size"),
        dround(
            (F.col("sz") * F.col("n_clusters"))
            / F.col("n_docs").cast("double"),
            6,
        ).alias("doc_share"),
        dround(
            F.col("n_deletable") / F.col("n_docs").cast("double"), 6
        ).alias("corpus_deletable_frac"),
        F.col("max_cluster").cast("bigint").alias("corpus_max_cluster"),
    )
