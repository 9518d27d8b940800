"""Round-7 graph batch (SURVEY.md §2.11 graph): k-core peeling over
the customer–supplier trade graph — the degeneracy decomposition that
finds the dense trading core (and whose peel order bounds g2's
triangle orientation).

Driver-certified via the round-8 window (registry.ROUND8_HEAD).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


from security_master_spark.datasets import load_table
from security_master_spark.plans.registry import register



#: core threshold (minimum degree inside the surviving subgraph).
_CORE_K = 8
#: peel rounds — the oracle unrolls EXACTLY this many, so the checked
#: semantic is the N-round peel (a fixpoint test asserts the peel has
#: converged at the oracle SFs, making this the true k-core there).
_PEEL_ROUNDS = 4

#: one SQL peel round: degrees of the surviving edge set, keep nodes
#: with degree >= k, keep edges with BOTH endpoints kept.
_ROUND_SQL = """
    deg{i} AS (
        SELECT src, COUNT(*) AS d FROM edges{j} GROUP BY src
    ), keep{i} AS (
        SELECT src FROM deg{i} WHERE d >= {k}
    ), edges{i} AS (
        SELECT e.src, e.dst FROM edges{j} e
        JOIN keep{i} ks ON ks.src = e.src
        JOIN keep{i} kd ON kd.src = e.dst
    )"""


def _peel_sql() -> str:
    return ", ".join(
        _ROUND_SQL.format(i=i, j=i - 1 if i > 1 else "", k=_CORE_K)
        for i in range(1, _PEEL_ROUNDS + 1)
    )


@register(
    "g6_kcore_peel",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), edges AS (
        SELECT cust * 2 AS src, supp * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT supp * 2 + 1 AS src, cust * 2 AS dst FROM pairs
    ), {_peel_sql()}
    SELECT CAST(src % 2 AS BIGINT) AS side,
           CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
           CAST(SUM(d) AS BIGINT) AS core_degree_sum,
           CAST(MIN(d) AS BIGINT) AS min_core_degree
    FROM (
        SELECT src, COUNT(*) AS d
        FROM edges{_PEEL_ROUNDS} GROUP BY src
    )
    GROUP BY 1
    """,
)
def g6_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (degeneracy decomposition): repeatedly delete
    nodes of degree < k from the undirected customer–supplier trade
    graph until every survivor has ≥ k neighbors INSIDE the core —
    the densest-community primitive behind cohesion analysis and the
    degeneracy bound that justifies g2's degree orientation. Reports
    the surviving core per side (customers / suppliers): node count,
    degree sum, and the minimum core degree (which must be ≥ k once
    converged — pinned by an invariant test at the oracle SFs).

    Semantics under check: EXACTLY {_PEEL_ROUNDS} peel rounds, the
    same unrolled rounds the oracle runs, so the hash certifies every
    intermediate degree computation; a fixpoint test asserts a 5th
    round changes nothing at sf0.001/0.01, where the bounded peel IS
    the true k-core.

    Shape: the loop carries only the kept-NODE set, never an edge
    list. Peeling is monotone — a node with degree ≥ k in round i's
    edge set has an edge there, so it was kept in round i−1 — hence
    keep_i ⊆ keep_{i−1} and, by induction, the oracle's edges_i is
    exactly the distinct pairs with BOTH ends in keep_i. Each round
    is therefore two broadcast semi-joins of the pairs against the
    previous keep set, one explode → groupBy degree count, and a
    ≤ #nodes materialization, whose job also observes the round's
    minimum degree: once that is ≥ k nothing was peeled, the edge set
    is a fixpoint, and the remaining rounds (which would repeat it)
    are skipped."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # Loop-invariant base: the distinct (customer, supplier) pairs,
    # materialized once so no round re-derives lineitem ⋈ orders.
    # Customer ids are even and supplier ids odd, so one node column
    # (and one keep set) covers both sides. localCheckpoint keeps
    # row-count stats (a persisted InMemoryRelation lost them and every
    # join fell back to sort-merge) but is non-replicated executor
    # storage: a run on unreliable nodes swaps in reliable checkpoint.
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
        .localCheckpoint()
    )

    def degrees(keep):
        live = pairs
        if keep is not None:
            live = live.join(
                F.broadcast(keep.select(F.col("node").alias("c"))),
                "c",
                "left_semi",
            ).join(
                F.broadcast(keep.select(F.col("node").alias("s"))),
                "s",
                "left_semi",
            )
        return (
            live.select(F.explode(F.array("c", "s")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )

    keep = None
    for _ in range(_PEEL_ROUNDS):
        # The checkpoint also cuts the lineage, so round N never
        # re-runs rounds 1..N−1. At the fixpoint the kept degrees ARE
        # the core's.
        obs = Observation()
        keep = (
            degrees(keep)
            .observe(obs, F.min("d").alias("min_d"))
            .filter(F.col("d") >= _CORE_K)
            .localCheckpoint()
        )
        min_d = obs.get["min_d"]
        if min_d is None or min_d >= _CORE_K:
            core_deg = keep
            break
    else:
        core_deg = degrees(keep)
    return core_deg.groupBy(
        (F.col("node") % 2).cast("bigint").alias("side")
    ).agg(
        F.count("*").cast("bigint").alias("n_core_nodes"),
        F.sum("d").cast("bigint").alias("core_degree_sum"),
        F.min("d").cast("bigint").alias("min_core_degree"),
    )
