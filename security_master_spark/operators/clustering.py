"""Connected components over a similarity graph — the dedup-cluster
closure (near_dedup_minhash's one-pass pair-drop collapses chains
greedily; this is the exact fixed point).

Algorithm: iterative min-label propagation with POINTER JUMPING —
each round a node takes the min label among itself and its neighbors
(one equi-join + min-groupBy), then label ← label[label] (one
self-join), the path-halving step that makes convergence O(log
diameter) rounds instead of O(diameter). On overhead-dominated tiny
graphs and on real clusters alike, the round count — not per-round
volume — is the cost driver, so halving rounds beats shaving a round's
width.

Per-round state is the (node, label) table alone — O(nodes), never
the edge list, which is symmetrized and materialized once. Each round
materializes that table with ``localCheckpoint``, so the plan stays
O(1) deep (on a cluster use ``checkpoint`` with a checkpoint dir for
fault tolerance), and the same job computes the convergence test:
labels only ever decrease (every update is a MIN), so Σlabel strictly
decreases until the fixed point, and Σlabel is an ``observe`` metric
of the checkpoint job — no second job per round, no join-and-count
against the previous round. The fixed point is the same min-label state:
``component`` = minimum node id reachable, matching the recursive-CTE
oracle in plans/llm.py:l16_dedup_clusters.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) for every node in the undirected edge list;
    ``component`` is the minimum node id of the component."""
    # Materialize the symmetrized edge list ONCE. ``edges`` is usually
    # the tip of an expensive DAG (LSH candidates → exact-Jaccard
    # verify); without this every iteration's join re-derives it from
    # the source tables — measured as the dominant cost of the whole
    # closure, not the propagation itself.
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .localCheckpoint()
    )
    labels = None
    prev_sum = None
    for _ in range(max_iterations):
        if labels is None:
            # Round 1 reads no label table: every label starts as its
            # own node id, so a node's neighbour minimum is min(d).
            new_labels = sym.groupBy("s").agg(
                F.least(F.col("s"), F.min("d")).alias("label")
            ).select(F.col("s").alias("node"), "label")
        else:
            nbr_min = (
                sym.join(labels, sym.d == labels.node)
                .select(F.col("s").alias("node"), "label")
            )
            new_labels = (
                labels.select("node", "label")
                .union(nbr_min)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
        # Pointer jump: label ← min(label, label[label]). Every label is
        # itself a node id (min over node ids, by induction), so the
        # self-join is total.
        jumped = new_labels.join(
            new_labels.select(
                F.col("node").alias("__pn"), F.col("label").alias("__pl")
            ),
            F.col("label") == F.col("__pn"),
        ).select("node", F.least("label", "__pl").alias("label"))
        obs = Observation()
        labels = jumped.observe(obs, F.sum("label").alias("s")).localCheckpoint()
        label_sum = obs.get["s"]
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    else:
        # Loop exhausted max_iterations without hitting the Σlabel fixed
        # point — labels may span multiple rounds of un-propagated
        # merges; silent wrong components are worse than a loud signal.
        warnings.warn(
            f"connected_components: no convergence after {max_iterations} "
            "iterations — returned labels may split true components; "
            "raise max_iterations (rounds needed ≈ log2(graph diameter))",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", F.col("label").alias("component"))
