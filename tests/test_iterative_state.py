"""Iterative operators: exact round semantics and per-round job budgets.

``g6_kcore_peel`` carries only the kept-node set from one peel round to
the next, and ``connected_components`` takes its convergence sum from
the round's checkpoint job. These tests pin the exact 4-round peel on a
graph that is still peeling in round 4 (the sf fixtures converge after
one or two rounds), and count the Spark jobs both operators run, so a
reintroduced per-round ``collect`` or edge-list checkpoint fails here.
"""

from __future__ import annotations

import os
import uuid
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from security_master_spark.datasets import TABLES, load_table
from security_master_spark.operators.clustering import connected_components
from security_master_spark.plans.graph3 import _CORE_K, _PEEL_ROUNDS
from security_master_spark.plans.registry import oracle_sql, queries
from tests.oracle import compare
from tests.test_round7_fixes import g6_edges, peel_once

_G6 = "g6_kcore_peel"


def _jobs_run_by(spark, fn):
    """(result of ``fn()``, number of Spark jobs it ran). Caches other
    queries left in the session are dropped first: one holding the same
    subplan (g1_pagerank persists g6's trade pairs) would serve it and
    skip jobs."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ------------------------------------------------ planted peel cascade

#: customer and supplier ids of the K(8,8) core that never peels.
_CORE = range(1, _CORE_K + 1)


def _cascade_pairs() -> list[tuple[int, int]]:
    """(custkey, suppkey) trade pairs of a graph whose peel cascades.

    A K(8,8) core plus a chain x0 - x1 - x2 - x3 - x4 hung off it:
    x0 (customer 101) has degree 7 and six degree-1 suppliers, so they
    peel in round 1. x1 (supplier 201), x2 (customer 102) and x3
    (supplier 202) each have degree exactly k = 8 — their two chain
    neighbours plus six core nodes — so each drops to 7 and peels one
    round after its predecessor: rounds 2, 3 and 4. x4 (customer 103:
    x3 plus seven core suppliers) survives all four rounds and ends
    with in-core degree 7, which a fifth round would peel — so the
    result differs for 3, 4 and 5 rounds.
    """
    assert _CORE_K == 8 and _PEEL_ROUNDS == 4, "fixture is planted for k=8, 4 rounds"
    pairs = [(c, s) for c in _CORE for s in _CORE]
    pairs += [(101, 201)] + [(101, 300 + i) for i in range(1, 7)]
    pairs += [(c, 201) for c in range(1, 7)]
    pairs += [(102, 201), (102, 202)] + [(102, s) for s in range(1, 7)]
    pairs += [(c, 202) for c in range(1, 7)]
    pairs += [(103, 202)] + [(103, s) for s in range(1, 8)]
    return pairs


def _write_cascade_fixture(tmp_path, sf_dir) -> str:
    """lineitem/orders holding the cascade graph (one order per pair,
    one pair duplicated across two orders to exercise the distinct);
    every other table is the sf fixture's, for the oracle's views."""
    pairs = _cascade_pairs()
    pairs.append(pairs[0])
    keys = list(range(1, len(pairs) + 1))
    d = tmp_path / "cascade_sf"
    d.mkdir()
    pq.write_table(
        pa.table({"o_orderkey": pa.array(keys, pa.int64()),
                  "o_custkey": pa.array([c for c, _ in pairs], pa.int64())}),
        str(d / "orders.parquet"),
    )
    pq.write_table(
        pa.table({"l_orderkey": pa.array(keys, pa.int64()),
                  "l_suppkey": pa.array([s for _, s in pairs], pa.int64())}),
        str(d / "lineitem.parquet"),
    )
    for t in TABLES:
        if t not in ("orders", "lineitem"):
            os.symlink(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def _edge_set_peel(spark, sf_dir):
    """g6 spelled as the edge-set loop: peel the directed edge list
    _PEEL_ROUNDS times, then report the survivors' degrees per side."""
    edges = g6_edges(spark, sf_dir)
    for _ in range(_PEEL_ROUNDS):
        edges = peel_once(edges)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    return deg.groupBy((F.col("src") % 2).cast("bigint").alias("side")).agg(
        F.count("*").cast("bigint").alias("n_core_nodes"),
        F.sum("d").cast("bigint").alias("core_degree_sum"),
        F.min("d").cast("bigint").alias("min_core_degree"),
    )


def test_g6_peel_cascade_matches_oracle_and_edge_set_loop(spark, sf_dir, tmp_path):
    d = _write_cascade_fixture(tmp_path, sf_dir)
    got = {tuple(r) for r in queries()[_G6](spark, d).collect()}
    # side 0: the 8 core customers (degree 8) and x4 (degree 7);
    # side 1: suppliers 1-7 (8 core customers + x4) and supplier 8.
    assert got == {(0, 9, 8 * 8 + 7, 7), (1, 8, 7 * 9 + 8, 8)}
    assert got == {tuple(r) for r in _edge_set_peel(spark, d).collect()}
    compare(spark, queries()[_G6], oracle_sql()[_G6], d)


# ------------------------------------------------------- job budgets


def test_connected_components_job_count(spark):
    """The 9-node chain converges in 4 pointer-jumping rounds. A
    separate Σlabel action would add two jobs (shuffle and result) to
    every round; observed on the checkpoint job it adds none."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], ["src", "dst"]
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out, jobs = _jobs_run_by(spark, lambda: connected_components(edges))
    assert {r.component for r in out.collect()} == {1}
    assert jobs == 26


def test_g6_build_job_count(spark, sf_dir):
    """Jobs g6 runs while its plan is built: the pairs checkpoint, then
    one keep-set checkpoint per round until a round peels nothing (round
    2 at sf0.001); no per-round edge list, no separate convergence
    action."""
    for t in ("lineitem", "orders"):
        load_table(spark, sf_dir, t)  # schema inference outside the count
    _, jobs = _jobs_run_by(spark, lambda: queries()[_G6](spark, sf_dir))
    assert jobs == 8
