"""Self-test of the benchmark at sf0.001 (about a minute).

    python3 perfbench/selftest.py

Checks that every query named in workloads.json is registered, that the
workloads are disjoint, and, from one traced run over a few queries of
each workload, that each query's build, plan and exec spans add up to
within 10% of its wall time and that ``g6_kcore_peel`` runs Spark jobs
while it is built. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import adhoc_pool, frozen  # noqa: E402

#: traced queries: the eager graph query plus a few of each workload
TRACED = ["g6_kcore_peel", "l21_ivf_topk", "io4_bucketed_join", "io8_snapshot_diff"]


def check(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    spec = frozen()
    pool = adhoc_pool(spec)
    pools = spec["pools"]
    names = pool + pools["iterative"]["queries"] + pools["ingest"]["queries"]
    check(len(names) == len(set(names)), "the pools are disjoint and name each query once")
    check(len(pools["iterative"]["queries"]) == 20 and len(pool) == 290, "pool sizes are 290 / 20 / 23")
    check(not set(spec["adhoc"]["queries"]) & set(spec["pipeline"]["queries"]), "the workloads are disjoint")
    check(set(spec["adhoc"]["queries"]) <= set(pool), "adhoc runs only adhoc-pool queries")
    check(
        set(spec["pipeline"]["queries"]) <= set(names) - set(pool),
        "pipeline runs only iterative and ingest queries",
    )

    run.SF = 0.001
    args = argparse.Namespace(workload="pipeline", seed=0, seconds=0.0, trace=1)
    with run.bench_run(args) as bench:
        missing = sorted(set(names) - set(bench.queries))
        check(not missing, f"every named query is registered {missing or ''}")
        traced = TRACED + spec["adhoc"]["queries"][:4]
        for name in traced:
            bench.run_query(name)
        check(bench.failed == 0, f"{len(traced)} traced queries ran and passed their checks")
        for name in traced:
            rec = bench.per_query[name][0]
            parts = rec["build_s"] + rec["plan_s"] + rec["exec_s"]
            check(
                abs(parts - rec["wall_s"]) <= 0.1 * rec["wall_s"],
                f"{name}: build + plan + exec = {parts:.3f} s of {rec['wall_s']:.3f} s wall",
            )
        g6 = bench.per_query["g6_kcore_peel"][0]
        check(g6["build_jobs"] > 0, f"g6_kcore_peel runs {g6['build_jobs']:.0f} jobs while built")
        layers = bench.per_layer()
        check(layers["operators.build_jobs"] > 0, "operator wrappers count eager jobs")
        check(layers["datasets.load_table_calls"] > 0, "datasets wrappers count load_table calls")
        check(layers["sources.write_calls"] > 0, "writer wrappers count io writes")
        check(layers["plans.exchanges"] > 0, "SQL status store reports exchanges")
    return 0


if __name__ == "__main__":
    sys.exit(main())
