"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing = full query wall time (plan + execute + collect-count) per
query, after a warm-up action to amortize JVM/session startup out of
the per-query numbers.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from security_master_spark.session import get_spark
from security_master_spark.plans import registry


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # NB: SPARK_GRAFT_CACHE=1 (datasets.load_table) was measured SLOWER
    # here — the ~10 MB fixtures re-decode faster than the cached
    # columnar copy materializes and scans; the knob pays off only when
    # scan cost dominates (real table sizes), so it stays off for the
    # battery.
    spark = get_spark(app_name="sms-bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()
    warm_up(spark, qs, sf_dir)
    timings = min_timings(spark, qs, sorted(qs), sf_dir, passes=2)

    total = round(sum(timings.values()), 4)
    # Round-1 lesson: the full ~100-query timing map (~3 KB) defeated
    # the driver's stdout parse (BENCH_r01 recorded "parsed": null, tail
    # captured mid-JSON). The official line stays COMPACT (<1 KB: total
    # + top-10 slowest) and is printed LAST with an explicit flush; the
    # full per-query map goes to BENCH_DETAIL.json next to this script.
    # Only the default-SF (sf0.1) run owns that filename: twice now a
    # quick sf0.001 contract check silently clobbered the committed
    # sf0.1 record (restored in 2f48c5f and again in round 8) — other
    # SFs get an sf-suffixed file instead.
    sf = _sf_from_dir(sf_dir)
    detail_name = (
        "BENCH_DETAIL.json" if sf == 0.1 else f"BENCH_DETAIL_sf{sf}.json"
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "queries": timings,
            },
            f,
            indent=2,
            sort_keys=True,
        )
    spark.stop()
    top10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    line = json.dumps(
        {
            "metric": "total_query_wall_sec",
            "value": total,
            "unit": "sec",
            "queries": top10,
            "sf": sf,
            "n_queries": len(timings),
            "detail": detail_name,
        },
        separators=(",", ":"),
    )
    sys.stdout.flush()
    print(line, flush=True)



def warm_up(
    spark: SparkSession, qs: dict[str, registry.QueryFn], sf_dir: str
) -> None:
    """Amortize one-time startup out of the per-query numbers."""
    # Warm up: JVM + parquet footer reads, one tiny action.
    qs["q1_pricing_summary"](spark, sf_dir).count()
    # Warm up the Python-worker pool + Arrow serialization path too, so
    # the first pandas-UDF query isn't billed the one-time worker
    # spawn (reused afterwards; on a cluster this is per-executor
    # startup cost, not per-query).
    spark.range(0, 1000, numPartitions=32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()


def min_timings(
    spark: SparkSession,
    qs: dict[str, registry.QueryFn],
    names: list[str],
    sf_dir: str,
    passes: int,
) -> dict[str, float]:
    """Each named query's minimum wall time over ``passes`` passes."""
    # Report the MINIMUM: the host shows 2-4x wall-time swings from
    # contention invisible to the guest (round-1 finding), and a
    # single-sample battery hands that noise straight to the recorded
    # number. Passes are interleaved across the battery (A-B-C / A-B-C,
    # not A-A B-B) so one contention burst can't inflate both samples
    # of the same query.
    timings: dict[str, float] = {}
    for _pass in range(passes):
        for name in names:
            fn = qs[name]
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # noop sink, not count(): count() lets Catalyst PRUNE any
            # column the row count doesn't need — projection/window
            # queries were under-measured 2-12x (measured r4; the
            # worst: a rolling-window query whose WindowExec vanished
            # entirely). The noop sink materializes every output
            # column, which is what a consumer of the query pays.
            # Methodology changed in round 4 — cross-round comparisons
            # for projection-shaped queries must use rounds >= 4.
            df.write.mode("overwrite").format("noop").save()
            elapsed = round(time.perf_counter() - t0, 4)
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
            # Inter-query JVM GC, OUTSIDE the timed region (JMH-style):
            # ~100 codegen-heavy plans in one JVM accumulate generated
            # classes and broadcast remnants, and without this the GC
            # debt lands inside whichever later query triggers collection
            # — measured as 2-4x inflation of late-alphabet queries
            # relative to the same query run in a fresh session.
            spark.sparkContext._jvm.System.gc()
            # Drop every cached frame between timed queries (round-15
            # measurement fix, guide §1.4): plans that .persist() a
            # multi-consumer intermediate never get to unpersist it
            # (the frame outlives the query function), and Spark's
            # CacheManager substitutes cached plans by canonicalized
            # subtree — so without this, pass 2 of the SAME query and
            # any later query sharing the subtree (the daily-closes
            # panel feeds five d-queries) read pass 1's materialized
            # cache and the min-of-2 records a warm-cache number
            # instead of compute-from-parquet. Outside the timed
            # region on purpose: each query now pays its own
            # materialization inside its own wall time.
            spark.catalog.clearCache()
    return timings

if __name__ == "__main__":
    main()
