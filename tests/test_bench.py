"""bench.py's timing loop, shared with tools/opt_probe.py: one positive
minimum per query, and no cached frame left behind for the next timed
query to read."""

from __future__ import annotations

import bench
from security_master_spark.plans import registry


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_min_timings_reports_minimums_and_clears_the_cache(spark, sf_dir):
    qs = registry.queries()
    # g1_pagerank persists its trade-pair frame (plans/graph.py), so a
    # loop without clearCache would leave it cached for the next pass.
    spark.catalog.clearCache()
    qs["g1_pagerank"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert not _cache_is_empty(spark)
    spark.catalog.clearCache()

    names = ["q1_pricing_summary", "g1_pagerank"]
    timings = bench.min_timings(spark, qs, names, sf_dir, passes=2)

    assert list(timings) == names
    assert all(t > 0 for t in timings.values())
    assert _cache_is_empty(spark)
