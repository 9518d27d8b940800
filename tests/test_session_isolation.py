"""Queries must leave the caller's session as they found it.

A query runs in a session its caller owns (an application's, a user's,
a shared platform's), so a query that needs a non-default write mode
sets it on that one write, never through a session conf.
"""

from __future__ import annotations

from pyspark.sql.conf import RuntimeConfig

from security_master_spark.plans.registry import oracle_sql, queries
from tests.oracle import compare

_IO18 = "io18_dynamic_partition_overwrite"
_MODE = "spark.sql.sources.partitionOverwriteMode"


def test_io18_leaves_overwrite_mode_conf_unchanged(spark, sf_dir, monkeypatch):
    """The session conf is never set, not even for the duration of the
    write (a concurrent writer would see it), and the result stays
    oracle-equal."""
    before = spark.conf.get(_MODE)
    set_keys = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        set_keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    compare(spark, queries()[_IO18], oracle_sql()[_IO18], sf_dir)
    assert _MODE not in set_keys
    assert spark.conf.get(_MODE) == before
