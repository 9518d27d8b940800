"""Query lists of the benchmark workloads, frozen in ``workloads.json``.

Each workload runs a fixed set of queries in a fixed order, so every run
measures the same work; ``--seed`` sets only the fixtures and the feed.
The sets were drawn once from the pools in the same file (the rule is
stored beside each set), so changes to the program cannot change their
membership.
"""

from __future__ import annotations

import json
import os

_FROZEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")
WORKLOADS = ("adhoc", "pipeline")


def frozen() -> dict:
    with open(_FROZEN) as f:
        return json.load(f)


def adhoc_pool(spec: dict) -> list[str]:
    return [n for fam in spec["pools"]["adhoc"]["families"].values() for n in fam]


def queries_for(workload: str, spec: dict | None = None) -> list[str]:
    """One pass of ``workload``: its frozen queries in their frozen order.
    The order is fixed because the first queries of a fresh process pay
    the JVM's warm-up; a seeded order moved that cost between queries."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    return list((spec or frozen())[workload]["queries"])
