"""Optimization-round probe: per-query explain capture + isolated
fresh-JVM timing (round-15 optimization phase).

Two jobs, one tool:

1. ``--explain DIR --suffix before`` writes ``DIR/<query>_<suffix>.txt``
   with the ``explain("formatted")`` output for every named query —
   the committed plan evidence the optimization judge checks claims
   against (plans/r15/<q>_before.txt / _after.txt).
2. Without ``--no-time``, times each named query with bench.py's own
   ``warm_up`` and ``min_timings`` (noop sink, inter-query System.gc
   and clearCache, N interleaved passes, report the minimum) in THIS
   process — run the tool once per measurement so every invocation is
   a fresh JVM.

Usage:
    python tools/opt_probe.py --explain plans/r15 --suffix before \
        --passes 3 g2_triangle_count d47_basket_lift
    python tools/opt_probe.py --no-time --explain plans/r15 \
        --suffix before g1_pagerank       # explain only, no jobs
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main(argv: list[str]) -> None:
    explain_dir: str | None = None
    suffix = "before"
    passes = 3
    do_time = True
    do_final = False
    names: list[str] = []
    confs: list[tuple[str, str]] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--explain":
            i += 1
            explain_dir = argv[i]
        elif a == "--suffix":
            i += 1
            suffix = argv[i]
        elif a == "--passes":
            i += 1
            passes = int(argv[i])
        elif a == "--conf":
            # A/B config experiments: key=value, applied to the probe
            # session AFTER the engine defaults (runtime-settable SQL
            # confs only — session-builder confs need a fresh JVM).
            i += 1
            k, _, v = argv[i].partition("=")
            confs.append((k, v))
        elif a == "--no-time":
            do_time = False
        elif a == "--final":
            do_final = True
        elif a.startswith("--"):
            sys.exit(f"unknown flag {a}")
        else:
            names.append(a)
        i += 1
    if not names:
        sys.exit("usage: opt_probe.py [--explain DIR] [--suffix S] "
                 "[--passes N] [--no-time] query ...")

    from bench import min_timings, warm_up
    from security_master_spark.plans import registry
    from security_master_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="sms-opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in confs:
        spark.conf.set(k, v)
    qs = registry.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        sys.exit(f"unknown queries: {missing}")

    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)
        for n in names:
            # Standalone-plan capture: an earlier query's persist()
            # would otherwise substitute an InMemoryRelation into this
            # query's explain (the audit_plans.py cache-substitution
            # hazard, same fix).
            spark.catalog.clearCache()
            df = qs[n](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(explain_dir, f"{n}_{suffix}.txt")
            with open(path, "w", encoding="utf-8") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}", file=sys.stderr)
            if do_final:
                # Execute once, then re-explain: with AQE the same
                # DataFrame now prints the FINAL adaptive plan
                # (isFinalPlan=true) — ReusedExchange / AQEShuffleRead /
                # runtime join strategy, i.e. what actually ran. Must
                # be an action on the Dataset's OWN QueryExecution
                # (collect), not a write: DataFrameWriter builds a
                # separate QueryExecution and the original plan never
                # finalizes. Only use --final on small-result queries.
                df.collect()
                buf2 = io.StringIO()
                with redirect_stdout(buf2):
                    df.explain("formatted")
                fpath = os.path.join(
                    explain_dir, f"{n}_{suffix}_final.txt"
                )
                with open(fpath, "w", encoding="utf-8") as f:
                    f.write(buf2.getvalue())
                print(f"wrote {fpath}", file=sys.stderr)

    if not do_time:
        return

    warm_up(spark, qs, sf_dir)
    # The explain phase above registers (lazy) cache entries while
    # constructing persist-carrying plans; start the timed passes from
    # an empty cache.
    spark.catalog.clearCache()
    timings = min_timings(spark, qs, names, sf_dir, passes)
    print(json.dumps({"sf": sf_dir, "passes": passes, "min": timings},
                     sort_keys=True))


if __name__ == "__main__":
    main(sys.argv[1:])
