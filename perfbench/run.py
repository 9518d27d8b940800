"""Benchmark of the security_master_spark engine.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each run is one fresh process: it
generates its fixtures (at sf0.1, the scale bench.py grades) and vendor
feed from ``--seed`` (perfbench/datagen.py), sets up one session on
``local[$(nproc)]`` (``setup_s``: the JVM launch, ``get_spark`` and
bench.py's warm-up), then a single closed-loop client runs the
workload's frozen query list (perfbench/workloads.json) in whole passes
until ``--seconds`` of timed work have run. BENCHMARK.json's 5 s is less
than any one pass takes (8-32 s on a 4-core host), so a run times
exactly one pass: a second pass would be warm and would make the
figures of runs with one and two passes differ. Per query it follows
bench.py's method: the query function call plus a noop sink are timed;
the oracle check (tests/oracle.py), ``System.gc`` and ``clearCache`` run
outside the timed region; a query reports its minimum over the passes.

Workloads: ``adhoc`` (a sample of the plain analytic queries) and
``pipeline`` (a sample of the iterative queries, which run graph loops
or Spark jobs while they are built, and of the io round trips, then the
vendor feed replayed into the streaming upsert).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs the
tracer (perfbench/tracing.py), prints the per-layer metrics and writes the
spans and the full per-layer record under ``.perfbench/traces/``.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import ingest  # noqa: E402
from tracing import Tracer, files_since  # noqa: E402
from workloads import WORKLOADS, queries_for  # noqa: E402

ROOT = os.path.dirname(HERE)
#: run directories and trace files (inside the checkout, git-ignored)
OUT_DIR = os.path.join(ROOT, ".perfbench")
#: scale factor of the generated fixtures (lineitem = 6M x SF rows):
#: bench.py's graded scale
SF = 0.1
#: a query still running after this long is cancelled and counted failed
QUERY_TIMEOUT_S = 120
#: the operator modules the frozen query sets call; the traced run's
#: per-layer file has the counters of every module
OPERATOR_MODULES = ("clustering", "dedup", "merge", "skew", "trailing", "transpose")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "datasets.load_table_calls": "count",
    "datasets.load_table_s": "s",
    "plans.build_s": "s",
    "plans.catalyst_s": "s",
    "plans.build_jobs": "count",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.empty_task_frac": "ratio",
    "plans.exchanges": "count",
    "plans.exec_s": "s",
    "plans.executor_cpu_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_write_mb": "MB",
    "plans.spill_mb": "MB",
    "functions.calls": "count",
    "functions.build_s": "s",
    "functions.python_rows": "count",
    "functions.python_mb": "MB",
    "sources.calls": "count",
    "sources.write_calls": "count",
    "sources.bytes_written_mb": "MB",
    "sources.files_written": "count",
    "operators.calls": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    **{
        f"operators.{m}.{c}": u
        for m in OPERATOR_MODULES
        for c, u in (("calls", "count"), ("build_s", "s"), ("build_jobs", "count"))
    },
    "operators.merge.write_amp": "ratio",
    "operators.merge.rows_written": "count",
    "sources.write_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.upsert_rows_per_s": "1/s",
    "streaming.upsert_batch_p50_s": "s",
    "trace.wall_s": "s",
    "trace.spans": "count",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _check_program() -> None:
    """Fail fast, before any output, when the checkout lacks the program."""
    for rel in ("security_master_spark/session.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; run from a checkout of the repository")


def _isolate(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir``: Spark local
    dirs, the engine's io scratch root, ``spark-warehouse/`` (the cwd),
    Python and JVM temp files."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_SCRATCH_ROOT": os.path.join(run_dir, "scratch"),
            "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "TMPDIR": tmp,
            # every JVM (the launcher too): temp files here, no hsperfdata in /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = tmp
    os.chdir(run_dir)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            continue
        out += kids
        todo += kids
    return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """Peak RSS of this Python process plus the JVM it started."""
    total = _vm_hwm_mb(os.getpid())
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
        except OSError:
            continue
        total += _vm_hwm_mb(pid)
    return total


class Bench:
    def __init__(self, args: argparse.Namespace, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.sf_dir = os.path.join(run_dir, "data", f"sf{SF}")
        self.tracer = None
        self.times: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checked: dict[str, bool] = {}
        self.layer = defaultdict(float)
        self.upserts: list[dict] = []
        self.per_query: dict[str, list[dict]] = {}
        self.untimed = defaultdict(float)

    # -- set-up --------------------------------------------------------
    def setup(self) -> None:
        sys.path.insert(0, ROOT)  # the program and tests/oracle.py
        t0 = time.perf_counter()
        datagen.write_tables(self.sf_dir, self.args.seed, SF)
        print(f"fixtures: {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        if self.args.trace:
            self.tracer = Tracer(f"{self.args.workload}-{self.args.seed}")
            self.tracer.install()
        from security_master_spark.plans import registry
        from security_master_spark.session import get_spark
        from tests import oracle

        self.oracle = oracle
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")  # launches the JVM
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        # bench.py's warm-up: JVM + parquet footers, then the Python
        # worker pool and Arrow path
        self.queries["q1_pricing_summary"](spark, self.sf_dir).count()
        spark.range(0, 1000, numPartitions=32).mapInPandas(lambda it: it, schema="id long").count()
        t2 = time.perf_counter()
        print(f"setup: session {t1 - t0:.2f} s, warm-up {t2 - t1:.2f} s", file=sys.stderr)
        self.spark = spark
        self.setup_s = t2 - t0
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["session.warmup_s"] = t2 - t1
        if self.tracer:
            self.tracer.spark = spark

    # -- one query -----------------------------------------------------
    def _sink(self, df) -> None:
        if self.tracer:
            self.tracer.in_sink = True
        try:
            df.write.mode("overwrite").format("noop").save()
        finally:
            if self.tracer:
                self.tracer.in_sink = False

    def _timed(self, name: str):
        """Build and sink one query; returns (df, seconds)."""
        fn = self.queries[name]
        tr = self.tracer
        if tr is None:
            t0 = time.perf_counter()
            df = fn(self.spark, self.sf_dir)
            self._sink(df)
            return df, time.perf_counter() - t0
        with tr.span("query", query=name) as q:
            tr.set_group(name, "build")
            with tr.span("query.build", query=name):
                df = fn(self.spark, self.sf_dir)
            tr.set_group(name, "plan")
            with tr.span("query.plan", query=name):
                self._catalyst = tr.catalyst_s(df)
            self.layer["plans.catalyst_s"] += self._catalyst
            tr.set_group(name, "exec")
            with tr.span("query.exec", query=name):
                self._sink(df)
        return df, q["end"] - q["start"]

    def run_query(self, name: str) -> tuple[float, bool]:
        """Time one query, then (untimed) check it and clean up. Returns
        its timed wall and whether it ran; a query that raised returns the
        time it took to fail."""
        self.attempted += 1
        sc = self.spark.sparkContext
        watchdog = threading.Timer(QUERY_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.start()
        sql0 = self.tracer.sql_executions() if self.tracer else 0
        t0 = time.perf_counter()
        try:
            df, dt = self._timed(name)
        except Exception:
            why = "timed out" if not watchdog.is_alive() else "raised"
            self._fail(f"{name}: {why}\n{traceback.format_exc(limit=3)}")
            return time.perf_counter() - t0, False
        finally:
            watchdog.cancel()
        if self.tracer:
            self._collect_query_layers(name, sql0)
        print(f"query {name}: {dt:.3f} s", file=sys.stderr)
        t1 = time.perf_counter()
        if name not in self.checked:
            self.checked[name] = self._check(name, df)
        if not self.checked[name]:
            self._fail(f"{name}: failed its check")
        t2 = time.perf_counter()
        sc._jvm.System.gc()
        self.spark.catalog.clearCache()
        self.untimed["check_s"] += t2 - t1
        self.untimed["cleanup_s"] += time.perf_counter() - t2
        return dt, True

    def _fail(self, error: str) -> None:
        self.failed += 1
        self.errors.append(error)

    def _check(self, name: str, df) -> bool:
        if self.tracer:
            self.tracer.set_group(name, "check")
        try:
            sql = self.oracles.get(name)
            if sql is None:  # oracle-less: the rows-only check
                df.collect()
            else:
                self.oracle.compare(self.spark, lambda _s, _d: df, sql, self.sf_dir)
            return True
        except Exception:
            self.errors.append(f"{name}: check\n{traceback.format_exc(limit=2)}")
            return False

    def _collect_query_layers(self, name: str, sql0: int) -> None:
        """Add one traced query's job, stage, SQL and span figures to the
        layer totals and to its per-query record."""
        tr = self.tracer
        L = self.layer
        build = tr.job_metrics(f"{tr.run_id}/{name}/build")
        execm = tr.job_metrics(f"{tr.run_id}/{name}/exec")
        L["plans.build_jobs"] += build["jobs"]
        for key in ("jobs", "stages", "tasks", "empty_tasks", "executor_cpu_s", "gc_s",
                    "shuffle_write_mb", "spill_mb", "output_mb"):
            L[f"plans.{key}"] += build[key] + execm[key]
        sql = tr.sql_metrics(sql0)
        L["plans.exchanges"] += sql["exchanges"]
        L["functions.python_rows"] += sql["python_rows"]
        L["functions.python_mb"] += sql["python_mb"]
        last = {}
        for s in tr.spans:  # the newest span of each phase of this query
            if s.get("query") == name:
                last[s["name"]] = s
        wall = {k: v["end"] - v["start"] for k, v in last.items()}
        L["plans.build_s"] += wall["query.build"]
        L["plans.exec_s"] += wall["query.exec"]
        start = time.time() - (time.perf_counter() - last["query"]["start"])
        roots = [os.path.join(self.run_dir, d) for d in ("scratch", "spark-warehouse")]
        files = files_since(roots, start)
        L["sources.files_written"] += files
        self.per_query.setdefault(name, []).append(
            {
                "wall_s": wall["query"],
                "build_s": wall["query.build"],
                "plan_s": wall["query.plan"],
                "exec_s": wall["query.exec"],
                "catalyst_s": self._catalyst,
                "build_jobs": build["jobs"],
                "jobs": build["jobs"] + execm["jobs"],
                "exchanges": sql["exchanges"],
                "files_written": files,
            }
        )

    # -- the streaming part of pipeline -----------------------------------
    def run_feed(self, pass_no: int) -> float:
        base = os.path.join(self.run_dir, "ingest", f"pass{pass_no}")
        store, ckpt = os.path.join(base, "store"), os.path.join(base, "ckpt")
        n = len(self.feed)
        self.attempted += n
        if self.tracer:
            self.tracer.set_group("feed", "replay")
            with self.tracer.span("streaming.replay") as s:
                out = ingest.replay(self.spark, self.feed_dir, store, ckpt)
            wall = s["end"] - s["start"]
        else:
            out = ingest.replay(self.spark, self.feed_dir, store, ckpt)
            wall = out["wall_s"]
        print(f"feed replay: {wall:.3f} s", file=sys.stderr)
        errors = ingest.check_snapshots(self.feed, store)
        if errors or len(out["progress"]) != n:
            self.failed += max(len(errors), abs(n - len(out["progress"])), 1)
            self.errors += errors or [f"{len(out['progress'])} of {n} batches ran"]
        rows = sum(len(f) for f in self.feed)
        self.upserts.append(
            {
                "rows": rows,
                "wall_s": wall,
                "batch_s": [p.durationMs["triggerExecution"] / 1e3 for p in out["progress"]],
                "add_batch_s": [p.durationMs.get("addBatch", 0) / 1e3 for p in out["progress"]],
                "written": ingest.snapshot_rows(store, n),
            }
        )
        self.spark.sparkContext._jvm.System.gc()
        self.spark.catalog.clearCache()
        return wall

    # -- the loop --------------------------------------------------------
    def run(self, names: list[str]) -> None:
        """Whole passes over ``names`` until ``--seconds`` of timed work
        have run (at least one; passes interleave A B C / A B C, as in
        bench.py); pipeline passes end with a feed replay. Each query is
        checked on its first execution only. Failed attempts count their
        time too, so the loop ends also when every query raises."""
        if self.args.workload == "pipeline":
            self.feed_dir = os.path.join(self.run_dir, "feed")
            self.feed = ingest.write_feed(self.feed_dir, self.args.seed)
        if self.tracer:
            self.tracer.reset()
        t_start = time.perf_counter()
        timed = 0.0
        pass_no = 0
        while pass_no == 0 or timed < self.args.seconds:
            walls = {name: self.run_query(name) for name in names}
            if self.args.workload == "pipeline":
                walls["feed"] = (self.run_feed(pass_no), True)
            for name, (wall, ran) in walls.items():
                if ran:
                    self.times.setdefault(name, []).append(wall)
                timed += wall
            pass_no += 1
        self.loop_s = time.perf_counter() - t_start
        untimed = ", ".join(f"{k} {v:.2f} s" for k, v in self.untimed.items())
        print(f"loop: {pass_no} passes, {timed:.2f} s timed of {self.loop_s:.2f} s ({untimed})", file=sys.stderr)
        self.peak_rss = peak_rss_mb()

    # -- results -----------------------------------------------------------
    def end_to_end(self) -> dict:
        """bench.py's reduction: each query's minimum over the passes.
        wall_s sums those minima (and the feed replay's). query_geomean_s
        is their geometric mean: the median of so few queries jumped
        across gaps between query costs from run to run, and no tail is
        reported because no percentile above the median has ten of at most
        13 samples beyond it."""
        best = {name: min(t) for name, t in self.times.items()}
        queries = [t for name, t in best.items() if name != "feed"]
        return {
            "setup_s": self.setup_s,
            "wall_s": sum(best.values()),
            "query_geomean_s": statistics.geometric_mean(queries) if queries else 0.0,
            "peak_rss_mb": self.peak_rss,
        }

    def per_layer(self) -> dict:
        tr = self.tracer
        L = self.layer
        c = tr.counters
        L["datasets.load_table_calls"] = c["datasets.load_table.calls"]
        L["datasets.load_table_s"] = c["datasets.load_table.build_s"]
        for key in ("functions.calls", "functions.build_s", "sources.calls", "sources.write_calls",
                    "sources.write_s"):
            L[key] = c[key]
        for key, value in list(c.items()):
            if key.startswith("operators."):
                L[key] = value
                L[f"operators.{key.rsplit('.', 1)[1]}"] += value
        L["plans.empty_task_frac"] = L["plans.empty_tasks"] / max(1.0, L["plans.tasks"])
        L["sources.bytes_written_mb"] = L["plans.output_mb"]
        ups = self.upserts
        rows = sum(u["rows"] for u in ups)
        batches = [b for u in ups for b in u["batch_s"]]
        L["streaming.batches"] = len(batches)
        L["streaming.rows"] = rows
        L["streaming.trigger_s"] = sum(batches)
        L["streaming.add_batch_s"] = sum(b for u in ups for b in u["add_batch_s"])
        L["operators.merge.rows_written"] = sum(u["written"] for u in ups)
        L["operators.merge.write_amp"] = L["operators.merge.rows_written"] / max(1, rows)
        if ups:
            L["streaming.upsert_rows_per_s"] = rows / sum(u["wall_s"] for u in ups)
            L["streaming.upsert_batch_p50_s"] = statistics.median(batches)
        L["trace.wall_s"] = sum(min(t) for t in self.times.values())
        L["trace.spans"] = len(tr.spans)
        return dict(L)


@contextmanager
def bench_run(args: argparse.Namespace):
    """A Bench in its own temp directory under ``.perfbench/``; on exit
    Spark is stopped and the directory deleted."""
    _check_program()
    os.makedirs(OUT_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=OUT_DIR)
    _isolate(run_dir)
    bench = Bench(args, run_dir)
    try:
        bench.setup()
        yield bench
    finally:
        try:
            _shutdown()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
            for err in bench.errors:
                print(err, file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with bench_run(args) as bench:
        bench.run(queries_for(args.workload))
        e2e = bench.end_to_end()
        if args.trace:
            layers = bench.per_layer()
            bench.tracer.write(
                os.path.join(OUT_DIR, "traces"),
                bench.tracer.run_id,
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "end_to_end": e2e,
                    "layers": layers,
                    "self_s": bench.tracer.self_times(),
                    "queries": bench.per_query,
                },
            )
            metrics = {k: (layers.get(k, 0.0), u) for k, u in PER_LAYER.items()}
        else:
            metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _shutdown() -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
    except Py4JError:  # the connection broke mid-call (a signal); the JVM is stopped below
        pass
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:  # the gateway may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
