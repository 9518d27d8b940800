"""The streaming part of the pipeline workload: replay a seeded vendor
feed, one file per trigger, into ``streaming.jobs.streaming_upsert`` and
check every snapshot it commits against DuckDB."""

from __future__ import annotations

import json
import os
import time

import duckdb

from datagen import FEED_SCHEMA, vendor_feed

FEED_FILES = 4
FEED_ROWS = 400
FEED_KEYS = 1500


def write_feed(feed_dir: str, seed: int) -> list[list[dict]]:
    """Write the feed as one JSON-lines file per batch, with increasing
    mtimes in arrival order (the file source picks files by mtime)."""
    os.makedirs(feed_dir, exist_ok=True)
    files = vendor_feed(seed, FEED_FILES, FEED_ROWS, FEED_KEYS)
    for i, rows in enumerate(files):
        path = os.path.join(feed_dir, f"part-{i:04d}.json")
        with open(path, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
    return files


def replay(spark, feed_dir: str, store: str, checkpoint: str) -> dict:
    """Run the upsert stream over every feed file and stop it. Returns
    the replay wall time and the per-trigger progress records."""
    from security_master_spark.streaming.jobs import streaming_upsert

    t0 = time.perf_counter()
    stream = (
        spark.readStream.schema(FEED_SCHEMA).option("maxFilesPerTrigger", 1).json(feed_dir)
    )
    query = streaming_upsert(
        stream, store, keys=["sec_id"], order_col="ts", delete_col="deleted",
        checkpoint_dir=checkpoint,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    wall = time.perf_counter() - t0
    progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    return {"wall_s": wall, "progress": progress}


def check_snapshots(files: list[list[dict]], store: str) -> list[str]:
    """Compare snapshot ``v000k`` with DuckDB's latest row per key over
    the first ``k`` feed files (deleted keys absent). Returns one error
    string per mismatching snapshot or missing snapshot."""
    from security_master_spark.operators.merge import snapshot_path

    errors = []
    con = duckdb.connect()
    try:
        for k in range(1, len(files) + 1):
            path = snapshot_path(store, k)
            if not os.path.isdir(path):
                errors.append(f"snapshot v{k} missing")
                continue
            rows = [r for f in files[:k] for r in f]
            con.execute("CREATE OR REPLACE TABLE feed (sec_id BIGINT, price DOUBLE, ts BIGINT, deleted BOOLEAN)")
            con.executemany(
                "INSERT INTO feed VALUES (?, ?, ?, ?)",
                [(r["sec_id"], r["price"], r["ts"], r["deleted"]) for r in rows],
            )
            want = con.execute(
                "SELECT sec_id, price, ts FROM ("
                " SELECT *, row_number() OVER (PARTITION BY sec_id ORDER BY ts DESC) rn FROM feed)"
                " WHERE rn = 1 AND NOT deleted ORDER BY sec_id"
            ).fetchall()
            got = con.execute(
                f"SELECT sec_id, price, ts FROM read_parquet('{path}/*.parquet') ORDER BY sec_id"
            ).fetchall()
            if got != want:
                diff = len(set(got) ^ set(want))
                errors.append(f"snapshot v{k}: {diff} rows differ from the latest row per key")
    finally:
        con.close()
    return errors


def snapshot_rows(store: str, n: int) -> int:
    """Rows written across snapshots v1..vn (parquet footers only)."""
    import pyarrow.parquet as pq

    from security_master_spark.operators.merge import snapshot_path

    total = 0
    for k in range(1, n + 1):
        path = snapshot_path(store, k)
        for f in os.listdir(path) if os.path.isdir(path) else []:
            if f.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(path, f)).num_rows
    return total
