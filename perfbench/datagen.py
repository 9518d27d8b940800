"""Seeded fixture generator for the benchmark.

Writes the ten tables the query registry reads (one parquet file per
table, the layout ``datasets.load_table`` expects) with the schemas and
value domains of the TPC-H-ish fixtures the registry was written
against. Row counts follow the scale factor ``sf`` the same way those
fixtures do (lineitem = 6M x sf). The same ``(seed, sf)`` always gives
byte-identical tables.

The ingest workload's vendor feed (``vendor_feed``) is generated here
too, so every input a run sees comes from its seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_TS = pa.timestamp("us")

SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema(
        [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
    ),
    "customer": pa.schema(
        [
            ("c_custkey", pa.int64()),
            ("c_name", pa.string()),
            ("c_nationkey", pa.int32()),
            ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ]
    ),
    "supplier": pa.schema(
        [
            ("s_suppkey", pa.int64()),
            ("s_name", pa.string()),
            ("s_nationkey", pa.int32()),
            ("s_acctbal", pa.float64()),
        ]
    ),
    "part": pa.schema(
        [
            ("p_partkey", pa.int64()),
            ("p_name", pa.string()),
            ("p_brand", pa.string()),
            ("p_type", pa.string()),
            ("p_size", pa.int32()),
            ("p_retailprice", pa.float64()),
        ]
    ),
    "orders": pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_orderstatus", pa.string()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", _TS),
            ("o_orderpriority", pa.string()),
        ]
    ),
    "lineitem": pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_partkey", pa.int64()),
            ("l_suppkey", pa.int64()),
            ("l_linenumber", pa.int32()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
            ("l_shipdate", _TS),
        ]
    ),
    "events": pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", _TS),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    ),
    "documents": pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    ),
    "embeddings": pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    ),
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    first, last = _us(lo) // _DAY_US, _us(hi) // _DAY_US
    return (rng.integers(first, last + 1, n) * _DAY_US).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(100, round(1_500_000 * sf)),
        "lineitem": max(400, round(6_000_000 * sf)),
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Token soup over a small vocabulary; ~5% of documents are an
    earlier document plus a trailing ``dup`` token (near duplicates)."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return texts


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n = _sizes(sf)
    cols: dict[str, dict] = {
        "region": {"r_regionkey": np.arange(5), "r_name": _REGIONS},
        "nation": {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n["customer"]),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n["customer"]),
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"]),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(n["part"]),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(
                    rng.integers(0, len(_ADJ), n["part"]),
                    rng.integers(0, len(_NOUN), n["part"]),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": _pick(rng, _PTYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"]),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, n["orders"], 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n["orders"]),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, n["lineitem"], 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, n["lineitem"], "1995-01-02", "2001-11-04"),
        },
    }
    n_ev = n["events"]
    start = _us("2024-01-01")
    span = _us("2024-01-31") - start
    ev_ts = start + np.sort(rng.choice(span, n_ev, replace=False))
    cols["events"] = {
        "event_id": np.arange(n_ev),
        "ts": ev_ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(5, n_ev * 15 // 1000), n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": _money(rng, n_ev, 0.01, 500.0),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }
    texts = _documents(rng, n["documents"])
    cols["documents"] = {
        "doc_id": np.arange(n["documents"]),
        "text": texts,
        "lang": _pick(rng, _LANGS, n["documents"]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n["documents"])],
        "n_chars": [len(t) for t in texts],
    }
    n_emb = n["embeddings"]
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = 0.3 * centers[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    cols["embeddings"] = {
        "vec_id": np.arange(n_emb),
        "embedding": list(vecs),
        "label": labels,
    }
    return {name: pa.table(c, schema=SCHEMAS[name]) for name, c in cols.items()}


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet`` as ONE row group
    (the fixtures' layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet", row_group_size=len(tbl) or 1)


FEED_SCHEMA = "sec_id long, price double, ts long, deleted boolean"


def vendor_feed(seed: int, n_files: int, rows_per_file: int, n_keys: int) -> list[list[dict]]:
    """A vendor price feed as ``n_files`` JSON-lines files, in arrival
    order. Each file is a batch of updates for one event-time window
    (``ts`` increases across windows); a tenth of the rows are deletes,
    and about one file in five arrives one slot late (out of order),
    so the merge has to use ``ts``, not arrival order. A deleted key can
    be listed again in a later window.

    A file that overtakes the one before it deletes none of that file's
    keys: ``streaming_upsert`` keeps no tombstones, so the late file's
    older update would bring the deleted key back. That is a known
    defect of the program, left out of the feed so that the workload
    measures upserts that the program gets right.
    """
    rng = np.random.default_rng(seed + 1)
    order = list(range(n_files))
    for i in range(1, n_files - 1):
        if rng.random() < 0.2 and order[i] == i:
            order[i], order[i + 1] = order[i + 1], order[i]
    # window w arrives before window w - 1
    overtakes = {order[i] for i in range(n_files) if order[i] > i}
    windows: list[list[dict]] = []
    for w in range(n_files):
        rows = []
        protected = {r["sec_id"] for r in windows[-1]} if w in overtakes else set()
        for j, key in enumerate(rng.choice(n_keys, min(rows_per_file, n_keys), replace=False)):
            key = int(key)
            ts = w * 1_000_000 + j
            if w > 0 and rng.random() < 0.1 and key not in protected:
                rows.append({"sec_id": key, "price": None, "ts": ts, "deleted": True})
            else:
                price = float(np.round(rng.uniform(1.0, 1000.0), 2))
                rows.append({"sec_id": key, "price": price, "ts": ts, "deleted": False})
        windows.append(rows)
    return [windows[i] for i in order]
