"""Seeded input tables for the benchmark.

Writes the ten fixture tables the engine reads (``{dir}/{name}.parquet``,
the layout of ``demo_segmenter_spark.sources.tables``) with the schemas
and value distributions documented in FIXTURES.md, at the row counts of
the sf0.01 fixture. Every value is drawn from one seeded generator, so
the same seed writes byte-identical files and the engine sees only these
generated inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
USERS = 150
EMB_DIM = 64
EMB_LABELS = 10

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "big"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()

_DAY_US = 86_400 * 1_000_000


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(p, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _ts(
                _epoch_us("1995-01-01") + rng.integers(0, 2405, o) * _DAY_US
            ),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
            "l_partkey": rng.integers(0, p, li, dtype=np.int64),
            "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["O", "F"], li),
            "l_shipdate": _ts(
                _epoch_us("1995-01-02") + rng.integers(0, 2499, li) * _DAY_US
            ),
        }
    )
    e = n["events"]
    # sorted offsets + arange: strictly increasing, so no two events tie on ts
    offs = np.sort(rng.integers(0, 30 * _DAY_US - e, e)) + np.arange(e)
    out["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts(_epoch_us("2024-01-01") + offs),
            "user_id": rng.integers(0, USERS, e, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, d)
    ]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(d, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, d, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    m = n["embeddings"]
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, m)
    vecs = centers[labels] + rng.normal(0.0, 0.1, (m, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, (m + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
                pa.array(vecs.ravel()),
            ),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def write_events_log(data_dir: str, log_dir: str, copies: int) -> int:
    """Append ``copies`` copies of the events table to an append-only log
    directory (one parquet file per append, the ``events_log`` source's
    layout); returns the record count."""
    os.makedirs(log_dir, exist_ok=True)
    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    for i in range(copies):
        pq.write_table(events, os.path.join(log_dir, f"chunk_{i:03d}.parquet"))
    return events.num_rows * copies
