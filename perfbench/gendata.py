"""Deterministic synthetic tables for the benchmark.

The tables follow the schemas and value distributions of the engine's
test corpus (a TPC-H-ish star schema plus ``events``, ``documents``
and ``embeddings``), at the benchmark's own fixed size. The batch
workloads always read the same tables: the data seed is a constant,
and the run's ``--seed`` only permutes query order. Each table is one
parquet file with one row group, as in the test corpus, so scan-side
stages that are not spread run as one task.

Usage: python3 perfbench/gendata.py <out_dir> [scale]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

# Row counts: the relational tables and events at 1/4 of the sf0.1 test
# corpus, documents at 1/5 and embeddings at 1/4 of it.
SIZES = {
    "customer": 3_750,
    "supplier": 250,
    "part": 5_000,
    "orders": 37_500,
    "lineitem": 150_000,
    "events": 25_000,
    "documents": 1_000,
    "embeddings": 500,
}
N_USERS = 1_500
# users of the event_ingest backlog: every micro-batch touches each of
# them (the stateful operator calls Python once per user and batch), and
# each sees enough events to pass the anomaly rule's warm-up
INGEST_USERS = 20
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["cold", "hot", "large", "new", "old", "red", "small", "tiny"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
N_LABELS = 10


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng, scale: float) -> dict[str, pa.Table]:
    n = {k: max(int(v * scale), min(v, 200)) for k, v in SIZES.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        "c_mktsegment": rng.choice(SEGMENTS, len(k)),
    })
    k = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(k)),
    })
    k = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": k,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, len(k)), rng.choice(P_NOUN, len(k)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(k))],
        "p_type": rng.choice(P_TYPES, len(k)),
        "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1),
    })
    k = np.arange(n["orders"], dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n["customer"], len(k)),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(k)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, len(k)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(k)),
        "o_orderpriority": rng.choice(PRIORITIES, len(k)),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    t["events"] = event_table(rng, n["events"], 30 * 86400 / n["events"])
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def event_table(rng, count: int, mean_gap_s: float, users: int = N_USERS) -> pa.Table:
    """``count`` events in event-time order from 2024-01-01: exponential
    gaps, uniform users and types, exponential values rounded to cents."""
    gaps_us = rng.exponential(mean_gap_s * 1e6, count).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us)
    return pa.table({
        "event_id": np.arange(count, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, count),
        "event_type": rng.choice(EVENT_TYPES, count),
        "value": np.round(rng.exponential(50.0, count), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, count)],
    })


def ingest_events(seed: int, count: int) -> pa.Table:
    """The event_ingest backlog: ``count`` events whose users, types,
    gaps and values all follow ``seed``. The page generator serves them
    and the benchmark replays them, so both see the same events."""
    return event_table(np.random.default_rng(seed), count, 5.0, users=INGEST_USERS)


def _documents(rng, count: int) -> pa.Table:
    texts: list[str] = []
    for i in range(count):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(count, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, count, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(count)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, count: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, count)
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = rng.normal(0.0, 1.0, (count, EMB_DIM)) / np.sqrt(EMB_DIM) + 0.5 * centroids[labels] / np.sqrt(EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(count, dtype=np.int64),
        "embedding": emb,
        "label": labels.astype(np.int32),
    })


def build(out_dir: str, scale: float = 1.0) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file, one
    row group). ``scale`` shrinks the row counts (to no fewer than 200
    rows) for quick test runs. Writes to a sibling temp dir and renames,
    so an interrupted build never leaves a half-written data set behind."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in _tables(np.random.default_rng(DATA_SEED), scale).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(tbl) or 1)
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    build(sys.argv[1], float(sys.argv[2]) if len(sys.argv) == 3 else 1.0)
