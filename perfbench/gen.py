"""Seeded input generator for the benchmark workloads.

Writes the engine tables the workloads read — ``customer``, ``orders``,
``events`` and ``documents`` — as one parquet file each, with the column
names, types and value distributions of the engine's sf0.01 test tables:
uniform keys and values, a 30-day event stream in time order, and
documents drawn from a 31-word vocabulary with 5 % planted
near-duplicates (a copy of another document plus the word ``dup``).

Content is drawn from a fixed content seed, so sizes, key skew and the
near-duplicate rate never depend on the workload seed. The workload seed
only moves how that content is laid out:

- the row order of ``customer``, ``orders`` and ``documents`` (file
  layout, hence the contents of Spark partitions; results do not move);
- the document ids, relabelled by a permutation, so a split by id
  regroups the documents (corpus versus batches).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

# sf0.01 sizes
N_CUSTOMER = 1500
N_ORDERS = 15000
N_EVENTS = 10000
N_EVENT_USERS = 150
N_DOCS = 500

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_US_PER_DAY = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    customer = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, N_ORDERS) * _US_PER_DAY),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    events = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _US_PER_DAY, N_EVENTS))),
        "user_id": pa.array(rng.integers(0, N_EVENT_USERS, N_EVENTS)),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": pa.array(np.round(np.clip(rng.exponential(50.0, N_EVENTS), 0.01, None), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    words = np.array(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(N_DOCS)]
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        src = int(rng.integers(0, N_DOCS))
        if src != i:
            texts[i] = texts[src] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, N_DOCS, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"customer": customer, "orders": orders, "events": events, "documents": documents}


def generate(out_dir: str, seed: int) -> None:
    """Write the tables under ``out_dir``."""
    tables = _tables(np.random.default_rng(CONTENT_SEED))
    layout = np.random.default_rng(seed)
    tables["documents"] = tables["documents"].set_column(
        0, "doc_id", pa.array(layout.permutation(N_DOCS).astype(np.int64))
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        # events stay in time order: the stream replays them by ts
        if name != "events":
            t = t.take(pa.array(layout.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
