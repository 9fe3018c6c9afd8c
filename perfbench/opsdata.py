"""Seeded generator for the tables the ops-suite operators read.

The tables have the columns and types of the TPC-H-ish star schema the
``kgpipe.queries`` registry is written against (region, nation,
customer, orders, lineitem, events, documents, embeddings), so every
operator and its DuckDB oracle run unchanged. Row ratios and value
distributions are fitted to the repository's reference tables at
sf0.01 and sf0.1 (measured figures, and the generated ones beside them,
are in README.md). The same ``seed`` and ``rows`` always give
byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
#: measured shares: en 41-44%, every other language 13-15%
LANG_P = [0.15, 0.41, 0.15, 0.14, 0.15]
N_SOURCES = 20
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_EPOCH = dt.datetime(1995, 1, 1)


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = (seconds * 1_000_000).astype("int64") + int(
        (base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000
    )
    return pa.array(micros, type=pa.timestamp("us"))


def generate_tables(seed: int, rows: int) -> dict[str, pa.Table]:
    """All tables for ``rows`` lineitem rows, at the reference ratios:
    orders rows/4, customers rows/40, events rows/6 over rows/400 users,
    documents rows/120, embeddings max(500, rows/300)."""
    rng = np.random.default_rng(seed)
    n_orders = max(rows // 4, 10)
    n_cust = max(rows // 40, 10)
    n_part, n_supp = max(rows // 30, 10), max(rows // 600, 5)
    n_docs, n_vec = max(rows // 120, 20), max(rows // 300, 500)
    n_events, n_users = max(rows // 6, 20), max(rows // 400, 5)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(_EPOCH, rng.integers(0, 2400, n_orders) * 86400.0),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, rows), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
        "l_quantity": rng.integers(1, 51, rows).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, rows), 2),
        "l_discount": rng.integers(0, 11, rows) / 100.0,
        "l_tax": rng.integers(0, 9, rows) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, rows)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, rows)],
        "l_shipdate": _ts(_EPOCH, rng.integers(1, 2500, rows) * 86400.0),
    })
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86400, n_events))),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    # 10-99 tokens drawn uniformly from a 30-word vocabulary (the
    # reference's 2041 distinct 5-char shingles, ~5% LSH candidate pairs);
    # then one document in 20 becomes another's text plus " dup"
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(n)))
             for n in rng.integers(10, 100, n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "orders": orders, "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write ``<name>.parquet`` per table; returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
