"""Seeded generator for the registry's relational, event, text and vector
tables (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), one parquet file each, in the column layout the
registry queries read.

``scale`` is the scale factor of the shared test tables: lineitem has
6,000,000 x scale rows, so scale 0.01 gives 60,000. Row counts, column
types (``events.ts`` is naive microseconds) and value ranges follow the
shared test tables at sf0.001-sf0.1: uniform random foreign keys, dates
spread over 1995-2001, two-decimal prices, 15,000 x scale users, documents
over a 30-word vocabulary (at least 500 of them, 41% in English, the source
round-robin over 20), 5% of them a copy of another with " dup" appended,
which gives the same exact-Jaccard pair counts, and 64-dimensional unit
embeddings in ten labelled clusters. ``perfbench/ATTRIBUTION.md`` records
the comparison.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "row the query stream fast spark line small customer group value hash batch "
    "sort data big filter key agg scan slow table part a merge window order "
    "column join vector"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PART_ADJ = ["red", "small", "hot", "old", "large", "blue", "cold", "green"]
PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]
# share of documents that copy another document and append " dup"
NEAR_DUP_SHARE = 0.05
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _ts(col: np.ndarray) -> pa.Array:
    return pa.array(col.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))) for _ in range(n)]
    dups = rng.choice(n, int(n * NEAR_DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for d, o in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[o] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    vecs = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def generate(seed: int, scale: float, out: str) -> dict[str, int]:
    """Write every table under ``out`` (created fresh); returns row counts."""
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(150, int(1_500_000 * scale))
    n_line = max(600, int(6_000_000 * scale))
    n_events = max(100, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    counts = {
        "region": _write(out, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": _write(out, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": _write(out, "customer", {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "supplier": _write(out, "supplier", {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }),
    }
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    counts["part"] = _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    order_days = rng.integers(0, 2403, n_ord)  # 1995-01-01 .. 2001-07-31
    counts["orders"] = _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + order_days.astype("timedelta64[D]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    l_part = rng.integers(0, n_part, n_line)
    ship_days = rng.integers(1, 2499, n_line)  # 1995-01-02 .. 2001-11-04
    counts["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995 + ship_days.astype("timedelta64[D]")),
    })
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_events))
    counts["events"] = _write(out, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    })
    counts["documents"] = _write(out, "documents", _documents(rng, n_docs))
    counts["embeddings"] = _write(out, "embeddings", _embeddings(rng, n_vecs))
    return counts
