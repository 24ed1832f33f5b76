"""Seeded synthetic corpus for the registry workload.

The registry queries read the ten tables named in
``sources.batch.TABLES``.  This module writes them, one parquet file each,
in the shape of the fixed test corpus at sf0.01 (same columns, types,
value domains and row counts): a TPC-H-like star schema, a 30-day
``events`` stream, word-salad ``documents`` with planted near-duplicates,
and unit-norm 64-d ``embeddings`` with planted near-duplicate vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "cold", "hot", "red", "round", "small", "steel"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "spring", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer the a of"
).split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]

N_CUSTOMER, N_SUPPLIER, N_PART = 1_500, 100, 2_000
N_ORDERS, N_LINEITEM = 15_000, 60_000
N_EVENTS, N_USERS = 10_000, 150
N_DOCS, N_VECS, DIM = 500, 500, 64
NEAR_DUP_SHARE = 0.05

_DAY_US = 86_400_000_000


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (offsets * _DAY_US).astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.array(values)[idx])


def tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``: the same seed gives the same tables."""
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, N_CUSTOMER)),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
        }
    )
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": _pick(names, rng.integers(0, len(names), N_PART)),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
            "p_type": _pick(PART_TYPES, rng.integers(0, 6, N_PART)),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, N_ORDERS)),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, N_ORDERS), 2),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2400, N_ORDERS)),
            "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, N_ORDERS)),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, N_LINEITEM), 2),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100,
            "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, N_LINEITEM)),
            "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, N_LINEITEM)),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2500, N_LINEITEM)),
        }
    )
    ts = np.sort(rng.integers(0, 30 * _DAY_US, N_EVENTS))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, N_EVENTS)),
            "value": np.maximum(np.round(np.abs(rng.normal(40, 35, N_EVENTS)), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng: np.random.Generator) -> pa.Table:
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    texts = []
    for _ in range(N_DOCS - n_near):
        texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    for _ in range(n_near):  # 1-2% token edits: Jaccard around 0.9
        toks = texts[rng.integers(0, len(texts))].split()
        for i in rng.choice(len(toks), max(1, round(len(toks) * rng.uniform(0.01, 0.02))), replace=False):
            toks[i] = WORDS[rng.integers(0, len(WORDS))]
        texts.append(" ".join(toks))
    texts = [texts[i] for i in rng.permutation(len(texts))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": _pick(LANGS, rng.integers(0, len(LANGS), N_DOCS)),
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n_near = int(N_VECS * NEAR_DUP_SHARE)
    v = rng.standard_normal((N_VECS - n_near, DIM))
    near = v[rng.choice(len(v), n_near, replace=False)] + 0.05 * rng.standard_normal((n_near, DIM))
    allv = np.vstack([v, near])
    allv = (allv / np.linalg.norm(allv, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(allv), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
        }
    )


def write(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table to ``out_dir``; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
