"""Query-workload input tables, generated inside the benchmark's checkout.

The ten tables have the schemas the engine's loaders expect (FIXTURES.md)
and the same kind of distributions as the engine's test fixtures: uniform
keys and categories, a 30-word document vocabulary with 5% near-duplicate
documents, and unit-norm 64-dim embeddings.  They are generated from a
fixed seed (42), independent of the workload seed, so the recorded row
counts in ``expected_rows.json`` stay valid; the workload seed only orders
the queries.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("red", "blue", "hot", "old", "large", "small", "green", "cold")
_PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts_ms(start: str, end: str, n: int, rng: np.random.Generator) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi, size=n)
    return pa.array(days * 86_400_000, pa.timestamp("ms"))


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_line = max(int(6_000_000 * sf), 6000)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts_ms("1995-01-01", "2001-08-02", n_ord, rng),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts_ms("1995-01-02", "2001-11-05", n_line, rng),
        }
    )
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us").astype("int64") + ev_ts,
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write(root: str, sf: float) -> str:
    """Write the tables at scale factor ``sf`` under ``root``; return their
    directory."""
    out = os.path.join(root, f"sf{sf:g}")
    os.makedirs(out)
    for name, table in _tables(sf, np.random.default_rng(FIXTURE_SEED)).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return out
