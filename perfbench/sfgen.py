"""Seeded generator for the scale-factor tables the registered queries read.

The tables have the schemas and value domains of the engine's test tables
(a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), so every ``plans.entry_queries`` query and its DuckDB twin
run on them unchanged.  Row counts follow ``sf`` the way the test tables
do; ``documents`` and ``embeddings`` never go below 500 rows.

Planted structure the dedup / near-dup queries look for: 5 % of documents
copy an earlier document and append `` dup``; 5 % of embeddings are a
perturbed copy of an earlier vector.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the data query scan filter join merge sort group agg window stream "
    "batch vector hash key value row column table line order part customer "
    "spark fast slow big small"
).split()
LANGS = ("en", "fr", "es", "de", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "green")
NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
PTYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
EMB_DIM = 64

TABLES = (
    "region", "nation", "supplier", "customer", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    vecs = rng.normal(size=(n, EMB_DIM)).astype(np.float32)
    for i in range(1, n):
        if rng.random() < 0.05:
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] + rng.normal(scale=0.01, size=EMB_DIM).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """All tables at scale factor ``sf``; the same (sf, seed) gives the same bytes."""
    rng = np.random.default_rng(seed)
    n_sup = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(REGIONS),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_sup, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_sup),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[j] for j in rng.integers(0, len(PTYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("P", "O", "F")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_sup, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("R", "A", "N")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    }
    span_us = 30 * 86_400 * 1_000_000
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)

    out = {name: pa.table(cols) for name, cols in t.items()}
    emb = out["embeddings"]
    out["embeddings"] = emb.set_column(
        1, "embedding", pa.array(t["embeddings"]["embedding"], pa.list_(pa.float32()))
    )
    return out


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
