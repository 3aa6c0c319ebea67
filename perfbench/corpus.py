"""Seeded generator for the corpus tables the registry queries read.

The tables have the shapes and value ranges of the fixed TPC-H-ish test
data (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), so every registry query runs unchanged against
them. Each table is a pure function of (seed, scale): the same seed always
writes byte-identical parquet files.

`scale` is the test data's scale factor and sizes every table alike, so
the tables keep the proportions of the test data: at scale 0.1, 15,000
customers, 150,000 orders, 600,000 lineitems, 100,000 events, 5,000
documents and 2,000 embeddings.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window column join customer filter small order vector "
    "data stream group big query"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DAY_US = 86_400 * 1_000_000


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(10, 99))))
        for _ in range(n)
    ]
    # ~5% near-duplicates: a copy of another document plus one marker
    # word, the pairs the MinHash/Jaccard/containment queries look for
    for i in rng.choice(n, max(1, n // 20), replace=False):
        j = int(rng.integers(n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    m = rng.standard_normal((n, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * _DAY_US
    ts = np.sort(t0 + rng.integers(0, span, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(n // 66, 10), n), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n).tolist(),
        "value": np.round(np.minimum(rng.exponential(49.6, n), 490.0) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def corpus_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_docs = max(int(50_000 * scale), 50)
    n_vecs = max(int(20_000 * scale), 20)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_li = 4 * n_ord
    i32 = pa.int32()
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": list(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
            "l_linestatus": rng.choice(("F", "O"), n_li).tolist(),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li)),
        }),
        "events": _events(rng, max(int(1_000_000 * scale), 1000)),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }


def write_corpus(out_dir: str, seed: int, scale: float) -> str:
    """Write every table as `<out_dir>/<name>.parquet` (one file, one row
    group, like the test data) unless already complete; returns out_dir."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in corpus_tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    open(done, "w").close()
    return out_dir
