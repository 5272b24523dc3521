"""Seeded registry tables for the registry sweep.

The registry queries read ten single-row-group parquet tables (a
TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``). This module writes them from the benchmark seed, with
the schemas and value distributions of ``tools/gen_sf.py``, so the sweep
needs no data outside its own run directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
])
_LANGS, _LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]
_ETYPES = ["error", "view", "signup", "click", "purchase"]
_SEGMENTS = ["MACHINERY", "FURNITURE", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["large", "hot", "blue", "red", "green", "small", "dark", "light"]
_P_NOUN = ["ring", "bolt", "screw", "nut", "plate", "wheel", "gear", "pin"]
_P_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"),
        compression="snappy", row_group_size=1 << 31,
    )


def _days(rng, base: np.datetime64, n_days: int, n: int) -> pa.Array:
    return pa.array(
        base + (rng.integers(0, n_days, n) * _DAY_US).astype("timedelta64[us]")
    )


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table at scale ``sf``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}

    n_docs = int(50_000 * sf)
    lens = rng.integers(10, 101, n_docs)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n:e]) for n, e in zip(lens, ends)]
    n_pairs = max(1, round(n_docs * 8 / 5000))  # exact-duplicate pairs
    src = rng.choice(n_docs, 2 * n_pairs, replace=False)
    for a, b in zip(src[:n_pairs], src[n_pairs:]):
        texts[int(b)] = texts[int(a)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_emb = int(20_000 * sf)
    vecs = rng.normal(0, 1, (n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })

    n_ev = int(1_000_000 * sf)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, 30 * _DAY_US, n_ev
    ).astype("timedelta64[us]")
    ts.sort()
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), pa.int64()),
        "event_type": rng.choice(_ETYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
        ),
    })

    n_ord, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    n_part, n_supp, n_li = int(200_000 * sf), int(10_000 * sf), int(6_000_000 * sf)
    d95 = np.datetime64("1995-01-01", "us")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, d95, 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li)), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, d95, 2500, n_li),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_P_ADJ[i % 8]} {_P_NOUN[(i // 8) % 8]}" for i in range(n_part)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(_P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}
