"""Seeded star-schema tables for the analytics workload.

Writes the ten parquet tables the analytics registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``) with
the column names, types and value domains the registry's queries and DuckDB
oracles expect. Every value is a function of the seed, so one seed always
gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
    " embeddings"
).split()

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order"
    " vector line table data agg value key stream window a spark part group"
    " big sort query fast the"
).split()
_LANGS = np.array(["en", "fr", "es", "zh", "de"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the tables under ``out_dir``; ``scale`` 0.01 gives 60k line
    items. Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1500, int(1_500_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_users = max(15, n_events // 66)
    n_docs, n_vecs, dim = 500, 500, 64

    frames: dict[str, pd.DataFrame] = {}
    frames["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    frames["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    frames["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"],
            n_cust,
        ),
    })
    frames["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["small", "hot", "red", "blue", "large", "old", "cold", "new"])
    noun = np.array(["widget", "gear", "plate", "bolt", "ring", "rod", "gizmo", "anvil"])
    frames["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(
            ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day0 = np.datetime64("1995-01-01")
    frames["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": (day0 + rng.integers(0, 2404, n_orders)).astype(
            "datetime64[us]"
        ),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_orders,
        ),
    })
    lines = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    odate = frames["orders"]["o_orderdate"].to_numpy()[okeys]
    frames["lineitem"] = pd.DataFrame({
        "l_orderkey": okeys,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(
            np.int32
        ),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": (odate + rng.integers(1, 122, n_li).astype("timedelta64[D]")),
    })
    gaps_us = rng.exponential(259e6, n_events).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    frames["events"] = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(
            ["signup", "error", "click", "view", "purchase"], n_events
        ),
        "value": np.maximum(0.01, np.round(rng.exponential(49.6, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i % 20 == 8:
            # a near-duplicate of an earlier document, as in the reference
            # corpus, so the near-dup queries have pairs to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    frames["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 25}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_vecs, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    frames["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, df in frames.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in frames.items()}
