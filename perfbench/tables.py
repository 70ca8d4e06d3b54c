"""Seeded generator for the tables the 9 analytic bench queries read.

Writes one parquet file per table with the column names and types of the
query registry's test data (``queries.TABLES``), at ``rows`` lineitem rows.
The other tables scale with it in the ratios of the registry's sf0.1 test
data: at ``rows=600_000`` the row counts equal sf0.1's (orders 150,000,
customer 15,000, part 20,000, supplier 1,000, events 100,000, documents
5,000, embeddings 2,000).
Values follow the value domains the queries filter and group on: TPC-H
return flags, order statuses, market segments and region names; money in
whole cents; five event types over 30 days; documents drawn from a small
vocabulary with exact duplicates; 64-dim float embeddings with 10 labels.
The same ``(rows, seed)`` gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
VOCAB = (
    "the a of and to in is key agg row scan slow fast table value part hash "
    "merge batch spark line sort window join filter plan stage task shuffle"
).split()
DIM = 64


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days * 86_400_000_000, n)
    return base + offs.astype("timedelta64[us]")


def _day(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def generate(dirpath: str, rows: int, seed: int) -> dict[str, int]:
    """Write the tables into ``dirpath``; return rows per table."""
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_orders = max(rows // 4, 10)
    n_cust = max(rows // 40, 10)
    n_supp = max(rows // 600, 5)
    n_part = max(rows // 30, 10)
    n_events = max(rows // 6, 10)
    n_docs = max(rows // 120, 20)
    n_vecs = max(rows // 300, 20)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(rng.integers(-99_999, 999_999, n_cust) / 100, f64),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(rng.integers(-99_999, 999_999, n_supp) / 100, f64),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"part {i % 97}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "STANDARD", "PROMO"][t] for t in rng.integers(0, 3, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(rng.integers(90_000, 200_000, n_part) / 100, f64),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), i64),
        "o_orderstatus": [["F", "O", "P"][s] for s in rng.integers(0, 3, n_orders)],
        "o_totalprice": pa.array(rng.integers(100_000, 50_000_000, n_orders) / 100, f64),
        "o_orderdate": pa.array(_day(rng, n_orders, "1995-01-01", 2500), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_orders)],
    })
    orderkey = rng.integers(0, n_orders, rows)
    qty = rng.integers(1, 51, rows).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, rows), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, rows), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, rows), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(qty * rng.integers(90_000, 200_000, rows) / 100, f64),
        "l_discount": pa.array(rng.integers(0, 11, rows) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, rows) / 100, f64),
        "l_returnflag": [["A", "N", "R"][f] for f in rng.integers(0, 3, rows)],
        "l_linestatus": [["F", "O"][s] for s in rng.integers(0, 2, rows)],
        "l_shipdate": pa.array(_day(rng, rows, "1995-01-01", 2500), pa.timestamp("us")),
    })
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(_ts(rng, n_events, "2024-01-01", 30), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 60, 5), n_events), i64),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_events)],
        "value": pa.array(rng.integers(0, 10_000, n_events) / 100, f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    # every fifth document repeats an earlier text (exact-dedup groups)
    texts: list[str] = []
    for i in range(n_docs):
        if i % 5 == 4:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(20, 120))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": [LANGS[g] for g in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.standard_normal((n_vecs, DIM)).astype(np.float32) * np.float32(0.1)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(dirpath, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
