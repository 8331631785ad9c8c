"""Seeded input generation.

Every table the workloads read is generated here from ``--seed``: the
same seed and size give byte-identical Parquet. The star schema mirrors
the column names, types and value domains of the engine's TPC-H-style
test tables (orders, lineitem, customer, ...), so the registry's
headline queries and their DuckDB oracles run on it unchanged.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = np.array(["O", "P", "F"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_SECONDS = 30 * 86400

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)


def _ts(epoch: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((epoch - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    """``n`` orders with keys ``0..n-1`` in key order."""
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customers, n, dtype=np.int64),
            "o_orderstatus": rng.choice(STATUSES, n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": _ts(ORDER_EPOCH, rng.integers(0, ORDER_DAYS, n) * 86_400_000_000),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        },
        schema=ORDERS_SCHEMA,
    )


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten tables of the engine's test schema at ``scale`` (1.0 =
    1.5M orders; 0.01 = 15k orders, 60k line items)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(10, int(1_500_000 * scale))
    n_evt = max(10, int(1_000_000 * scale))
    n_user = max(2, int(15_000 * scale))
    n_doc = max(10, int(50_000 * scale))
    n_vec = n_doc

    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    order_t = orders(rng, n_ord, n_cust)

    # 1..7 line items per order, about four on average
    per_order = rng.integers(1, 8, n_ord)
    l_orderkey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_linenumber = (np.arange(len(l_orderkey)) - starts + 1).astype(np.int32)
    n_li = len(l_orderkey)
    l_partkey = rng.integers(0, n_part, n_li, dtype=np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flags = rng.choice(np.array(["A", "N", "R"]), n_li)
    lstat = rng.choice(np.array(["F", "O"]), n_li)
    lineitem = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": l_partkey,
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_partkey] * rng.uniform(0.95, 1.05, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": flags,
            "l_linestatus": lstat,
            "l_shipdate": _ts(
                ORDER_EPOCH, rng.integers(1, ORDER_DAYS + 95, n_li) * 86_400_000_000
            ),
        }
    )
    ev_ts = np.sort(rng.integers(0, EVENT_SECONDS * 1_000_000, n_evt))
    events = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _ts(EVENT_EPOCH, ev_ts),
            "user_id": rng.integers(0, n_user, n_evt, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    docs = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.02:  # near-duplicate of an earlier doc
            docs.append(docs[int(rng.integers(0, i))] + " dup")
        else:
            docs.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    documents = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": docs,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": order_t,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        total += os.path.getsize(path)
    return total
