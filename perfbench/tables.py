"""Seeded generator for the declared queries' input tables.

Writes the ten tables the query registry reads (``catalog.TABLES``), one
parquet file each, with the column names and types of the engine's test
data: a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``. Value domains follow the same shapes (five market
segments, return flags A/N/R, 1995-2001 dates, 64-dim embeddings,
documents drawn from a small vocabulary with a share of near-duplicates),
so every query has rows to work on. Sizes come from ``workloads.json``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1995 + days.astype("int64") * DAY_US, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(seed: int, out_dir: str, sizes: dict) -> None:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_li = sizes["orders"], sizes["lineitem"]

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "PROMO", "STANDARD"][t]
                   for t in rng.integers(0, 3, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": _ts(order_days),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    li_order = np.sort(rng.integers(0, n_ord, n_li))
    # line numbers restart at 1 within each order
    starts = np.r_[0, np.flatnonzero(np.diff(li_order)) + 1]
    linenumber = np.arange(n_li) - np.repeat(starts, np.diff(np.r_[starts, n_li])) + 1
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [["A", "N", "R"][f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][s] for s in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(order_days[li_order] + rng.integers(1, 122, n_li)),
    })

    n_ev = sizes["events"]
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, sizes["event_users"], n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 100, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = sizes["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i and rng.random() < sizes["near_duplicate_share"]:
            # a near-duplicate: an earlier document with one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 90))]
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[x] for x in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_emb, dim = sizes["embeddings"], sizes["embedding_dim"]
    vecs = rng.normal(0, 0.1, (n_emb, dim)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
