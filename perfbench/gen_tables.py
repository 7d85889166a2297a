"""Deterministic star-schema tables for the gate-query workload.

The gate queries in ``__spark_entry__.queries()`` read ten parquet
tables (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings; see TESTDATA.md).  This module writes
tables with the same names, column names, types and value domains from
a seed, scaled by ``sf`` the way TESTDATA.md scales them (lineitem has
about 6,000,000 x sf rows).  The same seed and sf always give the same
tables.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "anvil", "plate", "ring", "rod", "bolt", "gear", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a the data row column table key value hash join sort scan merge agg "
    "group filter window batch stream spark query order line part customer "
    "vector small big fast slow"
).split()
EMBED_DIM = 64
N_LABELS = 10


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols, schema=schema), path)
    return os.path.getsize(path)


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write the ten tables under ``out_dir``; returns the bytes written."""
    rng = random.Random(f"tables:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_orders = max(int(1_500_000 * sf), 500)
    n_events = max(int(1_000_000 * sf), 1000)
    n_docs = 500
    size = 0

    size += _write(out_dir, "region", {
        "r_regionkey": list(range(5)), "r_name": REGIONS,
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    size += _write(out_dir, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([
        ("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32()),
    ]))
    size += _write(out_dir, "customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
    }, pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string()),
    ]))
    size += _write(out_dir, "supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n_supp)],
    }, pa.schema([
        ("s_suppkey", pa.int64()), ("s_name", pa.string()),
        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
    ]))
    size += _write(out_dir, "part", {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
        "p_size": [rng.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n_part)],
    }, pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ]))

    day0 = dt.datetime(1995, 1, 1)
    order_dates = [day0 + dt.timedelta(days=rng.randrange(2400)) for _ in range(n_orders)]
    size += _write(out_dir, "orders", {
        "o_orderkey": list(range(n_orders)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_orders)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [_money(rng, 1000.0, 500000.0) for _ in range(n_orders)],
        "o_orderdate": order_dates,
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_orders)],
    }, pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]))

    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    )}
    for _ in range(n_orders * 4):
        ok = rng.randrange(n_orders)
        qty = float(rng.randint(1, 50))
        li["l_orderkey"].append(ok)
        li["l_partkey"].append(rng.randrange(n_part))
        li["l_suppkey"].append(rng.randrange(n_supp))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rng.uniform(900.0, 2100.0), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(order_dates[ok] + dt.timedelta(days=rng.randint(1, 120)))
    size += _write(out_dir, "lineitem", li, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us")),
    ]))

    t0 = dt.datetime(2024, 1, 1)
    offsets = sorted(rng.randrange(30 * 86400 * 10**6) for _ in range(n_events))
    size += _write(out_dir, "events", {
        "event_id": list(range(n_events)),
        "ts": [t0 + dt.timedelta(microseconds=o) for o in offsets],
        "user_id": [rng.randrange(max(n_cust // 10, 15)) for _ in range(n_events)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [_money(rng, 0.01, 500.0) for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    }, pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ]))

    texts = []
    for i in range(n_docs):
        if i % 10 == 9:  # near-duplicates give the dedup operators work
            words = texts[rng.randrange(len(texts))].split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(8, 100))]
        texts.append(" ".join(words))
    size += _write(out_dir, "documents", {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]))

    centers = [[rng.gauss(0.0, 0.15) for _ in range(EMBED_DIM)] for _ in range(N_LABELS)]
    labels = [rng.randrange(N_LABELS) for _ in range(n_docs)]
    size += _write(out_dir, "embeddings", {
        "vec_id": list(range(n_docs)),
        "embedding": [[c + rng.gauss(0.0, 0.05) for c in centers[lb]] for lb in labels],
        "label": labels,
    }, pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ]))
    return size
