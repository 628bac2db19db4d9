"""Seeded input generation for the benchmark.

Every seed yields tables with the same shapes (row counts, distinct
dates, near-duplicate share, vector dimension) and different values,
so runs with different seeds measure the same amount of work. Tables
follow the schema of the repository's fixture set (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), written as one parquet file each.

Order keys are issued in date order, as a shop issues them; the cdc
workload's recent-date skew therefore lands on a narrow key range,
which is what file pruning in MERGE exploits.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input properties each layer's cost depends on. Fixed across seeds.
SHAPE = {
    "customers": 1500,
    "parts": 2000,
    "suppliers": 100,
    "orders": 15000,
    "lines_per_order": [1, 7],  # uniform multiset, 4 on average
    "order_days": 48,  # distinct order dates = partitions per date-partitioned table
    "events": 20000,
    "event_days": 30,
    "documents": 1000,
    "near_dup_share": 0.10,
    "vocab": 3000,
    "embeddings": 1000,
    "dim": 64,
    "near_dup_vectors_share": 0.10,
}

ORDER_START = dt.date(1996, 1, 1)
EVENT_START = dt.date(2024, 1, 1)
_EPOCH = dt.date(1970, 1, 1)
_US_PER_DAY = 86_400 * 1_000_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
ADJ = ["red", "cold", "small", "big", "fast", "blue", "dark", "light"]
NOUNS = ["widget", "ring", "bolt", "gear", "valve", "spring", "panel", "cable"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "fr", "es", "zh", "de"]


def _day_us(start: dt.date, days: np.ndarray) -> np.ndarray:
    return ((start - _EPOCH).days + days.astype(np.int64)) * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dims(rng: np.random.Generator) -> dict[str, pa.Table]:
    nc, npart, ns = SHAPE["customers"], SHAPE["parts"], SHAPE["suppliers"]
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{ADJ[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(npart) * 0.1, 2),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part}


def _facts(rng: np.random.Generator) -> dict[str, pa.Table]:
    no, days = SHAPE["orders"], SHAPE["order_days"]
    # every date gets orders (same partition count for every seed);
    # keys ascend with the date
    order_day = np.sort(np.concatenate([
        np.arange(days), rng.integers(0, days, no - days)
    ]))
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SHAPE["customers"], no), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_day_us(ORDER_START, order_day)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    lo, hi = SHAPE["lines_per_order"]
    per_order = rng.permutation(np.resize(np.arange(lo, hi + 1), no))
    nl = int(per_order.sum())
    l_order = np.repeat(np.arange(no), per_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in per_order])
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, SHAPE["parts"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SHAPE["suppliers"], nl), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_day_us(ORDER_START, order_day[l_order] + rng.integers(1, 30, nl))),
    })
    ne, edays = SHAPE["events"], SHAPE["event_days"]
    ev_us = np.sort(
        (EVENT_START - _EPOCH).days * _US_PER_DAY
        + np.concatenate([
            np.arange(edays) * _US_PER_DAY,  # every day has events
            rng.integers(0, edays * _US_PER_DAY, ne - edays),
        ])
    )
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ev_us),
        "user_id": pa.array(rng.integers(0, SHAPE["customers"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    return {"orders": orders, "lineitem": lineitem, "events": events}


def _documents(rng: np.random.Generator) -> pa.Table:
    n, vocab = SHAPE["documents"], SHAPE["vocab"]
    n_dup = int(round(n * SHAPE["near_dup_share"]))
    # Zipf-like word frequencies over a fixed vocabulary
    p = 1.0 / np.arange(1, vocab + 1) ** 0.8
    p /= p.sum()
    texts: list[list[str]] = []
    for _ in range(n - n_dup):
        k = int(rng.integers(30, 120))
        texts.append([f"w{i}" for i in rng.choice(vocab, k, p=p)])
    for _ in range(n_dup):
        # a near-duplicate: a copy of an original with a few replaced
        # tokens and one swapped neighbour pair
        toks = list(texts[int(rng.integers(0, n - n_dup))])
        for j in rng.integers(0, len(toks), 2):
            toks[j] = f"w{int(rng.choice(vocab, p=p))}"
        j = int(rng.integers(0, len(toks) - 1))
        toks[j], toks[j + 1] = toks[j + 1], toks[j]
        texts.append(toks)
    order = rng.permutation(n)  # originals and copies interleave in id order
    text = [" ".join(texts[i]) for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": text,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n, dim = SHAPE["embeddings"], SHAPE["dim"]
    n_dup = int(round(n * SHAPE["near_dup_vectors_share"]))
    base = rng.standard_normal((n - n_dup, dim))
    src = base[rng.integers(0, n - n_dup, n_dup)]
    vecs = np.concatenate([base, src + 0.3 * rng.standard_normal((n_dup, dim))])
    vecs = vecs[rng.permutation(n)]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str, seed: int) -> dict:
    """Write every table for ``seed`` under ``out_dir`` (once; later
    calls reuse the directory) and return the input properties."""
    props_path = os.path.join(out_dir, "properties.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            return json.load(f)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng([seed, 0x6C616B65])
    tables = {**_dims(rng), **_facts(rng),
              "documents": _documents(rng), "embeddings": _embeddings(rng)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    props = {
        "seed": seed,
        "rows": {name: t.num_rows for name, t in tables.items()},
        "distinct_order_dates": SHAPE["order_days"],
        "distinct_event_dates": SHAPE["event_days"],
        "near_dup_share": SHAPE["near_dup_share"],
        "near_dup_vectors_share": SHAPE["near_dup_vectors_share"],
        "input_bytes": sum(
            os.path.getsize(os.path.join(tmp, f)) for f in os.listdir(tmp)
        ),
    }
    with open(os.path.join(tmp, "properties.json"), "w") as f:
        json.dump(props, f)
    os.replace(tmp, out_dir)
    return props
