"""Seeded generators for the benchmark's inputs.

Everything the program sees is made here from ``--seed``: the ten star
schema tables the package reads through ``tables.table``, with the same
names, columns and parquet types as the fixtures in TESTDATA.md. NumPy and
pyarrow only, so input generation never runs on the engine under test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_EPOCH = np.datetime64("1996-01-01")  # tpch_q5 reads calendar 1996
EVENT_EPOCH = np.datetime64("2024-01-01")

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "red", "green", "small", "large", "shiny", "dull", "steel")
PART_NOUN = ("anvil", "bolt", "ring", "widget", "gear", "spring", "valve", "nut")
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.44, 0.13, 0.15, 0.14, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@dataclass(frozen=True)
class Shape:
    """Table sizes and the span of order dates. The defaults are every
    sf0.1 table (TESTDATA.md) scaled by 0.05; 120 order dates keep sf0.1's
    density, whose 150 000 orders span 2 405 dates (62 a date)."""

    customers: int = 750
    suppliers: int = 50
    parts: int = 1000
    orders: int = 7500  # ~30 000 line items
    order_days: int = 120
    events: int = 5000
    documents: int = 250
    embeddings: int = 100


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, shape: Shape) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = shape.customers
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
        }
    )
    ns = shape.suppliers
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2)),
        }
    )
    npart = shape.parts
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart)
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
            "p_type": pa.array(rng.choice(PART_TYPES, npart)),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)
            ),
        }
    )

    no = shape.orders
    order_day = ORDER_EPOCH + rng.integers(0, shape.order_days, no).astype(
        "timedelta64[D]"
    )
    n_lines = rng.integers(1, 8, no)
    l_order = np.repeat(np.arange(no), n_lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in n_lines])
    nl = len(l_order)
    l_part = rng.integers(0, npart, nl)
    l_qty = rng.integers(1, 51, nl).astype(float)
    l_price = np.round(l_qty * (900 + (l_part % 1000) * 0.1) * rng.uniform(0.9, 1.1, nl), 2)
    l_disc = rng.integers(0, 11, nl) / 100.0
    l_tax = rng.integers(0, 9, nl) / 100.0
    totals = np.bincount(l_order, weights=l_price * (1 + l_tax) * (1 - l_disc), minlength=no)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no)),
            "o_totalprice": pa.array(np.round(totals, 2)),
            "o_orderdate": _ts(order_day),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
        }
    )
    ship = order_day[l_order] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(l_num, pa.int32()),
            "l_quantity": pa.array(l_qty),
            "l_extendedprice": pa.array(l_price),
            "l_discount": pa.array(l_disc),
            "l_tax": pa.array(l_tax),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl)),
            "l_linestatus": pa.array(rng.choice(("F", "O"), nl)),
            "l_shipdate": _ts(ship),
        }
    )

    ne = shape.events
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts(EVENT_EPOCH + ev_us.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
            "value": pa.array(np.round(rng.lognormal(2.5, 1.0, ne), 2).clip(0.01, 490)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )

    nd = shape.documents
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:  # near duplicate: one token changed
            toks = texts[rng.integers(0, i)].split()
            toks[rng.integers(0, len(toks))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(words, rng.integers(10, 101))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(nd)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )

    nv = shape.embeddings
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(scale=0.6, size=(nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs.astype(np.float32)], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, tbl in t.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in t.items()}


def order_dates(shape: Shape) -> list[str]:
    """Every calendar date the orders table can hold, as yyyy-MM-dd."""
    return [
        str(ORDER_EPOCH + np.timedelta64(d, "D")) for d in range(shape.order_days)
    ]

