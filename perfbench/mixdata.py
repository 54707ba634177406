"""Seeded tables for the ``analytics_mix`` workload.

The registered queries read the TPC-H-ish star schema of TESTDATA.md plus
``events``, ``documents`` and ``embeddings`` (``sources/tables.TABLES``).
This module writes the same schemas, with the same value domains, from
a seed, so the benchmark needs no data outside its checkout. Row counts
follow the 0.01 scale factor of that test data.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DIM = 64


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _day(rng: random.Random, start: dt.datetime, days: int) -> dt.datetime:
    return start + dt.timedelta(days=rng.randrange(days))


def tables(seed: int, sf: float = 0.01) -> dict[str, pa.Table]:
    rng = random.Random(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_vecs = 500, 500

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(
                [rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(
                [rng.randrange(25) for _ in range(n_supp)], pa.int32()),
            "s_acctbal": [_money(rng, -999.99, 9999.99) for _ in range(n_supp)],
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [
                f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}"
                for _ in range(n_part)
            ],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [rng.choice(_PART_TYPES) for _ in range(n_part)],
            "p_size": pa.array(
                [rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
            "p_retailprice": [
                round(900 + (i % 1000) / 10, 2) for i in range(n_part)
            ],
        }),
    }

    order_day0 = dt.datetime(1995, 1, 1)
    orders = {k: [] for k in (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")}
    items = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        day = _day(rng, order_day0, 2404)
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(rng.randrange(n_cust))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(_money(rng, 1000, 500_000))
        orders["o_orderdate"].append(day)
        orders["o_orderpriority"].append(rng.choice(_PRIORITIES))
        for line in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            items["l_orderkey"].append(o)
            items["l_partkey"].append(rng.randrange(n_part))
            items["l_suppkey"].append(rng.randrange(n_supp))
            items["l_linenumber"].append(line)
            items["l_quantity"].append(qty)
            items["l_extendedprice"].append(
                round(qty * _money(rng, 900, 2100), 2))
            items["l_discount"].append(rng.randint(0, 10) / 100)
            items["l_tax"].append(rng.randint(0, 8) / 100)
            items["l_returnflag"].append(rng.choice("ANR"))
            items["l_linestatus"].append(rng.choice("FO"))
            items["l_shipdate"].append(
                day + dt.timedelta(days=rng.randint(1, 121)))
    ts_type = pa.timestamp("us")
    orders["o_orderdate"] = pa.array(orders["o_orderdate"], ts_type)
    items["l_shipdate"] = pa.array(items["l_shipdate"], ts_type)
    items["l_linenumber"] = pa.array(items["l_linenumber"], pa.int32())
    out["orders"] = pa.table(orders)
    out["lineitem"] = pa.table(items)

    # Events: ids in time order, about one every 4 minutes over January.
    t = dt.datetime(2024, 1, 1)
    ev_ts = []
    for _ in range(n_events):
        t += dt.timedelta(microseconds=rng.randrange(1, 518_400_000))
        ev_ts.append(t)
    out["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ev_ts, ts_type),
        "user_id": pa.array(
            [rng.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_events)],
        "value": [_money(rng, 0.01, 490) for _ in range(n_events)],
        "props": [
            json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)
        ],
    })

    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.1:
            # A near-duplicate of an earlier document: one word swapped.
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = "dup"
        else:
            words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(8, 100))]
        texts.append(" ".join(words))
    # Near-duplicates can repeat an earlier text exactly; keep texts
    # distinct like the test data by numbering any repeat.
    seen: set[str] = set()
    for i, text in enumerate(texts):
        if text in seen:
            texts[i] = f"{text} {i}"
        seen.add(texts[i])
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })

    centers = [[rng.gauss(0, 1) for _ in range(_DIM)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.8) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write(directory: str, seed: int, sf: float = 0.01) -> None:
    """One ``<table>.parquet`` file per table, like the test data."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
