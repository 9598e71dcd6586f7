"""Seeded generator for the analytics corpus.

Writes the ten tables that ``brooklin_spark.io.TABLES`` names, with the
column names, types and value ranges of the engine's synthetic test corpus
(a TPC-H-like star schema plus events, documents and embeddings), at about
the size of its sf0.01 scale. The same seed gives byte-identical tables, so
every run of a seed measures the same inputs and DuckDB checks the same
answers.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (the sf0.01 shape: 4 lineitems per order, 10 orders per
#: customer)
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "cold", "green", "hot", "red", "small", "tiny"]
PART_NOUN = ["bolt", "gear", "nut", "pipe", "ring", "screw", "valve", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
WORDS = (
    "a the key order sort table scan merge part window small big fast slow "
    "value row line data column agg join hash group filter query batch "
    "stream spark vector customer"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _day_us(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH) // dt.timedelta(microseconds=1)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    names = rng.choice(PART_ADJ, n["part"]).astype(object) + " " + rng.choice(
        PART_NOUN, n["part"]
    ).astype(object)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": list(names),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
    })
    order_day0 = _day_us(1995, 1, 1)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _ts(order_day0 + rng.integers(0, 2404, n["orders"]) * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    li = n["lineitem"]
    ship_day0 = _day_us(1995, 1, 2)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": _money(rng, 0.0, 0.1, li),
        "l_tax": _money(rng, 0.0, 0.08, li),
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(ship_day0 + rng.integers(0, 2499, li) * _DAY_US),
    })
    ev = n["events"]
    ev_ts = _day_us(2024, 1, 1) + rng.integers(0, 30 * _DAY_US, ev)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 150, ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ev),
        "value": _money(rng, 0.01, 490.0, ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.08, (10, EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (nv, EMBED_DIM))).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word salad with about one document in ten a near duplicate
    of an earlier one (one word replaced), so the dedup queries find
    clusters."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 92))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_corpus(out_dir: str, seed: int) -> str:
    """Generate every table for ``seed`` as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, tbl in _tables(rng).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
