"""Seeded synthetic inputs for the benchmark.

`write_tables` writes the star-schema tables the registered queries read
(one parquet file per table, the layout `tinymr_spark.sources.load_table`
expects) with the column domains of the repository's fixtures
(FIXTURES.md, section B).  `zipf_lines` makes the word corpus the
MapReduce workload counts.  The same seed always gives the same bytes.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window big small order data column join customer query filter "
    "stream group vector"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["ring", "widget", "bolt", "nut", "gear", "pipe", "valve", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

_DAY_US = 86_400 * 1_000_000


def _days(rng, n, start: str, span_days: int) -> pa.Array:
    base = int(datetime.fromisoformat(start).timestamp()) * 1_000_000
    us = base + rng.integers(0, span_days, n, dtype=np.int64) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table at scale factor `sf` (lineitem has 6M * sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = n_vec = max(500, int(50_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2498),
    })
    start = int(datetime.fromisoformat("2024-01-01").timestamp()) * 1_000_000
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n_ev, dtype=np.int64))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 80))) for _ in range(n_doc)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def zipf_lines(seed: int, n_lines: int, words_per_line: int, vocab: int) -> list[str]:
    """A corpus whose word frequencies follow Zipf's law (exponent 1.2),
    so a few keys are hot and most are rare, as in real text."""
    rng = np.random.default_rng(seed)
    ids = rng.zipf(1.2, n_lines * words_per_line) % vocab
    words = np.array([f"w{i}" for i in range(vocab)])[ids].reshape(n_lines, words_per_line)
    return [" ".join(row) for row in words]
