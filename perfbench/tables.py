"""Seeded TPC-H-shaped tables for the registry queries.

The registry queries read ten parquet tables by name from one directory:
the TPC-H star (region … lineitem) plus ``events``, ``documents`` and
``embeddings``.  This module writes all ten from a seed, with the schemas,
key ranges and value distributions of the standard test data, scaled
linearly by ``sf`` (sf 0.01 ≈ 60k lineitem rows).
"""

from __future__ import annotations

import datetime as dt
import os

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("cold", "small", "big", "red", "blue", "fast", "quiet", "bright")
_NOUN = ("widget", "gadget", "bolt", "gear", "lamp", "valve", "panel", "cable")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "en", "es", "fr", "zh", "de")
_VOCAB = (
    "a the data spark query row column table join sort merge filter group "
    "hash scan window batch stream line part order customer key value agg "
    "vector small big fast slow dup"
).split()


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables as ``<out_dir>/<name>.parquet``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: dt.datetime, span: int, n: int):
        d = rng.integers(0, span, n)
        return pa.array(
            [start + dt.timedelta(days=int(x)) for x in d], pa.timestamp("us")
        )

    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_vec = max(50, int(50_000 * sf))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": money(1000, 400_000, n_ord),
        "o_orderdate": days(dt.datetime(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    qty = rng.integers(1, 51, n_line).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_line).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_line).tolist(),
        "l_shipdate": days(dt.datetime(1995, 1, 2), 2498, n_line),
    })
    t0 = dt.datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    put("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(
            [t0 + dt.timedelta(microseconds=int(s * 1e6)) for s in secs],
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 15, n_ev)),
        "event_type": rng.choice(_EVENTS, n_ev).tolist(),
        "value": money(0.01, 330, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 90))).tolist()
        texts.append(" ".join(words))
    put("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] + rng.normal(0, 0.5, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(
            vecs.astype(np.float32).tolist(), pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
