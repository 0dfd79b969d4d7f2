"""Seeded generator for the tables the analytics leaves read.

The benchmark runs from a bare checkout, so it cannot read an external
testdata directory: it writes its own star-schema tables here. Column names,
types and value ranges follow the TPC-H-style testdata the registry was built
against (one parquet file per table, one row group, snappy), with row counts
scaled by ``sf`` the same way (sf0.1 = 600k lineitem rows).

Only the seven tables the 16 benchmark leaves read are written.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["red", "blue", "large", "small", "hot", "old", "green", "shiny"]
_NOUN = ["ring", "bolt", "plate", "gear", "pipe", "nut", "valve", "screw"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=1 << 30, compression="snappy")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write lineitem, orders, customer, part, events, documents and
    embeddings under ``out_dir`` as ``<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_li = max(600, int(6_000_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_cust = max(50, int(150_000 * sf))
    n_part = max(64, int(200_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    # the testdata keeps at least 500 documents and 500 embeddings
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, len(_PTYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995
                           + rng.integers(0, 2405, n_ord) * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * sf)), n_li,
                                  dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_li))
                          * _DAY_US),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ev_ts),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })

    # documents, shaped like the registry testdata (measured there at sf0.001,
    # sf0.01 and sf0.1): uniform bags of the 30-word vocabulary, 10-99 words
    # each; then 5% of the positions, drawn without replacement, are
    # overwritten in turn by a copy of a random other document plus " dup",
    # so a copy's source may itself be a copy or be overwritten later, and two
    # copies of one source are exact duplicates (8 pairs in the 5,000-document
    # testdata corpus, as the birthday bound predicts)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(k))])
             for k in rng.integers(10, 100, n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })
    return {"lineitem": n_li, "orders": n_ord, "customer": n_cust,
            "part": n_part, "events": n_ev, "documents": n_docs,
            "embeddings": n_emb}
