"""Seeded input tables for the corpus_queries workload.

Writes the five tables the benchmark's queries read (documents, embeddings,
events, lineitem, orders) as one parquet file each, with the column names
and types ``plans.queries`` and its DuckDB oracle SQL expect. Every value is
drawn from ``numpy.random.default_rng(seed)``, so one seed gives the same
files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order filter group "
    "big stream vector"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# rows per table; documents and embeddings carry the pair operators, the
# rest the small relational leaves
SIZES = {"documents": 500, "embeddings": 500, "events": 4000, "orders": 3000, "lineitem": 12000}
EMBED_DIM, EMBED_CLUSTERS = 64, 10


def _documents(rng, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # a near duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, size=int(rng.integers(10, 100)))))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pd.DataFrame:
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, EMBED_CLUSTERS, n).astype(np.int32)
    vecs = centers[label] + rng.normal(0.0, 2.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": label,
    })


def _events(rng, n: int) -> pd.DataFrame:
    gaps = rng.exponential(30 * 86400 / n, n)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n),
        "value": np.round(rng.uniform(0.0, 20.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _days(rng, n: int, start: str, span: int):
    return (pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span, n), unit="D")).astype("datetime64[us]")


def _orders(rng, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n // 10, n).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], size=n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _days(rng, n, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(PRIORITIES, size=n),
    })


def _lineitem(rng, n: int, n_orders: int) -> pd.DataFrame:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n),
        "l_linestatus": rng.choice(["O", "F"], size=n),
        "l_shipdate": _days(rng, n, "1995-01-02", 2498),
    })


def write_tables(out_dir: str, seed: int, sizes: dict | None = None) -> None:
    """Write ``<out_dir>/<table>.parquet`` for the five tables."""
    sz = {**SIZES, **(sizes or {})}
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    frames = {
        "documents": _documents(rng, sz["documents"]),
        "embeddings": _embeddings(rng, sz["embeddings"]),
        "events": _events(rng, sz["events"]),
        "orders": _orders(rng, sz["orders"]),
        "lineitem": _lineitem(rng, sz["lineitem"], sz["orders"]),
    }
    for name, df in frames.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
