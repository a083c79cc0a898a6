"""Deterministic synthetic corpus with the schemas of the library's
source tables (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings).

The shapes follow the star schema the library reads: dense integer
keys, money columns with two decimals (the catalog's cross-engine sums
depend on that), daily-grain ship and order dates, a time-ordered event
stream, documents over a small vocabulary with a share of
near-duplicates, and unit-norm embeddings around ten cluster centroids.
Row counts scale with `scale` the way the TPC-H-style tables do
(scale 0.01: 60k lineitems, 15k orders, 2k parts).

The corpus is a fixed function of `scale` and `CORPUS_SEED`; the
benchmark's `--seed` picks windows, days and orders over it.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
VERSION = 1

SHIP_FIRST = dt.date(1995, 1, 2)
SHIP_LAST = dt.date(2001, 11, 4)
ORDER_FIRST = dt.date(1995, 1, 1)
ORDER_LAST = dt.date(2001, 8, 1)
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
N_CLUSTERS = 10


def _days(rng, n, first: dt.date, last: dt.date) -> np.ndarray:
    """Uniform daily-grain timestamps in [first, last] (microseconds)."""
    span = (last - first).days + 1
    day = np.datetime64(first, "D") + rng.integers(0, span, n)
    return day.astype("datetime64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: same words with a
            # marker token appended, and sometimes one word dropped
            words = texts[int(rng.integers(0, i))].split()
            if len(words) > 12 and rng.random() < 0.5:
                del words[int(rng.integers(0, len(words)))]
            words.append("dup")
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centroids = rng.normal(size=(N_CLUSTERS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, N_CLUSTERS, n)
    x = centroids[label] + rng.normal(scale=0.9, size=(n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * scale))
    n_doc = max(50, int(50_000 * scale))
    n_vec = max(200, int(50_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(rng.choice(names, n_part), pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)
            ),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
            "o_orderdate": pa.array(_days(rng, n_ord, ORDER_FIRST, ORDER_LAST)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
            "l_shipdate": pa.array(_days(rng, n_line, SHIP_FIRST, SHIP_LAST)),
        }
    )
    gaps = rng.exponential(EVENTS_SPAN_S / n_ev, n_ev)
    ts_us = np.cumsum(gaps * 1e6).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(
                np.datetime64(EVENTS_START, "us") + ts_us.astype("timedelta64[us]")
            ),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2))),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def ensure(cache_root: str, scale: float) -> str:
    """Directory holding `<table>.parquet` for `scale`, generated once
    per checkout and reused by later runs (written to a temporary
    sibling and renamed, so an interrupted run never leaves a partial
    corpus behind)."""
    final = os.path.join(cache_root, f"corpus-v{VERSION}-s{scale:g}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return final
