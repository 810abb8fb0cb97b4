"""Seeded input tables for the ``queries`` workload.

The query plans read ``{dir}/{table}.parquet``. These tables copy the
schemas and value domains of the repository's TPC-H-ish test data
(documents over a 30-word vocabulary with 5% near-duplicates and a few
exact duplicates, 64-d labelled unit embeddings, five uniform event
types, TPC-H order/lineitem domains) at a size that fits one benchmark
run. The same seed always writes the same tables; the seed changes
values, never row counts.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings")

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def _documents(rng, n):
    """Every 20th document is a near-duplicate of an earlier one (its
    last word dropped, a marker appended) and every 500th an exact
    duplicate. The duplicate positions do not depend on the seed, so
    the near-duplicate graph, and with it the number of connected
    components iterations, has the same shape for every seed."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 7:
            src = texts[(i * 7919) % i].rsplit(" ", 1)[0]
            texts.append(src + " dup")
        elif i >= 500 and i % 500 == 13:
            texts.append(texts[(i * 104729) % i])
        else:
            k = 10 + (i * 37) % 91
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n).astype(np.int32)
    centers = rng.normal(size=(labels, dim))
    v = rng.normal(size=(n, dim)) + 0.22 * centers[label]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v.astype(np.float32)),
        "label": label,
    })


def make_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """``scale`` 0.01 gives the row counts of the sf0.01 test data."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_ev = max(500, int(1_000_000 * scale))
    n_doc = max(100, int(50_000 * scale))
    n_emb = max(100, int(50_000 * scale))
    n_users = max(20, int(15_000 * scale))
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    per_order = 1 + (np.arange(n_ord) * 5) % 7
    n_li = int(per_order.sum())
    li_order = np.repeat(orders["o_orderkey"].to_numpy(), per_order)
    li_num = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": li_order,
        "l_partkey": rng.integers(0, max(100, int(200_000 * scale)), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * scale)), n_li).astype(np.int64),
        "l_linenumber": li_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2500),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "orders": orders, "lineitem": lineitem, "events": events,
        "documents": _documents(rng, n_doc), "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed, scale).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
