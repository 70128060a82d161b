"""Deterministic input tables for the benchmark.

Writes the tables the package reads (``region nation customer supplier part
orders lineitem events documents embeddings``), one parquet file each, with
the column names and types of the package's test data.  The tables are
fixed: they come from a constant generator seed, so every run and every
``--seed`` sees the same data; the run's seed only picks the order of
operations.

``SCALE`` = 1.0 gives 60,000 line items, 15,000 orders, 1,500 customers and
2,000 parts: the cardinalities of the package's sf0.01 test data.  Orders
come from all customers and line items name all parts, uniformly, so the
ratings view is as sparse as there: about 60,000 ratings by 1,500 users of
2,000 items, 40 per user and 30 per item, nearly every (user, item) pair
rated at most once.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
SCALE = 1.0
#: bump when the generated data changes, so a cached copy is rebuilt
VERSION = 3

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _write(out: str, name: str, df: pd.DataFrame, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, f"{out}/{name}.parquet")


def _ts(base: str, seconds: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "us") + (seconds * 1e6).astype("int64")).astype(
        "datetime64[us]"
    )


def generate(out: str) -> None:
    """Write every table under ``out``."""
    rng = np.random.default_rng(GEN_SEED)
    n_cust = int(1500 * SCALE)
    n_part = int(2000 * SCALE)
    n_supp = max(10, int(100 * SCALE))
    n_orders = int(15000 * SCALE)
    n_items = int(60000 * SCALE)
    n_events = int(10000 * SCALE)
    n_docs = int(1000 * SCALE)
    os.makedirs(out, exist_ok=True)

    _write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    }))
    _write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }))
    _write(out, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }))
    adjectives = ["red", "blue", "small", "large", "hot", "old", "green", "shiny"]
    nouns = ["widget", "bolt", "gear", "ring", "plate", "rod", "nut", "pipe"]
    _write(out, "part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }))
    # The ratings view derives rating = 1 + floor(l_quantity) % 5 for the
    # pair (o_custkey, l_partkey).  The quantity encodes a planted bias +
    # factor model, so the ratings have structure a model can learn.
    custkey = rng.integers(0, n_cust, n_orders)
    orderkey = rng.integers(0, n_orders, n_items)
    partkey = rng.integers(0, n_part, n_items)
    bu, bi = rng.normal(0, 0.5, n_cust), rng.normal(0, 0.5, n_part)
    P, Q = rng.normal(0, 0.4, (n_cust, 4)), rng.normal(0, 0.4, (n_part, 4))
    u = custkey[orderkey]
    planted = 3 + bu[u] + bi[partkey] + np.einsum("ij,ij->i", P[u], Q[partkey])
    rating = np.clip(np.round(planted + rng.normal(0, 0.4, n_items)), 1, 5)
    qty = (5 * rng.integers(1, 10, n_items) + rating - 1).astype("float64")
    _write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": custkey.astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, n_orders) * 86400.0),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    }))
    _write(out, "lineitem", pd.DataFrame({
        "l_orderkey": orderkey.astype("int64"),
        "l_partkey": partkey.astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_items).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_items).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_items), 2),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_items),
        "l_linestatus": rng.choice(["F", "O"], n_items),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_items) * 86400.0),
    }))
    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    _write(out, "events", pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_events).astype("int64"),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(rng.exponential(50, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }))

    # documents: ~10% near-duplicates (a few tokens changed) and ~2% exact
    # copies of an earlier document, so every dedup path finds work
    texts: list[str] = []
    for d in range(n_docs):
        roll = rng.random()
        if d > 10 and roll < 0.02:
            texts.append(texts[int(rng.integers(0, d))])
        elif d > 10 and roll < 0.12:
            toks = texts[int(rng.integers(0, d))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = str(rng.choice(_WORDS))
            texts.append(" ".join(toks + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    _write(out, "documents", pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }))

    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.3, (n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(
        out,
        "embeddings",
        pd.DataFrame({
            "vec_id": np.arange(n_docs, dtype="int64"),
            "embedding": list(vecs),
            "label": labels.astype("int32"),
        }),
        pa.schema([
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
    )


def ensure(root: str) -> str:
    """Return the directory holding the tables, generating them on first
    use.  Written to a temporary name and renamed, so an interrupted run
    never leaves a half-written copy behind."""
    out = f"{root}/data-v{VERSION}-s{SCALE}"
    if not os.path.exists(f"{out}/_DONE"):
        import shutil

        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate(tmp)
        open(f"{tmp}/_DONE", "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def ratings_arrays(data_dir: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(user, item, rating) of the ratings view, derived in numpy the way
    ``data.ratings`` derives it, for the single-thread baseline epoch."""
    li = pq.read_table(f"{data_dir}/lineitem.parquet",
                       columns=["l_orderkey", "l_partkey", "l_quantity"]).to_pandas()
    od = pq.read_table(f"{data_dir}/orders.parquet",
                       columns=["o_orderkey", "o_custkey"]).to_pandas()
    r = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
    rating = (1 + np.floor(r.l_quantity.to_numpy()).astype("int64") % 5).astype("float64")
    return r.o_custkey.to_numpy(), r.l_partkey.to_numpy(), rating
