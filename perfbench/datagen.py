"""Seeded input generation for the benchmark.

Every table is synthesized from ``--seed`` with NumPy and written with
PyArrow under the benchmark's work directory; nothing is read from outside
the checkout.  The same ``(seed, scale)`` always produces byte-identical
tables.  ``scale`` follows the TPC-H convention: 0.1 gives a 600k-row
``lineitem``, 0.001 gives 6k rows (the benchmark's own tests use that).

Schemas match the star schema the package's queries are written against
(``lineitem``/``orders``/``customer``, ``documents``, ``embeddings``), so
registry operators and BuzzQuery JSON run unchanged on the generated files.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_MONTH = (1995, 1)
N_MONTHS = 83  # 1995-01 .. 2001-11
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_SYLLABLES = "ka lo mi nu pe ra si to vu za be co di fa gu ho ji ke".split()
VOCAB = [a + b for a in _SYLLABLES for b in _SYLLABLES]  # 324 words
LANGS = ["en", "de", "fr", "es", "zh"]
DELTA_REGIONS = ["africa", "america", "asia", "europe", "oceania", "polar"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so adding a table never shifts
    another table's values for the same seed."""
    return np.random.default_rng([seed, sum(ord(c) * 31**i for i, c in enumerate(stream)) % 2**32])


def month_label(i: int) -> str:
    y, m = divmod(FIRST_MONTH[1] - 1 + i, 12)
    return f"{FIRST_MONTH[0] + y:04d}-{m + 1:02d}"


def _month_start(i: int) -> dt.datetime:
    y, m = divmod(FIRST_MONTH[1] - 1 + i, 12)
    return dt.datetime(FIRST_MONTH[0] + y, m + 1, 1)


def sizes(scale: float) -> dict[str, int]:
    return {
        "lineitem": max(int(6_000_000 * scale), N_MONTHS * 4),
        "orders": max(int(1_500_000 * scale), 100),
        "customer": max(int(150_000 * scale), 20),
        "documents": max(int(50_000 * scale), 60),
        "embeddings": max(int(20_000 * scale), 40),
    }


def lineitem_table(seed: int, n: int, n_orders: int) -> pa.Table:
    r = rng_for(seed, "lineitem")
    # orders are numbered in date order and ship within a month of ordering
    # (as in TPC-H), so each monthly file holds a narrow l_orderkey range and
    # zone maps on l_orderkey can skip files
    orderkey = r.integers(0, n_orders, n)
    month = np.minimum(orderkey * N_MONTHS // n_orders + r.integers(0, 2, n), N_MONTHS - 1)
    day = r.integers(0, 28, n)
    starts = np.array([_month_start(i) for i in range(N_MONTHS)], dtype="datetime64[us]")
    shipdate = starts[month] + (day * 86_400_000_000).astype("timedelta64[us]")
    qty = r.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * r.uniform(900.0, 2100.0, n), 2)
    return pa.table(
        {
            "l_orderkey": pa.array(orderkey, pa.int64()),
            "l_partkey": pa.array(r.integers(0, max(n // 30, 10), n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, max(n // 600, 10), n), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[r.integers(0, 2, n)]),
            "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
        }
    )


def orders_table(seed: int, n: int, n_customers: int) -> pa.Table:
    r = rng_for(seed, "orders")
    days = np.arange(n) * (N_MONTHS * 30) // n
    date = np.datetime64("1995-01-01", "us") + (days * 86_400_000_000).astype("timedelta64[us]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_customers, n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[r.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(r.uniform(900.0, 450_000.0, n), 2)),
            "o_orderdate": pa.array(date, pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n)]),
        }
    )


def customer_table(seed: int, n: int) -> pa.Table:
    r = rng_for(seed, "customer")
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n)]),
        }
    )


def documents_table(seed: int, n: int) -> pa.Table:
    """Word-salad documents (gently Zipf-weighted words) plus ~2% near-duplicates.

    A near-duplicate is a copy of a long (>= 40 token) document with one token
    replaced, so every true pair sits at 3-gram Jaccard >= 0.85: the MinHash
    LSH operator then finds each of them with probability 1 - 1e-9, and its
    verified output equals the exact all-pairs oracle."""
    r = rng_for(seed, "documents")
    vocab = np.array(VOCAB)
    weights = 1.0 / (np.arange(len(VOCAB)) + 10.0)
    weights /= weights.sum()
    lengths = r.integers(8, 90, n)
    texts = [" ".join(r.choice(vocab, size=int(k), p=weights)) for k in lengths]
    long_docs = np.flatnonzero(lengths >= 40)
    n_dups = max(1, n // 50) if len(long_docs) else 0
    for k in range(n_dups):
        dst = n - 1 - k
        src = int(long_docs[r.integers(0, len(long_docs))])
        if src >= dst:
            continue
        toks = texts[src].split(" ")
        toks[int(r.integers(0, len(toks)))] = str(r.choice(vocab))
        texts[dst] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[r.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i}" for i in r.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int, dim: int = 64) -> pa.Table:
    """Vectors that are the sum of three distinct basis directions plus small
    noise.  Pair cosines then cluster at 0, 1/3, 2/3 and 1 (noise moves them
    by < 0.03), far from the 0.4 near-duplicate threshold, so Spark's and
    DuckDB's floating-point differences can never flip a pair across it."""
    r = rng_for(seed, "embeddings")
    vecs = np.zeros((n, dim), dtype=np.float64)
    for i in range(n):
        vecs[i, r.choice(dim, size=3, replace=False)] = 1.0
    vecs += r.normal(0.0, 0.002, size=vecs.shape)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n), pa.int32()),
        }
    )


def delta_rows(seed: int, stream: str, n: int) -> pa.Table:
    """Rows for the Delta table: a string partition column plus measures."""
    r = rng_for(seed, stream)
    return pa.table(
        {
            "event_id": pa.array(r.integers(0, 2**40, n), pa.int64()),
            "qty": pa.array(r.integers(1, 100, n).astype(np.float64)),
            "amount": pa.array(np.round(r.uniform(1.0, 500.0, n), 2)),
            "region": pa.array(np.array(DELTA_REGIONS)[r.integers(0, len(DELTA_REGIONS), n)]),
        }
    )


def fresh_dir(path: str) -> str:
    """Remove ``path`` and recreate it empty: every set-up starts from the
    same state regardless of what an earlier run left behind."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def write_monthly_lineitem(seed: int, scale: float, out_dir: str) -> list[tuple[str, str, int]]:
    """One parquet file per ship month; returns ``(path, month, bytes)``."""
    n = sizes(scale)
    table = lineitem_table(seed, n["lineitem"], n["orders"])
    fresh_dir(out_dir)
    ship = table.column("l_shipdate").to_numpy()
    month_idx = (ship.astype("datetime64[M]").astype(np.int64) - (FIRST_MONTH[0] - 1970) * 12)
    order = np.argsort(month_idx, kind="stable")
    table, month_idx = table.take(order), month_idx[order]
    bounds = np.searchsorted(month_idx, np.arange(N_MONTHS + 1))
    out = []
    for i in range(N_MONTHS):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        path = os.path.join(out_dir, f"{month_label(i)}.parquet")
        pq.write_table(part, path)
        out.append((path, month_label(i), os.path.getsize(path)))
    return out


def write_tables(seed: int, scale: float, out_dir: str, names: list[str]) -> dict[str, str]:
    """Single-file tables ``<out_dir>/<name>.parquet``; returns name → path."""
    n = sizes(scale)
    makers = {
        "lineitem": lambda: lineitem_table(seed, n["lineitem"], n["orders"]),
        "orders": lambda: orders_table(seed, n["orders"], n["customer"]),
        "customer": lambda: customer_table(seed, n["customer"]),
        "documents": lambda: documents_table(seed, n["documents"]),
        "embeddings": lambda: embeddings_table(seed, n["embeddings"]),
    }
    fresh_dir(out_dir)
    paths = {}
    for name in names:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(makers[name](), paths[name])
    return paths
