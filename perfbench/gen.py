"""Seeded input generator: the same seed writes byte-identical parquet.

Every object draws from its own ``numpy`` stream keyed by
``(seed, purpose, index)``, so a file's bytes never depend on which other
files were generated before it.  Files are written from Arrow arrays (no
pandas metadata) with fixed writer settings.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "zh", "es", "fr", "de")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64
EMB_CELLS = 10

# purpose ids: one independent random stream per kind of object
_CUSTOMER, _ORDERS, _LINEITEM, _CHURN, _DOCS, _EMB, _EVENTS = range(7)

LAKE_ORDER_DAY0 = datetime.date(1995, 12, 1)
LAKE_ORDER_DAYS = 150  # order dates 1995-12-01 .. 1996-04-28
LAKE_SHIP_LAG = 60  # ship 1..60 days after the order: ~7 shipdate months


def rng(seed: int, purpose: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, purpose, index])


def write(table: pa.Table, path: str) -> int:
    """Write ``table`` to ``path`` (atomically) and return its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)
    return os.path.getsize(path)


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _days(base: datetime.date, offsets: np.ndarray) -> pa.Array:
    epoch = (base - datetime.date(1970, 1, 1)).days
    return pa.array((epoch + offsets).astype(np.int32), pa.date32())


# -- lake tables (lake_read) ------------------------------------------------


def customer(seed: int, n: int) -> pa.Table:
    r = rng(seed, _CUSTOMER)
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": r.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, len(SEGMENTS), n)],
        }
    )


def orders(seed: int, n: int, n_customers: int) -> pa.Table:
    r = rng(seed, _ORDERS)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, n_customers, n).astype(np.int64),
            "o_orderstatus": [STATUSES[i] for i in r.integers(0, 3, n)],
            "o_totalprice": _money(r, 900.0, 450000.0, n),
            "o_orderdate": _days(LAKE_ORDER_DAY0, r.integers(0, LAKE_ORDER_DAYS, n)),
            "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n)],
        }
    )


def lineitem_batch(seed: int, batch: int, n_batches: int, orders_t: pa.Table) -> pa.Table:
    """Lines of the orders with ``o_orderkey % n_batches == batch``: each
    batch spans every shipdate month, so each append adds one file per
    month partition."""
    r = rng(seed, _LINEITEM, batch)
    okeys = orders_t.column("o_orderkey").to_numpy()
    odays = orders_t.column("o_orderdate").cast(pa.int32()).to_numpy()
    mine = okeys % n_batches == batch
    okeys, odays = okeys[mine], odays[mine]
    per = r.integers(1, 8, len(okeys))
    lk = np.repeat(okeys, per)
    ld = np.repeat(odays, per)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    n = len(lk)
    qty = r.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": lk.astype(np.int64),
            "l_partkey": r.integers(0, 2000, n).astype(np.int64),
            "l_suppkey": r.integers(0, 100, n).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n)],
            "l_shipdate": pa.array(
                (ld + r.integers(1, LAKE_SHIP_LAG + 1, n)).astype(np.int32),
                pa.date32(),
            ),
        }
    )


def lake_inputs(root: str, seed: int, n_batches: int, n_orders: int, n_customers: int) -> dict:
    """customer.parquet, orders.parquet and ``n_batches`` lineitem batch
    files under ``root``; returns {name: path}."""
    cust = customer(seed, n_customers)
    ords = orders(seed, n_orders, n_customers)
    paths = {
        "customer": os.path.join(root, "customer.parquet"),
        "orders": os.path.join(root, "orders.parquet"),
    }
    write(cust, paths["customer"])
    write(ords, paths["orders"])
    for b in range(n_batches):
        p = os.path.join(root, "lineitem", f"batch-{b:03d}.parquet")
        write(lineitem_batch(seed, b, n_batches, ords), p)
        paths[f"lineitem/{b}"] = p
    return paths


# -- churn batches (lake_churn) --------------------------------------------


def churn_orders(seed: int, index: int, keys: np.ndarray, n_customers: int) -> pa.Table:
    """Rows for the given order keys (a base load, an append batch or an
    upsert batch); every value but the key is drawn from stream ``index``."""
    r = rng(seed, _CHURN, index)
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": r.integers(0, n_customers, n).astype(np.int64),
            "o_orderstatus": [STATUSES[i] for i in r.integers(0, 3, n)],
            "o_totalprice": _money(r, 900.0, 450000.0, n),
            "o_orderdate": _days(LAKE_ORDER_DAY0, r.integers(0, 365, n)),
        }
    )


def churn_draw(seed: int, index: int) -> np.random.Generator:
    """The stream an op uses to pick its keys and literals."""
    return rng(seed, _CHURN, 1_000_000 + index)


# -- curation shards ---------------------------------------------------------


def documents(seed: int, shard: int, n: int) -> pa.Table:
    """``n`` documents over the corpus vocabulary, with planted exact copies
    (~3%) and one-word near duplicates (~3%) of earlier documents."""
    r = rng(seed, _DOCS, shard)
    lengths = r.integers(20, 90, n)
    texts = [" ".join(WORDS[i] for i in r.integers(0, len(WORDS), k)) for k in lengths]
    kinds = r.random(n)
    for i in range(1, n):
        src = int(r.integers(0, i))
        if kinds[i] < 0.03:
            texts[i] = texts[src]
        elif kinds[i] < 0.06:
            w = texts[src].split()
            w[int(r.integers(0, len(w)))] = "dup"
            texts[i] = " ".join(w)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in r.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in r.integers(0, 8, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, shard: int, n: int) -> pa.Table:
    """Unit-scale cluster centres per label plus seeded noise."""
    r = rng(seed, _EMB, shard)
    centres = r.normal(0.0, 0.15, (EMB_CELLS, EMB_DIM))
    labels = r.integers(0, EMB_CELLS, n)
    vecs = (centres[labels] + r.normal(0.0, 0.05, (n, EMB_DIM))).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def curation_shard(root: str, seed: int, shard: int, n_docs: int) -> str:
    d = os.path.join(root, f"shard-{shard:02d}")
    write(documents(seed, shard, n_docs), os.path.join(d, "documents.parquet"))
    write(embeddings(seed, shard, n_docs), os.path.join(d, "embeddings.parquet"))
    return d


# -- stream events -----------------------------------------------------------

EVENT_TYPES = ("click", "view", "purchase")


def events(seed: int, index: int, n: int) -> pa.Table:
    """Landing-zone event file ``index``; event ids are globally unique."""
    r = rng(seed, _EVENTS, index)
    return pa.table(
        {
            "event_id": np.arange(index * n, (index + 1) * n, dtype=np.int64),
            "user_id": r.integers(0, 500, n).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in r.integers(0, 3, n)],
            "value": _money(r, 0.0, 500.0, n),
        }
    )


def tree_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``root``."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size
