"""Seeded corpus for the ``query_suite`` workload.

The tables have the column names and types of the repository's
TPC-H-ish test corpus (``customer``, ``orders``, ``lineitem``,
``documents``, ``embeddings``), one parquet file per table named
``<table>.parquet`` in one directory, so ``REGISTRY[name].spark(spark,
corpus_dir)`` reads them as it reads that corpus. The relational
tables are 2/15 of sf0.1 (80,000 lineitems), the text and vector
tables 1,000 rows, so a warm-up pass and a timed pass fit in one run:
the suite's time is mostly per-stage overhead, which a larger corpus
would not change much.

- ``documents``: word soup of 30..89 words over a 40-word vocabulary.
  The last quarter are near-duplicates of one of the first three
  quarters with one word replaced (word-trigram Jaccard >= 0.8), so
  every near-dup cluster is a star around its lowest id and
  ``dedup_connected_components`` converges in the same number of
  rounds for every seed.
- ``embeddings``: 64-dim unit vectors around ten label centres, labels
  ``vec_id % 10``.

Pure numpy/pyarrow: the same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS = 2_000
ORDERS = 20_000
LINEITEMS = 80_000
DOCUMENTS = 1_000
EMBEDDINGS = 1_000
DIM = 64
NEAR_DUP_SHARE = 0.25

_DAY_US = 86_400 * 10**6
_TS_1995_US = 788_918_400 * 10**6  # 1995-01-01 00:00:00
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window index page block cache plan shard node "
    "task stage log"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]


def _pick(rng: np.random.Generator, pool: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)])


def _cents(values: np.ndarray) -> pa.Array:
    """Doubles with two decimals, as the test corpus stores prices."""
    return pa.array(np.round(values, 2))


def _days(rng: np.random.Generator, n: int, span: int) -> pa.Array:
    return pa.array(
        _TS_1995_US + rng.integers(0, span, n) * _DAY_US, pa.timestamp("us")
    )


def customer(rng: np.random.Generator) -> pa.Table:
    n = CUSTOMERS
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })


def orders(rng: np.random.Generator) -> pa.Table:
    n = ORDERS
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _cents(rng.uniform(1_000, 500_000, n)),
        "o_orderdate": _days(rng, n, 2_400),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })


def lineitem(rng: np.random.Generator) -> pa.Table:
    n = LINEITEMS
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, ORDERS, n, dtype=np.int64))),
        "l_partkey": pa.array(rng.integers(0, 20_000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": _cents(qty * rng.uniform(900, 2_100, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, 2_500),
    })


def documents(rng: np.random.Generator) -> pa.Table:
    originals = int(DOCUMENTS * (1 - NEAR_DUP_SHARE))
    words = [
        [_VOCAB[w] for w in rng.integers(0, len(_VOCAB), rng.integers(30, 90))]
        for _ in range(originals)
    ]
    for _ in range(DOCUMENTS - originals):
        doc = list(words[rng.integers(0, originals)])
        at = rng.integers(0, len(doc))
        doc[at] = _VOCAB[(_VOCAB.index(doc[at]) + rng.integers(1, len(_VOCAB))) % len(_VOCAB)]
        words.append(doc)
    texts = [" ".join(doc) for doc in words]
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, DOCUMENTS),
        "source": pa.array([f"src{i % 5}" for i in range(DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator) -> pa.Table:
    n = EMBEDDINGS
    centres = rng.normal(size=(10, DIM))
    labels = np.arange(n, dtype=np.int32) % 10
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat
        ),
        "label": pa.array(labels),
    })


TABLES = {
    "customer": customer,
    "orders": orders,
    "lineitem": lineitem,
    "documents": documents,
    "embeddings": embeddings,
}


def write_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table; returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, (name, make) in enumerate(TABLES.items()):
        table = make(np.random.default_rng([seed, 3, i]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(table)
    return rows
