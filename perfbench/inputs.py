"""Seeded input generation for the ``jdbc_archive`` workload.

Everything the program reads is made here from ``--seed``; the same
seed always gives byte-identical inputs. Generation is pure
numpy/pyarrow (no JVM), so it costs a few seconds per seed.

``JDBC_ROWS`` rows for an embedded-Derby table. Keys are sparse (gaps
of 10..14, mean 12), so the filtered ``range // count`` is >= 10 and
``planner.adjust_batch_size`` takes its x5 density branch. Odd ids
carry NULL in every value column — the reference's NULL-pattern
fixture. The rows are written as a CSV for Derby's bulk import, plus a
parquet copy the correctness check reads as ground truth.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

JDBC_ROWS = 500_000

_EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01
_TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_WORDS = (
    "quick brown fox jumps over lazy dog final pending deposits "
    "carefully regular ideas sleep furiously express accounts haggle "
    "blithely bold requests wake among silent packages integrate"
).split()


def _decimal(unscaled: np.ndarray, precision: int, scale: int) -> pa.Array:
    """decimal128 array built straight from int64 unscaled values
    (16-byte little-endian two's complement, no Python objects)."""
    words = np.empty((len(unscaled), 2), dtype=np.int64)
    words[:, 0] = unscaled
    words[:, 1] = np.where(unscaled < 0, -1, 0)
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale),
        len(unscaled),
        [None, pa.py_buffer(words.tobytes())],
    )


def _with_nulls(arr: pa.Array, null_mask: np.ndarray) -> pa.Array:
    return pa.compute.if_else(pa.array(null_mask), pa.scalar(None, arr.type), arr)


def _strings(rng: np.random.Generator, pool: list[str], n: int) -> pa.Array:
    idx = pa.array(rng.integers(0, len(pool), n, dtype=np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(pool)).cast(pa.string())


def _comment_pool(rng: np.random.Generator, size: int = 4096) -> list[str]:
    lens = rng.integers(3, 9, size)
    return [" ".join(rng.choice(_WORDS, k)) for k in lens]


def jdbc_source_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = JDBC_ROWS
    ids = np.cumsum(rng.integers(10, 15, n, dtype=np.int64))
    odd = (ids % 2) == 1
    ts = _TS_BASE_US + rng.integers(0, 30 * 86_400 * 10**6, n)
    ts -= ts % 100  # sub-second timestamps, 100 us precision
    cols = {
        "ID": pa.array(ids),
        "V": _with_nulls(
            pa.array(rng.integers(0, 1_000_000, n, dtype=np.int32)), odd
        ),
        "NAME": _with_nulls(_strings(rng, _comment_pool(rng, 1024), n), odd),
        "TS": _with_nulls(pa.array(ts, pa.timestamp("us")), odd),
        "AMOUNT": _with_nulls(_decimal(rng.integers(0, 10**8, n), 12, 2), odd),
        "D": _with_nulls(
            pa.array(
                (_EPOCH_1992 + rng.integers(0, 10_000, n)).astype(np.int32),
                pa.date32(),
            ),
            odd,
        ),
    }
    return pa.table(cols)


JDBC_DDL = (
    "CREATE TABLE ARCHIVE_SRC (ID BIGINT NOT NULL PRIMARY KEY, V INT, "
    "NAME VARCHAR(128), TS TIMESTAMP, AMOUNT DECIMAL(12,2), D DATE)"
)
JDBC_TABLE = "ARCHIVE_SRC"


def write_derby_csv(table: pa.Table, path: str) -> None:
    """The rows as CSV in the form Derby's import reads: empty fields
    are NULL, timestamps in JDBC escape form (yyyy-mm-dd hh:mm:ss.ffffff)."""
    csv_cols = [
        pa.compute.strftime(c, "%Y-%m-%d %H:%M:%S")
        if pa.types.is_timestamp(c.type)
        else c
        for c in table.columns
    ]
    pacsv.write_csv(
        pa.table(csv_cols, names=table.column_names),
        path,
        write_options=pacsv.WriteOptions(include_header=False, quoting_style="none"),
    )


def write_jdbc_source(seed: int, out_dir: str) -> dict:
    """Write the Derby rows as an import CSV (``rows.csv``) and as
    parquet (``rows.parquet``, ground truth for the checks). Returns
    the row count and the archive predicate's upper key."""
    table = jdbc_source_table(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "rows.parquet"))
    write_derby_csv(table, os.path.join(out_dir, "rows.csv"))
    # the archive predicate ``ID <= split`` covers three quarters of the rows
    split = table.column("ID")[(3 * JDBC_ROWS) // 4 - 1].as_py()
    return {"rows": len(table), "split": split}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
