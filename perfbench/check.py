"""Correctness checks made outside the program, with DuckDB.

Each check compares a row count and an order-insensitive hash (the
sum of a per-row hash over canonical values) between what the archive
run left behind and the seeded ground truth. Timestamps are compared
as epoch microseconds, because the sides store them differently
(parquet INT96 from Spark, INT64 from pyarrow, text from Derby).
"""

from __future__ import annotations

import duckdb

_JDBC_COLS = "ID, V, NAME, epoch_us(TS), AMOUNT, D"
_JDBC_CSV_TYPES = {
    "ID": "BIGINT",
    "V": "INTEGER",
    "NAME": "VARCHAR",
    "TS": "TIMESTAMP",
    "AMOUNT": "DECIMAL(12,2)",
    "D": "DATE",
}


def _digest(con, relation: str, cols: str, where: str) -> tuple[int, int]:
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) "
        f"FROM {relation} WHERE {where}"
    ).fetchone()
    return int(n), int(h)


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def check_jdbc_archive(
    truth: str, target: str, derby_csv: str, split: int
) -> list[str]:
    """After delete-after-sync the target holds exactly the rows with
    ``ID <= split`` and Derby (exported to ``derby_csv``) exactly the
    rest."""
    con = duckdb.connect()
    truth_rel = f"read_parquet('{truth}')"
    left_rel = f"read_csv('{derby_csv}', header=false, columns={_JDBC_CSV_TYPES})"
    problems = []
    pairs = (
        (_parquet(target), f"ID <= {split}", "target"),
        (left_rel, f"ID > {split}", "derby"),
    )
    for rel, side, name in pairs:
        want = _digest(con, truth_rel, _JDBC_COLS, side)
        got = _digest(con, rel, _JDBC_COLS, "TRUE")
        if want != got:
            problems.append(f"{name}: rows/hash {got} != expected {side} {want}")
    return problems
