"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check on sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2, keyed by
name; each callable takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql()`` — equivalent DuckDB ANSI SQL per query (omitted for
non-SQL-expressible operators, which get a rows-only check).

Implementations live in ``bend_archiver_spark.queries``; this module is
just the registry adapter.

Emission order (the driver checks ~50 rows per round) is derived from
RECORDED artifacts, not hand-maintained lists — rounds 5–11 curated
``_GREEN_R{N}`` / ``_CHANGED_R{N}`` frozensets by hand, which produced
a real process bug in round 10 (three MinHash consumers whose plans
changed were omitted from the re-tier set). The records now used:

- ``CORRECTNESS_r*.json`` (driver-written): a query's newest round
  with a fully-green row (rows + schema + hash all true) is its
  verification age.
- ``PLANS.json`` (written by ``tools/plan_fingerprints.py``): each
  query's normalized optimized-plan hash and the round that hash
  last changed. A plan change bumps the round, which makes every green
  row older than the change stale — the query re-enters tier 1 and
  must re-earn a fully-green row.
  ``tests/test_plans.py::TestPlanLedgerCurrent`` fails if the
  ledger does not match the live plans, so a plan change cannot skip
  the ledger.

Tier 1: queries whose newest green row is OLDER than their last plan
change (or that never earned one) — new queries, changed queries.
Tier 2: verified queries, least-recently-verified first, so every
driver pass re-confirms the stalest rows instead of last round's set.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable
from glob import glob

from pyspark.sql import DataFrame, SparkSession

from bend_archiver_spark.queries import REGISTRY

SF_SMOKE_DIR = "/root/testdata/sf0.001"

_HERE = os.path.dirname(os.path.abspath(__file__))


def _green_rounds() -> dict[str, int]:
    """Per query: newest driver round with a fully-green row. A green
    row means the driver matched row count, schema shape AND the
    order-insensitive value hash against the DuckDB oracle at sf0.01
    (rows-only rows — hash_match null — do NOT count as green; every
    registry query has an exact oracle, so none should appear)."""
    greens: dict[str, int] = {}
    for path in glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, json.JSONDecodeError):  # pragma: no cover
            continue
        for name, row in rows.items():
            if (
                row.get("rows_match") is True
                and row.get("schema_match") is True
                and row.get("hash_match") is True
            ):
                greens[name] = max(greens.get(name, 0), rnd)
    return greens


def _plan_rounds() -> dict[str, int]:
    """Per query: the round its optimized plan last changed, from the
    recorded fingerprint ledger (round 0 = unchanged since the ledger
    was seeded on the round-11 code). A query missing from the ledger
    is treated as changed-now (forces tier 1 until the ledger is
    regenerated — ``tools/plan_fingerprints.py --update``)."""
    path = os.path.join(_HERE, "PLANS.json")
    try:
        with open(path) as f:
            ledger = json.load(f)
    except (OSError, json.JSONDecodeError):  # pragma: no cover
        return {}
    return {
        name: ent["round"] for name, ent in ledger.get("queries", {}).items()
    }


_GREEN_ROUND = _green_rounds()
_PLAN_ROUND = _plan_rounds()

# verified-and-unchanged-since: the emission tier-2 set. A query is
# checked-good when its newest green driver row is at least as new as
# its last plan change; absent ledger entries force tier 1.
_CHECKED_GOOD = frozenset(
    name
    for name in REGISTRY
    if name in _PLAN_ROUND
    and _GREEN_ROUND.get(name, -1) >= _PLAN_ROUND[name]
)


def _ordered_names() -> list[str]:
    """Emission order for a possibly-capped correctness pass:
    (1) queries with no green driver row newer than their last plan
    change (new/changed — tests/test_registry.py pins the count under
    the ~50-row cap), then (2) verified queries, least-recently-
    verified first. Ties keep registry order — stable and
    deterministic."""
    names = list(REGISTRY.keys())
    tier1 = [n for n in names if n not in _CHECKED_GOOD]
    tier2 = sorted(
        (n for n in names if n in _CHECKED_GOOD),
        key=lambda n: _GREEN_ROUND.get(n, 0),
    )
    return tier1 + tier2


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H Q1 pricing summary on sf0.001."""
    return REGISTRY["tpch_q1"].spark(spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].spark for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle
        for name in _ordered_names()
        if REGISTRY[name].oracle is not None
    }
