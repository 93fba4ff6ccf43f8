"""One ``query_suite`` process: a Spark session over the seeded corpus,
a warm-up pass that collects every result, then timed passes.

    python3 perfbench/suite.py CORPUS OUT_JSON SEED SECONDS [SPANS_JSON]

The queries are driven through their public entry point,
``REGISTRY[name].spark(spark, CORPUS)``. The warm-up pass collects each
result and stores its canonical rows' digest (row count, sorted column
names, sha256 of ``tests.oracle_compare.canonical_rows``) for the
parent to compare with the DuckDB oracle. Each timed pass runs the
queries in an order permuted by the seed; a query's clock starts
before ``spec.spark(...)`` (``build_s``, which includes any eager work
such as the connected-components loop) and stops when its ``noop``
write has finished (``run_s``). Timed passes repeat while another one
fits in SECONDS; there is always at least one.

``SESSION_READY <monotonic> <spark.driver.memory>`` is printed the
moment ``get_spark`` returns. With SPANS_JSON the run is traced (see
``tracer.py``): the whole run is the span ``suite.main``; after the
warm-up it makes a pass with per-query spans (``suite.timed``, holding
``queries.<name>.build`` and ``queries.<name>.run``) between two
passes without them (``suite.plain``), so the traced pass minus the
mean of the plain ones is the overhead of the spans.
``operators.graph.connected_components`` is wrapped where
``dedup_connected_components`` looks it up.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> tables it reads. The registry's 21 headline queries do not
# fit one run; these keep the headline set's kinds of plan (scan and
# aggregate, join, window, text) plus the three queries whose
# operators are being rewritten: connected components and IVF.
QUERIES = {
    "tpch_q1": ("lineitem",),
    "tpch_q3_topk": ("customer", "orders", "lineitem"),
    "tpch_q6_revenue": ("lineitem",),
    "window_top_orders_per_customer": ("orders",),
    "agg_gini_revenue": ("customer", "orders"),
    "text_token_stats": ("documents",),
    "dedup_connected_components": ("documents",),
    "ann_ivf_topk": ("embeddings",),
    "ann_ivf_fixed_codebook": ("embeddings",),
}


def digest(pdf) -> dict:
    """Row count, sorted columns and a digest of the canonical rows:
    the order-insensitive comparison of ``tests.oracle_compare``."""
    from tests.oracle_compare import canonical_rows

    rows = canonical_rows(pdf)
    return {
        "rows": len(rows),
        "cols": sorted(pdf.columns),
        "sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
    }


def order(seed: int, n_pass: int) -> list[str]:
    rng = np.random.default_rng([seed, 4, n_pass])
    names = list(QUERIES)
    return [names[i] for i in rng.permutation(len(names))]


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Suite:
    def __init__(self, corpus: str, seed: int, tracer=None) -> None:
        from bend_archiver_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.corpus, self.seed, self.tracer = corpus, seed, tracer
        self.result = {"warmup": {}, "warmup_s": {}, "passes": [], "errors": []}

    def _error(self, name: str, n_pass: int) -> None:
        self.result["errors"].append(
            {"query": name, "pass": n_pass, "error": traceback.format_exc()[-2000:]}
        )

    def wrap(self, name: str, fn):
        return self.tracer.traced(name, fn) if self.tracer is not None else fn

    def warmup(self) -> None:
        for name in order(self.seed, 0):
            t0 = time.monotonic()
            build = self.wrap(f"queries.{name}.build", self.registry[name].spark)
            try:
                self.result["warmup"][name] = digest(
                    build(self.spark, self.corpus).toPandas()
                )
            except Exception:  # noqa: BLE001 - recorded and counted as failed
                self._error(name, 0)
            finally:
                self.spark.catalog.clearCache()
                self.result["warmup_s"][name] = time.monotonic() - t0

    def one_pass(self, n_pass: int, spans: bool = True) -> dict:
        """``{name: [build_s, run_s]}`` for one pass over the queries."""
        times = {}
        for name in order(self.seed, n_pass):
            build, run = self.registry[name].spark, noop_write
            if spans:
                build = self.wrap(f"queries.{name}.build", build)
                run = self.wrap(f"queries.{name}.run", run)
            t0 = time.monotonic()
            try:
                df = build(self.spark, self.corpus)
                t1 = time.monotonic()
                run(df)
                times[name] = [t1 - t0, time.monotonic() - t1]
            except Exception:  # noqa: BLE001 - recorded and counted as failed
                self._error(name, n_pass)
            finally:
                self.spark.catalog.clearCache()
        return times

    def main(self, seconds: float) -> None:
        from bend_archiver_spark.session import get_spark

        self.spark = self.wrap("session.get_spark", get_spark)("perfbench_query_suite")
        memory = self.spark.conf.get("spark.driver.memory", "")
        print(f"SESSION_READY {time.monotonic():.6f} {memory}", flush=True)
        self.wrap("suite.warmup", self.warmup)()
        if self.tracer is not None:
            plain = self.wrap("suite.plain", self.one_pass)
            self.result["plain_passes"] = [plain(1, False)]
            self.result["passes"].append(self.wrap("suite.timed", self.one_pass)(2))
            self.result["plain_passes"].append(plain(3, False))
            return
        deadline = time.monotonic() + seconds
        while True:
            started = time.monotonic()
            self.result["passes"].append(self.one_pass(len(self.result["passes"]) + 1))
            if 2 * time.monotonic() - started > deadline:  # the next pass would not fit
                break


def main(argv: list[str]) -> int:
    corpus, out_path, seed, seconds = argv[0], argv[1], int(argv[2]), float(argv[3])
    sys.path.insert(0, ROOT)
    tracer = None
    if len(argv) > 4:
        sys.path.insert(0, HERE)
        from tracer import Tracer

        from bend_archiver_spark.operators import graph

        tracer = Tracer()
        tracer.patch(graph, "connected_components", "operators.graph.connected_components")
    suite = Suite(corpus, seed, tracer)
    try:
        suite.wrap("suite.main", suite.main)(seconds)
    finally:
        with open(out_path, "w") as f:
            json.dump(suite.result, f)
        if tracer is not None:
            with open(argv[4], "w") as f:
                json.dump(tracer.spans, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
