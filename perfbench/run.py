#!/usr/bin/env python3
"""Benchmark: whole CLI archive runs, launch to exit code, and the query
suite, build to written result.

    python3 perfbench/run.py --workload jdbc_archive --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. Workloads:

- ``jdbc_archive``: the CLI in JDBC mode archives three quarters of a
  seeded 500k-row embedded-Derby table (sparse keys, odd ids NULL) into
  a fresh parquet target, count-verified, with ``deleteAfterSync``,
  ``batchSize`` 40000 and ``maxThread`` nproc. Each operation is one
  CLI process, ``cli.main`` as ``python -m bend_archiver_spark`` runs
  it, timed from launch to exit on a fresh copy of the database and
  checked afterwards with DuckDB and Derby's ``ij``, outside the
  program. Operations run one at a time (closed loop, one client)
  while another fits in ``--seconds``; there is always one.
- ``query_suite``: one process, one Spark session over a seeded corpus
  (``corpus.py``); a warm-up pass collects each query's result, which
  is checked against the query's DuckDB oracle; timed passes then run
  for ``--seconds`` (see ``suite.py``).

End-to-end metrics (``--trace 0``), the same names on both workloads:

- ``setup_s``: process launch until ``session.get_spark`` returns
  (interpreter and JVM start included), median over the run's
  processes;
- ``wall_s``: jdbc_archive, the median CLI wall time, launch to exit;
  query_suite, the suite total, the sum over queries of each query's
  median build + run time;
- ``rows_per_s``: jdbc_archive, rows archived and verified ÷ (wall −
  that process's own set-up); query_suite, the rows of the tables each
  query reads, summed over queries, ÷ the suite total.

With ``--trace 1`` the run reports the per-layer metrics instead (see
``tracer.py``, ``eventlog.py``, ``layers.py``).

Everything is written under ``.perfbench/`` in the checkout. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Lines before it print every metric with
its unit, ``failed_frac``, the peak RSS of the process tree, the
machine stamp and the per-query or per-span details.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]  # the benchmark's modules, then the program's

import duckdb  # noqa: E402

import check  # noqa: E402
import corpus  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import machine  # noqa: E402
from suite import QUERIES, digest  # noqa: E402

MIB = 1 << 20
CHILD_TIMEOUT_S = 150
END_TO_END = {"setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s"}


def _cpus() -> str:
    return str(len(os.sched_getaffinity(0)))


def _env(work: str, java_opts: str = "", **extra: str) -> dict[str, str]:
    """Child environment: the program sees nproc cores and keeps its
    temporary files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*

    def opts(name: str, *more: str) -> str:
        return " ".join(o for o in (env.get(name, ""), jvm, *more) if o)

    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=_cpus(),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_LAUNCHER_OPTS=opts("SPARK_LAUNCHER_OPTS"),
        SPARK_SUBMIT_OPTS=opts("SPARK_SUBMIT_OPTS", java_opts),
        TMPDIR=tmp,
        TZ="UTC",
        **extra,
    )
    return env


def _launch(argv, env, cwd, log, sample=False) -> dict:
    """Run one child process group to completion; returns its exit
    code, stdout, wall seconds, peak tree RSS and, if it printed
    ``SESSION_READY <monotonic> <driver memory>``, its set-up time
    (launch until then) and driver memory.
    A child that runs past ``CHILD_TIMEOUT_S`` is killed and raises
    ``subprocess.TimeoutExpired``."""
    t0 = time.monotonic()
    with open(log, "ab") as err:
        proc = subprocess.Popen(
            argv, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
            start_new_session=True,
        )
        sampler = machine.TreeSampler(proc.pid) if sample else None
        try:
            out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
            wall = time.monotonic() - t0
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            peak = sampler.stop() if sampler else 0
    out = out.decode(errors="replace")
    ready = [ln.split() + [""] for ln in out.splitlines() if ln.startswith("SESSION_READY")]
    return {
        "rc": proc.returncode,
        "out": out,
        "wall": wall,
        "peak_rss": peak,
        "setup": float(ready[0][1]) - t0 if ready else None,
        "driver_memory": ready[0][2] if ready else "",
    }


def _launch_checked(argv, env, cwd, log, sample=False) -> dict:
    """``_launch``, with a launch that fails or times out turned into a
    result with ``rc`` None and the problem named."""
    try:
        return {**_launch(argv, env, cwd, log, sample), "problems": []}
    except (subprocess.TimeoutExpired, OSError) as e:
        return {"rc": None, "out": "", "wall": None, "peak_rss": 0, "setup": None,
                "driver_memory": "", "problems": [f"process did not finish: {e}"]}


def _write_json(path: str, obj) -> str:
    with open(path, "w") as f:
        json.dump(obj, f)
    return path


def _ij(work: str, statements: list[str]) -> None:
    """Run SQL through Derby's ``ij`` tool in a plain JVM (no Spark)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        import pyspark

        home = os.path.dirname(pyspark.__file__)
    jars = sorted(glob.glob(os.path.join(home, "jars", "derby*.jar")))
    script = os.path.join(work, "ij.sql")
    with open(script, "w") as f:
        f.write("".join(s + ";\n" for s in statements))
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    argv = [
        java if os.path.exists(java) else "java", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby-ij.log')}",
        "-cp", os.pathsep.join(jars), "org.apache.derby.tools.ij", script,
    ]
    res = _launch(argv, _env(work), work, os.path.join(work, "ij.log"))
    errors = [ln for ln in res["out"].splitlines()
              if ln.startswith("ERROR") and "08006" not in ln]  # 08006: shutdown
    if res["rc"] != 0 or errors:
        raise RuntimeError(f"derby ij failed: {errors or res['rc']}")


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _cached(work: str, seed: int, build) -> str:
    """Per-seed input directory, built once; other seeds' are removed."""
    cache = os.path.join(work, "cache")
    for old in glob.glob(os.path.join(cache, "seed-*")):
        if old != os.path.join(cache, f"seed-{seed}"):
            shutil.rmtree(old, ignore_errors=True)
    path = os.path.join(cache, f"seed-{seed}")
    if not os.path.exists(os.path.join(path, "DONE")):
        build(_fresh(path))
        open(os.path.join(path, "DONE"), "w").close()
    return path


def _op_dir(work: str, index: int) -> str:
    op = _fresh(os.path.join(work, f"op-{index}"))
    os.makedirs(op)
    return op


def _event_log_conf(op: str) -> str:
    """A ``SPARK_CONF_DIR`` that switches Spark's event log on, into
    ``op/eventlog``, uncompressed."""
    conf_dir = os.path.join(op, "spark-conf")
    os.makedirs(conf_dir)
    os.makedirs(os.path.join(op, "eventlog"))
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.eventLog.enabled true\n"
            f"spark.eventLog.dir file://{op}/eventlog\n"
            "spark.eventLog.compress false\n"
        )
    return conf_dir


def _median(values, default: float = 0.0) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else default


# ``python -m bend_archiver_spark`` with one line added: the instant
# ``get_spark`` returns (and the driver memory it set), so each run's
# own session set-up can be measured and taken out of its wall time.
# Nothing else is wrapped.
_CLI = """
import sys, time
from bend_archiver_spark import cli
get_spark = cli.get_spark

def timed_get_spark(*args, **kwargs):
    spark = get_spark(*args, **kwargs)
    memory = spark.conf.get("spark.driver.memory", "")
    print(f"SESSION_READY {time.monotonic():.6f} {memory}", flush=True)
    return spark

cli.get_spark = timed_get_spark
sys.exit(cli.main(sys.argv[1:]))
"""


def _report(stdout: str) -> dict:
    for line in stdout.splitlines():
        if line.startswith("{") and '"source_rows"' in line:
            return json.loads(line)
    return {}


class JdbcArchive:
    name = "jdbc_archive"

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.data = _cached(work, seed, self._build)
        with open(os.path.join(self.data, "facts.json")) as f:
            meta = json.load(f)
        self.split = meta["split"]
        self.facts = {
            "source_rows": meta["rows"],
            "source_db_bytes": inputs.dir_bytes(os.path.join(self.data, "db")),
            "archived_rows": (3 * inputs.JDBC_ROWS) // 4,
        }

    def _build(self, path: str) -> None:
        meta = inputs.write_jdbc_source(self.seed, path)
        db = os.path.join(path, "db")
        _ij(self.work, [
            f"CONNECT 'jdbc:derby:{db};create=true'",
            inputs.JDBC_DDL,
            f"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(NULL, '{inputs.JDBC_TABLE}', "
            f"'{os.path.join(path, 'rows.csv')}', ',', NULL, 'UTF-8', 0)",
            f"CONNECT 'jdbc:derby:{db};shutdown=true'",
        ])
        _write_json(os.path.join(path, "facts.json"), meta)

    def _cli_args(self, op: str) -> list[str]:
        db = os.path.join(op, "db")
        shutil.copytree(os.path.join(self.data, "db"), db)
        conf = {
            "databaseType": "derby",
            "sourceDB": db,
            "sourceTable": inputs.JDBC_TABLE,
            "sourceSplitKey": "ID",
            "sourceWhereCondition": f"ID <= {self.split}",
            "batchSize": 40000,  # conf/key_split_archive.json, the shipped sample
            "maxThread": int(_cpus()),
            "deleteAfterSync": True,
            "targetPath": os.path.join(op, "target"),
            "targetFormat": "parquet",
        }
        return ["--conf", _write_json(os.path.join(op, "conf.json"), conf)]

    def _check(self, op: str) -> list[str]:
        left = os.path.join(op, "left.csv")
        _ij(self.work, [
            f"CONNECT 'jdbc:derby:{os.path.join(op, 'db')}'",
            f"CALL SYSCS_UTIL.SYSCS_EXPORT_TABLE(NULL, '{inputs.JDBC_TABLE}', "
            f"'{left}', ',', NULL, 'UTF-8')",
        ])
        return check.check_jdbc_archive(
            os.path.join(self.data, "rows.parquet"),
            os.path.join(op, "target"), left, self.split,
        )

    def op(self, index: int, traced: bool = False) -> dict:
        """One CLI archive run from launch to exit, on fresh state, then
        its correctness check."""
        op = _op_dir(self.work, index)
        cli_args = self._cli_args(op)
        os.sync()  # no writeback of the fresh copy during the timed run
        if traced:
            env = _env(
                self.work,
                "-Dderby.language.logStatementText=true "
                f"-Dderby.stream.error.file={op}/derby-statements.log",
                SPARK_CONF_DIR=_event_log_conf(op),
            )
            argv = [sys.executable, os.path.join(HERE, "tracer.py"),
                    os.path.join(op, "spans.json"), *cli_args]
        else:
            env = _env(self.work)
            argv = [sys.executable, "-c", _CLI, *cli_args]
        res = _launch_checked(argv, env, op, os.path.join(op, "cli.log"), sample=True)
        res["op"] = op
        res["report"] = _report(res["out"])
        if res["rc"] is not None:
            if res["rc"] != 0:
                res["problems"].append(f"CLI exited with {res['rc']}")
            if not res["report"].get("verified"):
                res["problems"].append("CLI printed no verified report")
            try:
                res["problems"] += self._check(op)
            except (RuntimeError, OSError, duckdb.Error, subprocess.TimeoutExpired) as e:
                res["problems"].append(f"check could not run: {e}")
        res["rows"] = int(res["report"].get("target_rows", 0))
        res["stored_bytes"] = inputs.dir_bytes(os.path.join(op, "target"))
        return res

    def run(self, seconds: float) -> dict:
        ops, started = [], time.monotonic()
        while True:
            ops.append(self.op(len(ops)))
            if time.monotonic() - started + (ops[-1]["wall"] or 0.0) > seconds:
                break
        good = [o for o in ops if not o["problems"]]
        return {
            "attempted": len(ops),
            "problems": [p for o in ops for p in o["problems"]],
            "failed": len(ops) - len(good),
            "metrics": {
                "setup_s": _median(o["setup"] for o in good),
                "wall_s": _median(o["wall"] for o in good),
                "rows_per_s": _median(o["rows"] / (o["wall"] - o["setup"]) for o in good),
            },
            "peak_rss": _median(o["peak_rss"] for o in ops),
            "stamp": {
                "driver_memory": ops[0]["driver_memory"],
                "op_walls_s": [o["wall"] for o in ops],
                "op_setups_s": [o["setup"] for o in ops],
                "stored_bytes_per_row": [o["stored_bytes"] / max(o["rows"], 1) for o in ops],
            },
        }

    def trace(self) -> dict:
        plain = self.op(0)
        ops = [plain]
        if plain["rc"] is not None:  # a hung run is not repeated: two would overrun
            ops.append(self.op(1, traced=True))
        traced = ops[-1]
        detail = {}
        metrics = {}
        if len(ops) == 2 and not traced["problems"]:
            op = traced["op"]
            with open(os.path.join(op, "spans.json")) as f:
                spans = json.load(f)
            rolled = eventlog.rollup(os.path.join(op, "eventlog"))
            with open(os.path.join(op, "derby-statements.log"), errors="replace") as f:
                statements = sum("Executing prepared statement" in ln for ln in f)
            target = os.path.join(op, "target")
            metrics = layers.compute(
                spans, rolled,
                wall=traced["wall"], untraced_wall=plain["wall"], report=traced["report"],
                source_dir=None, target_dir=target, target_bytes=inputs.dir_bytes(target),
                archived_rows=self.facts["archived_rows"], statements=statements,
                stored_bytes=plain["stored_bytes"], peak_rss_bytes=plain["peak_rss"],
            )
            detail = _span_detail(spans, rolled)
        return {
            "attempted": len(ops),
            "problems": [p for o in ops for p in o["problems"]],
            "failed": sum(bool(o["problems"]) for o in ops),
            "metrics": metrics,
            "peak_rss": plain["peak_rss"],
            "stamp": {
                "driver_memory": plain["driver_memory"],
                "op_walls_s": [o["wall"] for o in ops],
            },
            "detail": detail,
        }


class QuerySuite:
    name = "query_suite"

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        data = _cached(work, seed, self._build)
        self.corpus = os.path.join(data, "corpus")
        with open(os.path.join(data, "facts.json")) as f:
            self.table_rows = json.load(f)
        self.rows_read = sum(self.table_rows[t] for ts in QUERIES.values() for t in ts)
        self.facts = {
            "table_rows": self.table_rows,
            "corpus_bytes": inputs.dir_bytes(self.corpus),
            "queries": list(QUERIES),
        }

    def _build(self, path: str) -> None:
        rows = corpus.write_corpus(self.seed, os.path.join(path, "corpus"))
        _write_json(os.path.join(path, "facts.json"), rows)

    def _oracle(self) -> dict[str, dict]:
        """Each query's oracle result digest, computed by DuckDB over the
        same corpus files."""
        from bend_archiver_spark.queries import REGISTRY

        con = duckdb.connect()
        for table in corpus.TABLES:
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"'{os.path.join(self.corpus, table)}.parquet'"
            )
        return {q: digest(con.execute(REGISTRY[q].oracle).df()) for q in QUERIES}

    def process(self, seconds: float, traced: bool) -> dict:
        """One suite process, then the check of its warm-up results."""
        op = _op_dir(self.work, 0)
        out = os.path.join(op, "suite.json")
        argv = [sys.executable, os.path.join(HERE, "suite.py"),
                self.corpus, out, str(self.seed), str(seconds)]
        env = _env(self.work)
        if traced:
            argv.append(os.path.join(op, "spans.json"))
            env = _env(self.work, SPARK_CONF_DIR=_event_log_conf(op))
        res = _launch_checked(argv, env, op, os.path.join(op, "suite.log"), sample=True)
        res["op"] = op
        result = {}
        if res["rc"] is not None:
            if res["rc"] != 0:
                res["problems"].append(f"suite process exited with {res['rc']}")
            if os.path.exists(out):
                with open(out) as f:
                    result = json.load(f)
        res["result"] = result
        errors = result.get("errors", [])
        res["problems"] += [f"{e['query']} (pass {e['pass']}): {e['error']}" for e in errors]
        # one operation per query in the warm-up and in each pass after it
        passes = len(result.get("passes", [])) + len(result.get("plain_passes", []))
        res["attempted"] = len(QUERIES) * (1 + max(passes, 1))
        try:
            oracle = self._oracle()
        except duckdb.Error as e:
            oracle = {}
            res["problems"].append(f"oracle could not run: {e}")
        wrong = [q for q, got in result.get("warmup", {}).items() if got != oracle.get(q)]
        res["problems"] += [
            f"{q}: result {result['warmup'][q]} != oracle {oracle.get(q)}" for q in wrong
        ]
        res["failed"] = len(errors) + len(wrong) if res["rc"] == 0 else res["attempted"]
        return res

    def run(self, seconds: float) -> dict:
        res = self.process(seconds, traced=False)
        passes = res["result"].get("passes", [])
        per_query = {
            q: {
                "build_s": _median(p[q][0] for p in passes if q in p),
                "run_s": _median(p[q][1] for p in passes if q in p),
                "s": _median(sum(p[q]) for p in passes if q in p),
            }
            for q in QUERIES
        }
        suite_s = sum(v["s"] for v in per_query.values())
        return {
            "attempted": res["attempted"],
            "problems": res["problems"],
            "failed": res["failed"],
            "metrics": {
                "setup_s": res["setup"] or 0.0,
                "wall_s": suite_s,
                "rows_per_s": self.rows_read / suite_s if suite_s else 0.0,
            },
            "peak_rss": res["peak_rss"],
            "stamp": {
                "driver_memory": res["driver_memory"],
                "process_wall_s": res["wall"],
                "timed_passes": len(passes),
            },
            "detail": {
                "per_query": per_query,
                "warmup_s": res["result"].get("warmup_s", {}),
            },
        }

    def trace(self) -> dict:
        res = self.process(0, traced=True)
        metrics, detail = {}, {}
        result = res["result"]
        if res["rc"] == 0 and result.get("passes"):
            op = res["op"]
            with open(os.path.join(op, "spans.json")) as f:
                spans = json.load(f)
            rolled = eventlog.rollup(os.path.join(op, "eventlog"))
            metrics = layers.compute_suite(
                spans, rolled, wall=res["wall"], plain_passes=result["plain_passes"],
                timed_pass=result["passes"][0], peak_rss_bytes=res["peak_rss"],
            )
            detail = _span_detail(spans, rolled)
        return {
            "attempted": res["attempted"],
            "problems": res["problems"],
            "failed": res["failed"],
            "metrics": metrics,
            "peak_rss": res["peak_rss"],
            "stamp": {"driver_memory": res["driver_memory"], "process_wall_s": res["wall"]},
            "detail": detail,
        }


def _span_detail(spans: list[dict], rolled: dict) -> dict:
    own = layers.self_times(spans)
    return {
        "spans": [
            {"path": s["path"], "s": s["end"] - s["start"], "self_s": own[s["id"]]}
            for s in spans
        ],
        "rollup": {k: {f: v for f, v in row.items() if v} for k, row in rolled.items()},
    }


WORKLOADS = {w.name: w for w in (JdbcArchive, QuerySuite)}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bend_archiver_spark", "cli.py")):
        print(f"error: no program source under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2

    stamp = machine.Stamp()
    work = os.path.join(ROOT, ".perfbench", args.workload)
    os.makedirs(work, exist_ok=True)
    for old in glob.glob(os.path.join(work, "op-*")):
        shutil.rmtree(old)
    wl = WORKLOADS[args.workload](work, args.seed)

    if args.trace:
        out = wl.trace()
        units = layers.PER_LAYER
    else:
        out = wl.run(args.seconds)
        units = END_TO_END
    # every metric of the mode is printed; a layer the workload does not
    # use reads 0, and so does every metric of a run whose traced
    # operation failed (its "failed" says so)
    metrics = {k: float(out["metrics"].get(k, 0.0)) for k in units}

    for problem in out["problems"]:
        print(f"FAILED: {problem}", file=sys.stderr)
    print(f"workload {wl.name}  seed {args.seed}  trace {args.trace}  "
          f"operations {out['attempted']}")
    # failed_frac is carried by "attempted"/"failed": it is 0 on a good
    # run, so it cannot carry a relative bound. Peak RSS spreads too
    # widely from run to run for a bound.
    shown = [(k, v, units[k]) for k, v in metrics.items()]
    shown.append(("failed_frac", out["failed"] / out["attempted"], "ratio"))
    shown.append(("peak_rss_mb", out["peak_rss"] / MIB, "MiB"))
    for name, value, unit in shown:
        print(f"  {name:<52} {value:>16.6f} {unit}")
    print("stamp " + json.dumps(stamp.finish(
        seed=args.seed,
        spark_graft_cpus=_cpus(),
        load="closed loop, one client: one CLI run or one query at a time, "
        f"local[{_cpus()}] Spark, at most {_cpus()} JDBC connections",
        flush="Spark append writes without fsync; reads come from the page cache",
        inputs=wl.facts,
        **out["stamp"],
    )))
    print("detail " + json.dumps(out.get("detail", {})))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
