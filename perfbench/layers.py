"""Per-layer metrics of one traced run, from the tracer's spans and the
event-log rollup (``eventlog.rollup``).

``compute`` covers a traced CLI archive run, ``compute_suite`` a
traced query-suite process; the metrics of the other workload's layers
read 0. Span self time is the span's duration minus its children's
(one thread, so children never overlap). ``job.plan_s`` and
``job.verify_count_s`` are ``job.run`` self time before and after its
``sink.write_batch`` child. Everything outside the process's main span
(``cli.main`` or ``suite.main``) — interpreter start, imports, process
exit — is ``trace.outside_main_s``, so the self times plus that
remainder add up to the traced wall time.
"""

from __future__ import annotations

from eventlog import subtree
from suite import QUERIES

MIB = 1 << 20

# Each comment names the end-to-end metric the layer metrics below it
# should move, and on which workload (J = jdbc_archive, Q = query_suite).
PER_LAYER = {
    # setup_s, J and Q
    "session.get_spark_s": "s",
    # rows_per_s on J; the gate is about 0 there, whose target is fresh
    "job.gate_s": "s",
    "job.plan_s": "s",
    "job.verify_count_s": "s",
    "job.source_scans": "count",
    "job.shuffle_write_bytes": "B",
    "job.executor_cpu_s": "s",
    "job.stages": "count",
    "job.tasks": "count",
    # rows_per_s: per-predicate overhead on J
    "planner.partitions": "count",
    # wall_s on J
    "sources.jdbc.probe_calls": "count",
    "sources.jdbc.probe_s": "s",
    "sources.jdbc.count_s": "s",
    "sources.jdbc.statements": "count",
    "sources.jdbc.rows_fetched_ratio": "ratio",
    # rows_per_s on J; files, bytes and rows make the stored bytes per
    # row; spill and peak memory move process.peak_rss_mb
    "sink.write_batch_s": "s",
    "sink.files": "count",
    "sink.bytes": "B",
    "sink.rows": "count",
    "sink.stored_bytes_per_row": "B/row",
    "sink.task_skew": "ratio",
    "sink.spill_bytes": "B",
    "sink.peak_exec_mem_mb": "MiB",
    # rows_per_s on J; the fingerprint is off there, so it reads 0
    "verify.read_target_s": "s",
    "verify.content_fingerprint_s": "s",
    "verify.fingerprint_scanned_bytes": "B",
    "verify.target_read_amplification": "ratio",
    # wall_s on J only
    "postsync.delete_after_sync_s": "s",
    "postsync.rows_deleted": "count",
    # wall_s on Q; 0 on J
    **{
        f"queries.{q}.{m}": unit
        for q in QUERIES
        for m, unit in (
            ("build_s", "s"), ("run_s", "s"), ("scanned_bytes", "B"), ("shuffle_bytes", "B")
        )
    },
    # wall_s on Q, through dedup_connected_components
    "operators.graph.connected_components_s": "s",
    "operators.graph.connected_components_jobs": "count",
    # the whole process: wall_s; accounting of the trace
    "main.self_s": "s",
    "process.peak_rss_mb": "MiB",
    "trace.wall_s": "s",
    "trace.outside_main_s": "s",
    "trace.overhead_s": "s",
}


def _duration(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    own = {s["id"]: _duration(s) for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= _duration(s)
    return own


def _named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def _total(spans: list[dict], name: str) -> float:
    return sum(_duration(s) for s in _named(spans, name))


def _job_self_split(spans: list[dict]) -> tuple[float, float]:
    """``job.run`` self time before and after its write."""
    before = after = 0.0
    for run in _named(spans, "job.run"):
        kids = [s for s in spans if s["parent"] == run["id"]]
        writes = [k for k in kids if k["name"] == "sink.write_batch"]
        if not writes:
            before += _duration(run) - sum(_duration(k) for k in kids)
            continue
        w = writes[0]
        before += (w["start"] - run["start"]) - sum(
            _duration(k) for k in kids if k["end"] <= w["start"]
        )
        after += (run["end"] - w["end"]) - sum(
            _duration(k) for k in kids if k["start"] >= w["end"]
        )
    return before, after


def compute(
    spans: list[dict],
    rolled: dict[str, dict],
    *,
    wall: float,
    untraced_wall: float,
    report: dict,
    source_dir: str | None,
    target_dir: str,
    target_bytes: int,
    archived_rows: int,
    statements: int,
    stored_bytes: int,
    peak_rss_bytes: int,
) -> dict[str, float]:
    root = _named(spans, "cli.main")[0]
    own = self_times(spans)
    whole = subtree(rolled, root["path"])
    job = subtree(rolled, root["path"] + "/job.run")
    plan_s, verify_count_s = _job_self_split(spans)

    def is_source(scan: dict) -> bool:
        if source_dir is None:
            return scan["node"].startswith("Scan JDBCRelation")
        return source_dir in scan["location"]

    source_scans = [s for s in whole["scans"] if is_source(s)]
    target_scanned = sum(
        s["bytes"] for s in whole["scans"] if target_dir in s["location"]
    )
    writes = {s["path"] for s in _named(spans, "sink.write_batch")}
    sink = [rolled[p] for p in writes if p in rolled]
    fingerprint_paths = {s["path"] for s in _named(spans, "verify.content_fingerprint")}
    jdbc_rows = sum(s["rows"] for s in source_scans) if source_dir is None else 0

    return {
        "session.get_spark_s": _total(spans, "session.get_spark"),
        "job.gate_s": _total(spans, "job.gate"),
        "job.plan_s": plan_s,
        "job.verify_count_s": verify_count_s,
        "job.source_scans": len(source_scans),
        "job.shuffle_write_bytes": job["shuffle_write_bytes"],
        "job.executor_cpu_s": job["executor_cpu_s"],
        "job.stages": whole["stages"],
        "job.tasks": whole["tasks"],
        "planner.partitions": int(report.get("partitions", 0)),
        "sources.jdbc.probe_calls": len(_named(spans, "sources.jdbc.probe_bounds")),
        "sources.jdbc.probe_s": _total(spans, "sources.jdbc.probe_bounds"),
        "sources.jdbc.count_s": _total(spans, "sources.jdbc.count"),
        "sources.jdbc.statements": statements,
        "sources.jdbc.rows_fetched_ratio": (
            jdbc_rows / archived_rows if archived_rows else 0.0
        ),
        "sink.write_batch_s": _total(spans, "sink.write_batch"),
        "sink.files": sum(r["written_files"] for r in sink),
        "sink.bytes": sum(r["written_bytes"] for r in sink),
        "sink.rows": sum(r["written_rows"] for r in sink),
        "sink.stored_bytes_per_row": stored_bytes / archived_rows if archived_rows else 0.0,
        "sink.task_skew": max((r["last_stage_skew"] for r in sink), default=0.0),
        "sink.spill_bytes": sum(r["disk_spill_bytes"] for r in sink),
        "sink.peak_exec_mem_mb": max(
            (r["peak_exec_mem_bytes"] for r in sink), default=0
        )
        / MIB,
        "verify.read_target_s": _total(spans, "verify.read_target"),
        "verify.content_fingerprint_s": _total(spans, "verify.content_fingerprint"),
        "verify.fingerprint_scanned_bytes": sum(
            rolled[p]["scanned_bytes"] for p in fingerprint_paths if p in rolled
        ),
        "verify.target_read_amplification": (
            target_scanned / target_bytes if target_bytes else 0.0
        ),
        "postsync.delete_after_sync_s": _total(spans, "postsync.delete_after_sync"),
        "postsync.rows_deleted": sum(
            s.get("rows", 0) for s in _named(spans, "postsync.delete_after_sync")
        ),
        "main.self_s": own[root["id"]],
        "process.peak_rss_mb": peak_rss_bytes / MIB,
        "trace.wall_s": wall,
        "trace.outside_main_s": wall - _duration(root),
        "trace.overhead_s": wall - untraced_wall,
    }


def _pass_s(times: dict) -> float:
    return sum(build + run for build, run in times.values())


def compute_suite(
    spans: list[dict],
    rolled: dict[str, dict],
    *,
    wall: float,
    plain_passes: list[dict],
    timed_pass: dict,
    peak_rss_bytes: int,
) -> dict[str, float]:
    """Layer metrics of the traced pass (``suite.timed``) of one traced
    query-suite process."""
    root = _named(spans, "suite.main")[0]
    timed = [s for s in spans if "/suite.timed/" in s["path"]]
    metrics = {
        "session.get_spark_s": _total(spans, "session.get_spark"),
        "main.self_s": self_times(spans)[root["id"]],
        "process.peak_rss_mb": peak_rss_bytes / MIB,
        "trace.wall_s": wall,
        "trace.outside_main_s": wall - _duration(root),
        "trace.overhead_s": _pass_s(timed_pass)
        - sum(map(_pass_s, plain_passes)) / len(plain_passes),
    }
    for q in QUERIES:
        build, run = (_named(timed, f"queries.{q}.{part}") for part in ("build", "run"))
        rows = [subtree(rolled, s["path"]) for s in build + run]
        metrics.update({
            f"queries.{q}.build_s": sum(map(_duration, build)),
            f"queries.{q}.run_s": sum(map(_duration, run)),
            f"queries.{q}.scanned_bytes": sum(r["scanned_bytes"] for r in rows),
            f"queries.{q}.shuffle_bytes": sum(r["shuffle_write_bytes"] for r in rows),
        })
    cc = _named(timed, "operators.graph.connected_components")
    metrics["operators.graph.connected_components_s"] = sum(map(_duration, cc))
    metrics["operators.graph.connected_components_jobs"] = sum(
        subtree(rolled, s["path"])["jobs"] for s in cc
    )
    return metrics
