"""Roll a Spark event log up per job description (= span path).

The traced run enables Spark's event log from outside the program
(``spark-defaults.conf`` in ``SPARK_CONF_DIR``, uncompressed) and the
tracer sets each Spark job description to the open span's path. This
module reads the log back and sums, per description:

- jobs, stages and tasks;
- executor CPU and run time, GC time;
- task input bytes and records, shuffle bytes read and written;
- spill (memory and disk) and peak execution memory;
- the skew of the last job's result stage (longest ÷ median task);
- the scans that ran, with the scan node's ``size of files read`` SQL
  metric as their bytes (task input metrics undercount parquet reads);
- files, bytes and rows committed by write commands.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."
_WRITE_METRICS = {
    "number of written files": "written_files",
    "written output": "written_bytes",
    "number of output rows": "written_rows",
}


def _events(log_dir: str):
    """Events of every application log under ``log_dir`` (Spark 4
    writes a directory of rolled ``events_<n>_<app>`` files per
    application)."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "*", "events_*")),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _empty() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_cpu_s": 0.0,
        "executor_run_s": 0.0,
        "gc_s": 0.0,
        "input_bytes": 0,
        "input_records": 0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "memory_spill_bytes": 0,
        "disk_spill_bytes": 0,
        "peak_exec_mem_bytes": 0,
        "last_stage_skew": 0.0,
        "scans": [],
        "scanned_bytes": 0,
        "written_files": 0,
        "written_bytes": 0,
        "written_rows": 0,
    }


def rollup(log_dir: str) -> dict[str, dict]:
    exec_desc: dict[int, str] = {}
    exec_nodes: dict[int, dict[int, dict]] = defaultdict(dict)
    accum: dict[int, int] = defaultdict(int)  # accumulator id -> value
    stage_key: dict[int, str] = {}
    last_result_stage: dict[str, int] = {}
    task_durations: dict[int, list[int]] = defaultdict(list)
    out: dict[str, dict] = defaultdict(_empty)

    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind in (_SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = ev["executionId"]
            if "description" in ev:
                exec_desc[eid] = ev["description"]
            for node in _plan_nodes(ev["sparkPlanInfo"]):
                metrics = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
                if metrics:
                    key = min(metrics.values())  # one id per node instance
                    exec_nodes[eid][key] = {**node, "metric_ids": metrics}
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                accum[acc_id] = value
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            key = props.get("spark.job.description") or exec_desc.get(
                int(eid) if eid is not None else -1, "(none)"
            )
            out[key]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_key.setdefault(sid, key)
            last_result_stage[key] = max(ev["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_key.get(sid, "(none)")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            row = out[stage_key.get(sid, "(none)")]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    accum[acc["ID"]] += int(acc["Update"])
            row["tasks"] += 1
            task_durations[sid].append(info["Finish Time"] - info["Launch Time"])
            row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            row["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            row["memory_spill_bytes"] += m.get("Memory Bytes Spilled", 0)
            row["disk_spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            row["peak_exec_mem_bytes"] = max(
                row["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
            inp = m.get("Input Metrics", {})
            row["input_bytes"] += inp.get("Bytes Read", 0)
            row["input_records"] += inp.get("Records Read", 0)
            rd = m.get("Shuffle Read Metrics", {})
            row["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            row["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )

    for key, sid in last_result_stage.items():
        durations = task_durations.get(sid)
        if durations:
            med = statistics.median(durations)
            out[key]["last_stage_skew"] = max(durations) / med if med else 1.0

    for eid, nodes in exec_nodes.items():
        row = out[exec_desc.get(eid, "(none)")]
        for node in nodes.values():
            ids = node["metric_ids"]
            ran = any(i in accum for i in ids.values())
            if node["nodeName"].startswith("Scan") and ran:
                meta = node.get("metadata") or {}
                size = accum.get(ids.get("size of files read", -1), 0)
                row["scans"].append(
                    {
                        "node": node["nodeName"].strip(),
                        "location": meta.get("Location", node["simpleString"][:300]),
                        "bytes": size,
                        "rows": accum.get(ids.get("number of output rows", -1), 0),
                    }
                )
                row["scanned_bytes"] += size
            if "number of written files" in ids:
                for name, field in _WRITE_METRICS.items():
                    row[field] += accum.get(ids.get(name, -1), 0)
    return dict(out)


def subtree(rolled: dict[str, dict], prefix: str) -> dict:
    """Sum of every row whose span path is ``prefix`` or below it."""
    total = _empty()
    for key, row in rolled.items():
        if key == prefix or key.startswith(prefix + "/"):
            for field, value in row.items():
                if field in ("peak_exec_mem_bytes", "last_stage_skew"):
                    total[field] = max(total[field], value)
                else:
                    total[field] += value
    return total
