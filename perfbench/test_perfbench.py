"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q

- the DuckDB check of ``jdbc_archive`` flags a row lost from the
  target and a changed row left in Derby;
- an extra scan of the source, injected inside a traced CLI run,
  raises ``job.source_scans`` by one and shows up as the source's
  bytes in the scanned bytes of the span that made it.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

ROWS = 20_000


def test_jdbc_check_flags_lost_and_changed_rows(tmp_path):
    table = inputs.jdbc_source_table(3).slice(0, ROWS)
    truth = str(tmp_path / "rows.parquet")
    pq.write_table(table, truth)
    split = table.column("ID")[(3 * ROWS) // 4 - 1].as_py()
    inside = table.filter(pc.less_equal(table.column("ID"), split))
    outside = table.filter(pc.greater(table.column("ID"), split))
    target = tmp_path / "target"
    target.mkdir()
    left = str(tmp_path / "left.csv")

    def problems(archived: pa.Table, derby: pa.Table) -> list[str]:
        pq.write_table(archived, str(target / "a.parquet"))
        inputs.write_derby_csv(derby, left)
        return check.check_jdbc_archive(truth, str(target), left, split)

    assert problems(inside, outside) == []
    assert len(problems(inside.slice(1), outside)) == 1
    values = outside.column("V").to_pylist()
    values[0] = 1 if values[0] is None else values[0] + 1
    changed = outside.set_column(1, "V", pa.array(values, pa.int32()))
    assert len(problems(inside, changed)) == 1


def _source(tmp_path) -> str:
    src = str(tmp_path / "source")
    os.makedirs(src)
    rng = np.random.default_rng(3)
    pq.write_table(
        pa.table({
            "l_id": pa.array(np.arange(1, ROWS + 1, dtype=np.int64)),
            "v": pa.array(rng.integers(0, 1_000_000, ROWS)),
            "s": pa.array([f"row {i}" for i in range(ROWS)]),
        }),
        os.path.join(src, "part-0.parquet"),
    )
    return src


_INJECT = """
import sys
sys.path.insert(0, {here!r})
from tracer import Tracer
tracer = Tracer()
tracer.install()
from bend_archiver_spark import job
probe = job.FileArchiveJob._probe_bounds

def probe_with_extra_scan(self, df):
    tracer.traced("inject.extra_scan", lambda: self.source.count())()
    return probe(self, df)

job.FileArchiveJob._probe_bounds = probe_with_extra_scan
sys.exit(tracer.run_cli(sys.argv[1], sys.argv[2:]))
"""


def _traced_archive(tmp_path, name: str, src: str, launcher: list[str]) -> tuple:
    op = tmp_path / name
    op.mkdir()
    conf = {
        "sourceSplitKey": "l_id",
        "sourceWhereCondition": "l_id > 0",
        "batchSize": 4000,
        "verifyFingerprint": True,
        "targetPath": str(op / "target"),
    }
    (op / "conf.json").write_text(json.dumps(conf))
    argv = [sys.executable, *launcher, str(op / "spans.json"),
            "--conf", str(op / "conf.json"), "--source-path", src]
    env = run._env(str(tmp_path), SPARK_CONF_DIR=run._event_log_conf(str(op)))
    res = run._launch(argv, env, str(op), str(op / "cli.log"))
    assert res["rc"] == 0, (op / "cli.log").read_text()[-2000:]
    spans = json.loads((op / "spans.json").read_text())
    rolled = eventlog.rollup(str(op / "eventlog"))
    target = str(op / "target")
    metrics = layers.compute(
        spans, rolled, wall=res["wall"], untraced_wall=res["wall"],
        report=run._report(res["out"]), source_dir=src, target_dir=target,
        target_bytes=inputs.dir_bytes(target), archived_rows=ROWS, statements=0,
        stored_bytes=inputs.dir_bytes(target), peak_rss_bytes=0,
    )
    return metrics, rolled


def test_injected_source_scan_is_counted(tmp_path):
    src = _source(tmp_path)
    plain, _ = _traced_archive(
        tmp_path, "plain", src, [os.path.join(HERE, "tracer.py")]
    )
    injected, rolled = _traced_archive(
        tmp_path, "injected", src, ["-c", _INJECT.format(here=HERE)]
    )
    assert plain["job.source_scans"] >= 1
    assert injected["job.source_scans"] == plain["job.source_scans"] + 1
    extra = rolled["cli.main/job.run/inject.extra_scan"]
    assert extra["scanned_bytes"] == inputs.dir_bytes(src)
    assert [s["bytes"] for s in extra["scans"]] == [inputs.dir_bytes(src)]
