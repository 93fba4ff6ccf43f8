"""Benchmark-side tracing of one CLI run.

    python3 perfbench/tracer.py SPANS_JSON CLI_ARG...

Installs wrappers around the program's public layer calls, then runs
``cli.main(CLI_ARGS)`` in this process and writes the recorded spans to
``SPANS_JSON``. Nothing in the program changes: every wrapper is
patched onto the module attribute (or class) where the caller looks
the name up — ``job.py`` imports ``write_batch`` by name, so the patch
goes on ``job.write_batch``.

Each span records its name, its parent's id, start and end
(``time.monotonic``) and a few attributes. While a span is open the
Spark job description is set to the span's path (``cli.main/job.run/
sink.write_batch``), so every Spark job and SQL execution in the event
log names the span that caused it; ``eventlog.py`` rolls them up.
Spans stay in memory and are written once, after ``cli.main`` returns.
"""

from __future__ import annotations

import functools
import json
import sys
import time


def _set_description(path: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context  # noqa: SLF001
    if sc is not None:
        sc.setJobDescription(path)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def traced(self, name: str, fn, attrs=None):
        """Wrap ``fn`` in a span called ``name``. ``attrs(result)`` may
        return extra attributes to store on the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            parent = self._stack[-1] if self._stack else None
            path = f"{parent['path']}/{name}" if parent else name
            span = {
                "id": len(self.spans),
                "name": name,
                "path": path,
                "parent": parent["id"] if parent else None,
                "start": time.monotonic(),
            }
            self.spans.append(span)
            self._stack.append(span)
            _set_description(path)
            try:
                result = fn(*args, **kwargs)
                if attrs is not None:
                    span.update(attrs(result))
                return result
            finally:
                span["end"] = time.monotonic()
                self._stack.pop()
                _set_description(parent["path"] if parent else None)

        return wrapper

    def patch(self, owner, attr: str, name: str, attrs=None) -> None:
        setattr(owner, attr, self.traced(name, getattr(owner, attr), attrs))

    def install(self) -> None:
        """Patch every layer boundary the benchmark reports on."""
        from bend_archiver_spark import cli, job, postsync, tables, verify
        from bend_archiver_spark.sources import jdbc

        self.patch(cli, "main", "cli.main")
        self.patch(cli, "get_spark", "session.get_spark")
        self.patch(tables, "load_parquet", "sources.files.load_parquet")
        self.patch(job.FileArchiveJob, "run", "job.run")
        self.patch(job.JdbcArchiveJob, "run", "job.run")
        self.patch(job, "check_idempotency_gate", "job.gate")
        self.patch(job, "write_batch", "sink.write_batch")
        self.patch(job, "read_target", "verify.read_target")
        self.patch(verify, "content_fingerprint", "verify.content_fingerprint")
        self.patch(jdbc.JdbcSource, "read", "sources.jdbc.read")
        self.patch(jdbc.JdbcSource, "probe_bounds", "sources.jdbc.probe_bounds")
        self.patch(jdbc.JdbcSource, "count", "sources.jdbc.count")
        self.patch(
            postsync,
            "delete_after_sync",
            "postsync.delete_after_sync",
            lambda n: {"rows": int(n)},
        )

    def run_cli(self, spans_path: str, cli_args: list[str]) -> int:
        from bend_archiver_spark import cli

        try:
            return cli.main(cli_args)
        finally:
            with open(spans_path, "w") as f:
                json.dump(self.spans, f)


if __name__ == "__main__":
    tracer = Tracer()
    tracer.install()
    sys.exit(tracer.run_cli(sys.argv[1], sys.argv[2:]))
