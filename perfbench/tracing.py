"""Tracing for the benchmark's traced run (``--trace 1``).

Everything is measured from outside the engine:

- spans around the benchmark's own calls into each layer (query build,
  plan, execution, pipeline steps) and around the engine's boundary
  functions, kept in memory and dumped as JSON when the run ends;
- call counters on those boundary functions, installed by wrapping the
  module attributes BEFORE ``registry.load_all()`` imports the operator
  modules, because those bind the names with ``from ... import``;
- Spark job, stage and SQL metrics read from the UI's REST API on
  localhost, joined to queries through ``setJobGroup`` tags.
"""

from __future__ import annotations

import functools
import json
import os
import time
import urllib.request
from collections import Counter
from contextlib import contextmanager

from stats import python_totals, stage_totals

_PKG = "databricks_sales_etl_pipeline_spark"


class Tracer:
    """Spans and counters of one traced run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.seconds: Counter = Counter()
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "trace": trace_id or (parent["trace"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.perf_counter() - self._t0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


def _wrap(tracer: Tracer, module, attr: str, name: str) -> None:
    """Replace ``module.attr`` with a wrapper that counts, times and spans
    each call under ``name``."""
    fn = getattr(module, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer.counts[name] += 1
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
        tracer.seconds[name] += s["end"] - s["start"]
        return out

    setattr(module, attr, wrapper)


def dir_bytes(path: str) -> int:
    """Bytes of all files under ``path``; 0 when it does not exist."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def install(tracer: Tracer) -> None:
    """Wrap the boundary functions. Call before ``registry.load_all()``."""
    import importlib

    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame  # the class sessions return

    par = importlib.import_module(f"{_PKG}.functions.par")
    localrel = importlib.import_module(f"{_PKG}.functions.localrel")
    catalog = importlib.import_module(f"{_PKG}.catalog")
    io = importlib.import_module(f"{_PKG}.io")
    _wrap(tracer, par, "by_key", "functions.par.by_key")
    _wrap(tracer, localrel, "local_df", "functions.localrel.local_df")
    _wrap(tracer, catalog, "load", "catalog.load")
    _wrap(tracer, io, "read_table", "io.read")
    _wrap(tracer, F, "broadcast", "spark.broadcast_hints")

    write = io.write_table

    @functools.wraps(write)
    def write_table(df, path, mode="overwrite", *args, **kwargs):
        # an overwrite replaces the old files: all of the result is new
        before = dir_bytes(path) if mode == "append" else 0
        tracer.counts["io.write"] += 1
        with tracer.span("io.write") as s:
            write(df, path, mode, *args, **kwargs)
        tracer.seconds["io.write"] += s["end"] - s["start"]
        tracer.counts["io.bytes_written"] += dir_bytes(path) - before

    io.write_table = write_table

    checkpoint = DataFrame.localCheckpoint

    @functools.wraps(checkpoint)
    def local_checkpoint(self, eager: bool = True, *args, **kwargs):
        kind = "eager" if eager else "lazy"
        tracer.counts[f"spark.local_checkpoint_{kind}"] += 1
        with tracer.span(f"spark.local_checkpoint_{kind}"):
            return checkpoint(self, eager, *args, **kwargs)

    DataFrame.localCheckpoint = local_checkpoint

    hint = DataFrame.hint

    @functools.wraps(hint)
    def counted_hint(self, name, *params):
        if name.lower() in ("broadcast", "broadcastjoin", "mapjoin"):
            tracer.counts["spark.broadcast_hints"] += 1
        return hint(self, name, *params)

    DataFrame.hint = counted_hint


def install_late(tracer: Tracer) -> None:
    """Wrappers on names resolved as module globals at call time; safe to
    install after ``load_all()``."""
    import importlib

    medallion = importlib.import_module(f"{_PKG}.plans.medallion")
    _wrap(tracer, medallion, "silver_quality_report", "operators.dq.report")


class Rest:
    """Reader of the Spark UI REST API of the running application."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._jsc = sc._jsc

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        """Jobs, stage attempts and SQL executions, once every listener
        event of the finished actions has reached the status store."""
        self._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return {
            "jobs": self.get("jobs"),
            "stages": self.get("stages"),
            "sql": self.get("sql?details=true&planDescription=false&offset=0&length=1000000"),
        }


def group_metrics(snapshot: dict, groups: set[str]) -> dict[str, float]:
    """Stage and Python-worker totals of the jobs tagged with ``groups``."""
    jobs = [j for j in snapshot["jobs"] if j.get("jobGroup") in groups]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    stages = [s for s in snapshot["stages"] if s["stageId"] in stage_ids]
    execs = [
        e for e in snapshot["sql"]
        if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                         + e.get("runningJobIds", []))
    ]
    out = stage_totals(stages)
    out.update(python_totals(execs))
    out["jobs"] = len(jobs)
    return out
