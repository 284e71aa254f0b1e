"""Pure helpers of the benchmark: per-pass statistics, Spark REST metric
parsing and per-layer aggregation. No Spark, no I/O, so they are unit
tested on their own (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import math
import re
import statistics
from collections.abc import Iterable


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals or any(v <= 0 for v in vals):
        raise ValueError(f"geomean needs positive values, got {vals!r}")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def pass_stats(passes: list[dict[str, float]], warmup: int) -> dict[str, float]:
    """Fold per-pass seconds of each operation into the end-to-end figures.
    Pass 0 is the cold one, the next ``warmup`` are skipped, the rest are
    warm: ``first_pass_s`` is pass 0's total, ``warm_pass_s`` the median
    total of the warm passes, and ``warm_query_geomean_s`` the geometric
    mean over operations of each one's median warm seconds. An operation
    that failed in a pass is absent from that pass's dict."""
    warm = passes[1 + warmup:]
    if not warm:
        raise ValueError(f"need a cold pass, {warmup} warm-up and a warm pass")
    per_query = warm_medians(passes, warmup)
    if not per_query:
        raise ValueError("no operation succeeded in a warm pass")
    return {
        "first_pass_s": sum(passes[0].values()),
        "warm_pass_s": statistics.median(sum(p.values()) for p in warm),
        "warm_query_geomean_s": geomean(per_query.values()),
    }


def warm_medians(passes: list[dict[str, float]], warmup: int) -> dict[str, float]:
    """Each operation's median seconds over the warm passes (those after
    the cold one and ``warmup`` more) in which it succeeded."""
    warm = passes[1 + warmup:]
    names = sorted({q for p in warm for q in p})
    return {q: statistics.median(p[q] for p in warm if q in p) for q in names}


_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Total of one SQL metric as the REST API renders it, in base units
    (seconds for timings, bytes for sizes). Multi-task metrics read
    ``"total (min, med, max (stageId: taskId))\\n12.3 s (1 ms, ...)"``;
    the total is the first figure of the last line."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return num * _UNITS[unit]


#: Stage fields summed per layer: REST field -> (metric suffix, scale).
STAGE_FIELDS = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "shuffleWriteBytes": ("shuffle_write_mb", 2.0**-20),
    "shuffleReadBytes": ("shuffle_read_mb", 2.0**-20),
    "diskBytesSpilled": ("spill_mb", 2.0**-20),
    "inputBytes": ("input_mb", 2.0**-20),
}

#: SQL (PythonSQLMetrics) metric names -> metric suffix, scale.
PYTHON_METRICS = {
    "time to run Python workers": ("python_run_s", 1.0),
    "time to start Python workers": ("python_boot_s", 1.0),
    "data sent to Python workers": ("python_sent_mb", 2.0**-20),
}


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Sum the REST ``/stages`` entries of one group of jobs. Skipped
    stages ran nothing and are not counted; a stage attempt beyond the
    first is a retry."""
    ran = [s for s in stages if s.get("status") != "SKIPPED"]
    out = {name: 0.0 for name, _ in STAGE_FIELDS.values()}
    for s in ran:
        for field, (name, scale) in STAGE_FIELDS.items():
            out[name] += s.get(field, 0) * scale
    out["stages"] = len(ran)
    out["tasks"] = sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in ran)
    out["failed_tasks"] = sum(s.get("numFailedTasks", 0) for s in ran)
    out["stage_retries"] = sum(1 for s in ran if s.get("attemptId", 0) > 0)
    out["scan_tasks"] = sum(s.get("numTasks", 0) for s in ran if s.get("inputBytes", 0) > 0)
    return out


def python_totals(executions: list[dict]) -> dict[str, float]:
    """Sum the Python-worker SQL metrics over REST ``/sql`` executions."""
    out = {name: 0.0 for name, _ in PYTHON_METRICS.values()}
    for e in executions:
        for node in e.get("nodes", []):
            for m in node.get("metrics", []):
                if m.get("name") in PYTHON_METRICS:
                    name, scale = PYTHON_METRICS[m["name"]]
                    out[name] += parse_sql_metric(m["value"]) * scale
    return out
