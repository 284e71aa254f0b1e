"""Tests of the benchmark's pure helpers: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import math

import pytest

from cputime import parse_stat
from stats import (
    geomean,
    parse_sql_metric,
    pass_stats,
    python_totals,
    quartile_spread,
    stage_totals,
    warm_medians,
)


def test_pass_stats_splits_cold_warmup_and_warm():
    passes = [
        {"a": 4.0, "b": 2.0},  # cold
        {"a": 9.0, "b": 9.0},  # warm-up, not counted
        {"a": 1.0, "b": 0.5},
        {"a": 3.0, "b": 0.5},
        {"a": 2.0, "b": 2.0},
    ]
    s = pass_stats(passes, 1)
    assert s["first_pass_s"] == 6.0
    assert s["warm_pass_s"] == 3.5  # median of 1.5, 3.5, 4.0
    assert s["warm_query_geomean_s"] == pytest.approx(math.sqrt(2.0 * 0.5))


def test_pass_stats_skips_failed_queries_per_pass():
    passes = [{"a": 1.0}, {"a": 1.0}, {"a": 2.0}, {"a": 4.0, "b": 1.0}]
    s = pass_stats(passes, 1)
    assert s["warm_pass_s"] == 3.5  # median of 2.0 and 5.0
    assert s["warm_query_geomean_s"] == pytest.approx(math.sqrt(3.0 * 1.0))


def test_warm_medians_per_operation():
    passes = [{"a": 9.0}, {"a": 9.0, "b": 9.0}, {"a": 1.0, "b": 2.0}, {"a": 3.0}, {"a": 2.0, "b": 4.0}]
    assert warm_medians(passes, 1) == {"a": 2.0, "b": 3.0}
    assert warm_medians(passes[:2], 1) == {}


def test_pass_stats_needs_a_warm_pass():
    with pytest.raises(ValueError):
        pass_stats([{"a": 1.0}, {"a": 1.0}], 1)
    with pytest.raises(ValueError):
        pass_stats([{"a": 1.0}, {"a": 1.0}, {}], 1)


def test_geomean_and_spread():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    assert quartile_spread([10.0] * 4) == 0.0
    # quantiles(n=4) of 1..9: Q1 = 2.5, median 5, Q3 = 7.5
    assert quartile_spread([float(x) for x in range(1, 10)]) == pytest.approx(1.0)


@pytest.mark.parametrize(
    "text,value",
    [
        ("total (min, med, max (stageId: taskId))\n1.2 s (10 ms, 200 ms, 500 ms (stage 3.0: task 12))", 1.2),
        ("total (min, med, max (stageId: taskId))\n850 ms (850 ms, 850 ms, 850 ms (stage 7.0: task 9))", 0.85),
        ("total (min, med, max (stageId: taskId))\n2.5 m (1.0 m, 1.2 m, 1.3 m (stage 1.0: task 1))", 150.0),
        ("total (min, med, max (stageId: taskId))\n12.0 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 1.0: task 2))", 12288.0),
        ("3.0 MiB", 3.0 * 2**20),
        ("0.0 B", 0.0),
        ("1,234", 1234.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_sql_metric("3 parsecs")
    with pytest.raises(ValueError):
        parse_sql_metric("n/a")


def test_stage_totals_counts_runs_retries_and_scans():
    stages = [
        {"stageId": 1, "attemptId": 0, "status": "COMPLETE", "numTasks": 4,
         "numCompleteTasks": 4, "numFailedTasks": 0, "executorRunTime": 1500,
         "executorCpuTime": 2 * 10**9, "inputBytes": 2**20, "shuffleWriteBytes": 2**21,
         "shuffleReadBytes": 0, "diskBytesSpilled": 0},
        {"stageId": 2, "attemptId": 1, "status": "COMPLETE", "numTasks": 2,
         "numCompleteTasks": 2, "numFailedTasks": 1, "executorRunTime": 500,
         "executorCpuTime": 10**9, "inputBytes": 0, "shuffleWriteBytes": 0,
         "shuffleReadBytes": 2**21, "diskBytesSpilled": 2**20},
        {"stageId": 3, "attemptId": 0, "status": "SKIPPED", "numTasks": 8,
         "numCompleteTasks": 0, "numFailedTasks": 0, "inputBytes": 0},
    ]
    t = stage_totals(stages)
    assert t["stages"] == 2
    assert t["tasks"] == 7
    assert t["failed_tasks"] == 1
    assert t["stage_retries"] == 1
    assert t["scan_tasks"] == 4
    assert t["executor_run_s"] == pytest.approx(2.0)
    assert t["executor_cpu_s"] == pytest.approx(3.0)
    assert (t["input_mb"], t["shuffle_write_mb"], t["shuffle_read_mb"], t["spill_mb"]) == (1, 2, 2, 1)


def test_python_totals_sums_python_worker_metrics_only():
    execs = [{"nodes": [
        {"metrics": [
            {"name": "time to run Python workers",
             "value": "total (min, med, max (stageId: taskId))\n2.0 s (1.0 s, 1.0 s, 1.0 s (stage 1.0: task 1))"},
            {"name": "data sent to Python workers", "value": "1024.0 KiB"},
            {"name": "number of output rows", "value": "10"},
        ]},
        {"metrics": [{"name": "time to start Python workers", "value": "300 ms"}]},
    ]}]
    t = python_totals(execs)
    assert t == pytest.approx({"python_run_s": 2.0, "python_boot_s": 0.3, "python_sent_mb": 1.0})


def test_parse_stat_reads_name_parent_and_cpu_ticks():
    # a thread name may hold spaces and parentheses
    line = ("4242 (C2 CompilerThre) S 4200 4242 1 0 -1 4194560 100 0 0 0 "
            "150 25 7 3 20 0 40 0 123 456 789")
    assert parse_stat(line) == ("C2 CompilerThre", 4200, 175, 10)
    assert parse_stat(line.replace("(C2 CompilerThre)", "(a) (b)"))[:2] == ("a) (b", 4200)
