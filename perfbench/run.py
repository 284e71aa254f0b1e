#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload queries|medallion \\
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One driver process on
``local[nproc]``, a closed loop with one client: each query (or pipeline
step) is sent only after the previous result has come back.

- ``queries``: SQL-shaped analytics queries (scan-aggregate, window,
  streaming sessionization) on the single-row-group fixture layout, and
  LLM-data curation queries (MinHash and paragraph dedup, text tokens,
  multimodal decode in Python workers) on a copy of the same rows re-split
  into many files and row groups.
- ``medallion``: the reference pipeline of ``plans.medallion``: one
  ``initial_run`` then daily ``daily_run`` appends, each followed by
  ``monitoring`` -- the write path.

The end-to-end figures of a pass are CPU seconds of the whole process tree
(see ``cputime.py``); wall seconds are in the details. The seed sets the
query order of each pass, the split points of the re-split copy and the
size of each daily slice. The base tables are the
engine's sf0.01 star-schema fixture, committed under ``fixture/`` (ten
tables, one file and one row group each). Every result is checked outside
the timed region: each query's first result against its DuckDB oracle on
the same input, and every later result against the first one.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (see ``tracing.py``). The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it holds the details (per-query medians, failures, host facts,
untracked figures and the reason behind every per-layer figure that is 0
because its layer did not run).
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "databricks_sales_etl_pipeline_spark"
sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
from cputime import CpuMeter  # noqa: E402

#: The input tables: the engine's sf0.01 fixture (lineitem has 60k rows). At
#: this size a pass is bound by per-query overhead on a 4-core host, which
#: keeps one run, with its JVM start, inside the benchmark's time budget.
FIXTURE = os.path.join(HERE, "fixture")
SF = 0.01

#: The ``queries`` workload by input: the analytics queries read the
#: fixture as it is, the curation queries the re-split copy.
QUERY_INPUTS = {
    "fixture": ["tpch_q1", "window_running_total", "stream_sessionize"],
    "resplit": ["ext_dedup_minhash_native", "ext_dedup_paragraph", "ext_text_tokens",
                "mm_decode_real"],
}
WORKLOADS = ["queries", "medallion"]
LAYERS = ["operators", "streaming", "extensions", "plans"]

#: Nominal wall seconds of one warm pass (for medallion: one ``daily_run``
#: + ``monitoring``) on a 4-core host. The warm passes of a run fill
#: ``--seconds`` nominally, so a run measures the same number of passes on
#: any host, only for longer on a slower one: a pass count that followed
#: the host's speed would move the medians with it.
WARM_PASS_S = {"queries": 4.0, "medallion": 3.0}

#: Passes after the cold one that only warm up. Less the JIT compiler
#: threads (see ``cputime.py``), the CPU time of a pass settles after the
#: cold one.
WARMUP_PASSES = 1

#: Fewest warm passes in a run. A traced run measures this many, and so
#: does the untraced run it is compared with: the two together must end
#: within the time one run may take.
MIN_WARM_PASSES = 3

#: End-to-end metric -> the per-pass CPU figure it reports. ``first_pass_s``
#: (a single cold sample per run) and every wall-time figure are in the
#: details: on a shared 4-core host, wall time moved 2-3 fold when the host
#: stole cores, and over six seeds spread twice as wide as CPU time.
TRACKED = {"warm_pass_cpu_s": "warm_pass_s", "warm_query_cpu_geomean_s": "warm_query_geomean_s"}

#: Orders in the initial Bronze load, and the range of one daily slice.
MEDALLION_INITIAL = 50_000
MEDALLION_DAILY = (9_500, 10_501)


def later_passes(workload: str, seconds: int) -> int:
    """Passes after the first one: the warm-up ones, then the warm ones
    that fill ``seconds`` nominally, at least ``MIN_WARM_PASSES``."""
    warm = max(MIN_WARM_PASSES, round(seconds / WARM_PASS_S[workload]))
    return WARMUP_PASSES + warm


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Console:
    """The process's real stdout/stderr. The driver JVM and the Python
    workers inherit fds 1 and 2, which point at the run's log file, so
    Spark's output can neither interleave with the result line nor hide
    an ERROR from ``log.error_lines``."""

    def __init__(self, log_path: str) -> None:
        self.out = os.fdopen(os.dup(1), "w", buffering=1)
        self.err = os.fdopen(os.dup(2), "w", buffering=1)
        self.log_path = log_path
        sys.stdout.flush()
        sys.stderr.flush()
        fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        os.close(fd)

    def note(self, msg: str) -> None:
        print(f"# {msg}", file=self.err)

    def error_lines(self) -> list[str]:
        with open(self.log_path, errors="replace") as f:
            return [ln.rstrip() for ln in f if " ERROR " in ln]


#: The driver JVM's heap, well below the memory of a shared 15 GB host.
HEAP = "2g"


def prepare_env(work: str) -> dict:
    """Keep every file the run writes inside ``work``, size the JVM for a
    shared host and pin parallelism to the cores this process may use.
    Returns the extra Spark confs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    })
    return {
        # The heap starts at its full size: grown from a small one, G1 ran
        # concurrent marking cycles back to back after humongous allocations
        # in some runs and not in others (226 cycles against 8 in a run),
        # which doubled a pass's CPU time. A fixed set of JIT compiler
        # threads lets ``cputime.CpuMeter`` leave them out; dynamic ones
        # start and end within one operation.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def digest(pdf) -> str:
    """Order-insensitive identity of a result: column names, row count and
    a hash of the canonical rows, canonicalized as the parity tests do."""
    from tests.test_parity import _canon

    cols, rows = _canon(pdf)
    h = hashlib.sha1(repr((cols, rows)).encode()).hexdigest()[:16]
    return f"{len(rows)}r:{','.join(cols)}:{h}"


def quick_digest(pdf) -> str:
    """A cheaper order-insensitive identity of a result, to compare the
    executions of one query with each other: column names, row count and
    the wrapping sum of the row hashes of its text form."""
    import pandas as pd

    h = int(pd.util.hash_pandas_object(pdf.astype(str), index=False).to_numpy().sum())
    return f"{len(pdf)}r:{','.join(map(str, pdf.columns))}:{h:016x}"


def host_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """State of one benchmark run: session, inputs, timings, checks."""

    def __init__(self, args, spark, tracer, console, work) -> None:
        self.args = args
        self.spark = spark
        self.tracer = tracer
        self.console = console
        self.work = work
        import numpy as np

        self.rng = np.random.default_rng(args.seed)
        self.seconds = 0 if args.trace else args.seconds  # 0: the fewest warm passes
        self.cpu = CpuMeter()
        self.passes: list[dict[str, float]] = []  # wall seconds of each operation, per pass
        self.cpu_passes: list[dict[str, float]] = []  # CPU seconds of each operation, per pass
        self.op_s: dict[str, float] = {}  # the current pass's wall seconds
        self.op_cpu: dict[str, float] = {}  # the current pass's CPU seconds
        self.op_layer: dict[str, str] = {}  # operation -> the layer that registered it
        self.digests: dict[str, list[str | None]] = {}  # query -> quick digest per pass
        self.first: dict[str, tuple[str, str]] = {}  # query -> (digest, quick digest) of its first result
        self.failures: list[dict] = []
        self.attempted = 0
        self.groups: dict[str, list[tuple[str, str]]] = {}  # layer -> [(trace id, phase)]
        self.phase_s: dict[str, dict[str, float]] = {}  # layer -> phase -> seconds
        self.detail: dict = {}
        self.rows = 0  # medallion: orders generated so far
        self.pass_steal: list[float] = []  # host steal share of each pass

    @contextlib.contextmanager
    def metered_pass(self):
        """One pass: collect the operations' wall and CPU seconds. Each pass
        starts from collected Python and JVM heaps, so that no pass pays for
        its predecessor's garbage, and records the share of CPU time the
        host stole during it: why its wall time reads slow."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.op_s, self.op_cpu = {}, {}
        s0, t0 = host_steal_jiffies()
        yield
        s1, t1 = host_steal_jiffies()
        self.pass_steal.append((s1 - s0) / max(1, t1 - t0))
        self.passes.append(self.op_s)
        self.cpu_passes.append(self.op_cpu)

    # -- one operation ---------------------------------------------------
    def _phase(self, tid: str, layer: str, phase: str, fn, arg):
        """Run ``fn(arg)`` as one phase of traced operation ``tid``: its
        Spark jobs carry the job group ``tid|phase`` and it gets a span."""
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{tid}|{phase}", tid)
        self.groups.setdefault(layer, []).append((tid, phase))
        try:
            with self.tracer.span(phase) as s:
                out = fn(arg)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        d = self.phase_s.setdefault(layer, {})
        d[phase] = d.get(phase, 0.0) + s["end"] - s["start"]
        return out

    def _timed(self, op: str, tid: str, layer: str, steps):
        """Run operation ``op``: ``steps`` are (phase, fn) pairs, each fn
        taking the previous one's result. Returns the last result; the
        operation's wall and CPU seconds go into the current pass."""
        self.attempted += 1
        self.op_layer[op] = layer
        traced = self.tracer is not None
        c = self.cpu.read()
        t = time.perf_counter()
        out = None
        with self.tracer.span(f"op:{tid}", trace_id=tid) if traced else contextlib.nullcontext():
            for phase, fn in steps:
                out = self._phase(tid, layer, phase, fn, out) if traced else fn(out)
        self.op_s[op] = time.perf_counter() - t
        self.op_cpu[op] = self.cpu.read() - c
        return out

    # -- queries ----------------------------------------------------------
    def query_pass(self, inputs: dict[str, str]) -> None:
        """One pass over the queries of ``inputs`` (query -> its input
        directory) in a seed-drawn order."""
        idx = len(self.passes)
        with self.metered_pass():
            for q in self.rng.permutation(sorted(inputs)).tolist():
                self.run_query(q, idx, inputs[q])

    def run_query(self, q: str, idx: int, data_dir: str) -> None:
        """Build, plan and collect query ``q``; its result's quick digest
        goes into ``self.digests``."""
        from databricks_sales_etl_pipeline_spark.registry import QUERIES

        layer = QUERIES[q].__module__.split(".")[1]
        steps = [
            ("build", lambda _: QUERIES[q](self.spark, data_dir)),
            ("plan", lambda df: (df._jdf.queryExecution().executedPlan(), df)[1]),
            ("exec", lambda df: df.toPandas()),
        ]
        try:
            pdf = self._timed(q, f"{q}#{idx}", layer, steps)
            quick = quick_digest(pdf)
            if q not in self.first:
                self.first[q] = (digest(pdf), quick)
            self.digests.setdefault(q, []).append(quick)
        except Exception as exc:  # noqa: BLE001 -- counted as a failed operation
            self.fail(q, idx, f"{type(exc).__name__}: {exc}"[:300])
            self.digests.setdefault(q, []).append(None)

    def fail(self, op: str, pass_idx: int, why: str) -> None:
        self.failures.append({"op": op, "pass": pass_idx, "why": why})
        self.console.note(f"FAILED {op} pass {pass_idx}: {why}")

    def check_queries(self, names: list[str], duck_glob: str) -> None:
        """Compare each query's first result with its DuckDB oracle on the
        same input, and every later result with the first one, so that
        nondeterminism across passes shows; a query without an oracle is
        checked against its own first result only. Each wrong execution
        counts as failed."""
        import duckdb

        from databricks_sales_etl_pipeline_spark.catalog import TABLES
        from databricks_sales_etl_pipeline_spark.registry import ORACLES

        con = duckdb.connect()
        con.execute(f"SET threads TO {os.environ['SPARK_GRAFT_CPUS']}")
        con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{duck_glob.format(t=t)}')")
        checks = {}
        for q in names:
            if q not in self.first:
                continue  # every execution failed, and was counted then
            got, quick = self.first[q]
            wrong = None
            if q in ORACLES:
                try:
                    want = digest(con.execute(ORACLES[q]).df())
                except Exception as exc:  # noqa: BLE001 -- a broken oracle fails the query
                    want = f"oracle error: {exc}"[:200]
                if got != want:
                    wrong = f"result {got} != oracle {want}"
            checks[q] = "oracle" if q in ORACLES else "first pass"
            for i, d in enumerate(self.digests[q]):
                if d is not None and (wrong or d != quick):
                    self.fail(q, i, wrong or f"result {d} != first result {quick}")
        con.close()
        self.detail.setdefault("checks", {}).update(checks)

    # -- medallion --------------------------------------------------------
    def medallion(self) -> None:
        import duckdb

        from databricks_sales_etl_pipeline_spark.plans import medallion as md

        m = md.Medallion(os.path.join(self.work, "medallion"))
        spark = self.spark
        with self.metered_pass():
            report = self._step(0, "initial_run", lambda: md.initial_run(spark, m, n=MEDALLION_INITIAL))
        self.rows = MEDALLION_INITIAL
        if report is not None and (report["n_rows"], report["duplicate_order_ids"],
                                   any(report["null_counts"].values())) != (self.rows, 0, False):
            self.fail("initial_run", 0, f"quality report {report}")
        days = later_passes("medallion", self.seconds)
        slices = [int(self.rng.integers(*MEDALLION_DAILY)) for _ in range(days)]
        for day, n in enumerate(slices, start=1):
            self.medallion_day(md, m, day, n)
        self.detail["daily_slices"] = slices
        self.detail["expected_rows"] = self.rows
        # end-state checks, outside every timed region and not through the
        # io module, whose calls the traced run counts
        last = len(self.passes) - 1
        rows = {k: spark.read.parquet(p).count() for k, p in (("bronze", m.bronze), ("silver", m.silver))}
        if rows != {"bronze": self.rows, "silver": self.rows}:
            self.fail("daily_run", last, f"rows {rows} != {self.rows} generated")
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
        want = digest(con.execute(GOLD_CATEGORY_ORACLE.format(silver=m.silver)).df())
        con.close()
        got = digest(spark.read.parquet(m.gold("category_analytics")).toPandas())
        if got != want:
            self.fail("daily_run", last, f"gold category {got} != duckdb {want}")

    def _step(self, day: int, name: str, fn):
        """One timed pipeline step; an exception is a failed operation."""
        try:
            return self._timed(name, f"{name}#{day}", "plans", [("exec", lambda _: fn())])
        except Exception as exc:  # noqa: BLE001 -- counted as a failed operation
            self.fail(name, day, f"{type(exc).__name__}: {exc}"[:300])
            return None

    def medallion_day(self, md, m, day: int, n: int) -> None:
        """``daily_run`` of ``n`` orders, then ``monitoring``: one pass."""
        spark = self.spark
        with self.metered_pass():
            self._step(day, "daily_run", lambda: md.daily_run(spark, m, n_orders=n))
            self.rows += n
            rows = self._step(day, "monitoring", lambda: md.monitoring(spark, m).collect())
        seen = {(r["bronze_rows"], r["silver_rows"]) for r in rows or []}
        if rows is not None and seen != {(self.rows, self.rows)}:
            self.fail("monitoring", day, f"layer rows {seen} != {self.rows}")


#: DuckDB twin of ``gold_group_analytics(silver, "category")``, run over the
#: Silver files the pipeline wrote.
GOLD_CATEGORY_ORACLE = """
    SELECT category, COUNT(*) AS n_orders,
           SUM(CAST(FLOOR((quantity * price) * 100 + 0.5) AS BIGINT)) / 100.0 AS revenue,
           (SUM(CAST(FLOOR((quantity * price) * 100 + 0.5) AS BIGINT)) / 100.0) / COUNT(*)
               AS avg_order,
           COUNT(DISTINCT customer_id) AS unique_customers
    FROM read_parquet('{silver}/*.parquet') GROUP BY category"""


def one_core_probe(spark) -> float:
    """A host-speed probe in ``bench.py``'s one-core shape: xxhash64 over
    range(4M) in one task, timed after a warm-up at other bounds (a
    repeated identical plan would time the result cache, not the host)."""
    from pyspark.sql import functions as F

    def probe(lo: int) -> None:
        spark.range(lo, lo + 4_000_000, 1, 1).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1000)))
        ).collect()

    probe(1)
    t = time.perf_counter()
    probe(0)
    return time.perf_counter() - t


#: Files per table, and row groups per file, in the re-split copy. The
#: counts are fixed, so every seed gives a scan the same number of tasks:
#: with 4-8 files drawn per seed, a query's CPU time followed the draw.
RESPLIT_FILES = 6
RESPLIT_ROW_GROUPS = 3


def resplit(src: str, out_dir: str, seed: int) -> dict:
    """Write each fixture table's rows, in the same order, as a directory of
    ``RESPLIT_FILES`` files (``<table>.parquet/part-NNNNN.parquet``) of
    ``RESPLIT_ROW_GROUPS`` row groups each: the layout real corpora arrive
    in. The seed moves each file boundary by up to a quarter of a file from
    the even split. Returns the layout per table."""
    import numpy as np
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    layout = {}
    for f in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, f))
        d = os.path.join(out_dir, f)
        os.makedirs(d)
        n_files = min(t.num_rows, RESPLIT_FILES)
        step = t.num_rows / n_files
        jitter = rng.uniform(-0.25, 0.25, n_files - 1) * step
        cuts = [round((i + 1) * step + j) for i, j in enumerate(jitter)]
        bounds = [0, *cuts, t.num_rows]
        groups = 0
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            rg = max(1, -(-(hi - lo) // RESPLIT_ROW_GROUPS))
            pq.write_table(t.slice(lo, hi - lo), os.path.join(d, f"part-{i:05d}.parquet"),
                           row_group_size=rg)
            groups += -(-(hi - lo) // rg)
        layout[f.removesuffix(".parquet")] = {"files": n_files, "row_groups": groups,
                                              "file_rows": np.diff(bounds).tolist()}
    return layout


def prepare_inputs(run: Run) -> dict[str, tuple[str, str]]:
    """The input tables of the ``queries`` workload: input -> (Spark dir,
    DuckDB glob), for the fixture and its re-split copy."""
    from bench import _fixture_stamp

    run.detail["fixture"] = _fixture_stamp(FIXTURE)["size_digest"]
    data = os.path.join(run.work, "data")
    run.detail["layout"] = resplit(FIXTURE, data, run.args.seed)
    run.detail["resplit"] = {t: _fixture_stamp(os.path.join(data, f"{t}.parquet"))["size_digest"]
                             for t in run.detail["layout"]}
    return {"fixture": (FIXTURE, os.path.join(FIXTURE, "{t}.parquet")),
            "resplit": (data, os.path.join(data, "{t}.parquet", "*.parquet"))}


def run_workload(run: Run) -> None:
    """Measure the workload and check its outputs."""
    args = run.args
    if args.workload == "medallion":
        run.medallion()
        return
    inputs = prepare_inputs(run)
    dirs = {q: inputs[kind][0] for kind, names in QUERY_INPUTS.items() for q in names}
    for _ in range(1 + later_passes(args.workload, run.seconds)):
        run.query_pass(dirs)  # the first one is cold: a fresh JVM
    for kind, names in QUERY_INPUTS.items():
        run.check_queries(names, inputs[kind][1])


def layer_metrics(run: Run, snap: dict, setup: dict, errors: int) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, as per-pass means over the traced
    passes unless the name says otherwise, and the reason behind each
    figure that is 0 because nothing of its kind ran."""
    import tracing as tr

    tracer, n = run.tracer, len(run.passes)
    out: dict[str, tuple[float, str]] = {}
    why: dict[str, str] = {}
    nproc = int(os.environ["SPARK_GRAFT_CPUS"])
    for layer in LAYERS:
        groups = run.groups.get(layer, [])
        ph = run.phase_s.get(layer, {})
        m = tr.group_metrics(snap, {f"{t}|{p}" for t, p in groups})
        build = tr.group_metrics(snap, {f"{t}|{p}" for t, p in groups if p == "build"})
        wall = sum(ph.values())
        cpu = sum(v for p in run.cpu_passes for op, v in p.items() if run.op_layer[op] == layer)
        vals = {
            "cpu_s": (cpu, "s"),
            "build_s": (ph.get("build", 0.0), "s"),
            "build_jobs": (build["jobs"], "count"),
            "plan_s": (ph.get("plan", 0.0), "s"),
            "exec_s": (ph.get("exec", 0.0), "s"),
            "jobs": (m["jobs"], "count"),
            "stages": (m["stages"], "count"),
            "tasks": (m["tasks"], "count"),
            "failed_tasks": (m["failed_tasks"], "count"),
            "executor_run_s": (m["executor_run_s"], "s"),
            "executor_cpu_s": (m["executor_cpu_s"], "s"),
            "shuffle_write_mb": (m["shuffle_write_mb"], "MB"),
            "shuffle_read_mb": (m["shuffle_read_mb"], "MB"),
            "spill_mb": (m["spill_mb"], "MB"),
            "input_mb": (m["input_mb"], "MB"),
            "python_run_s": (m["python_run_s"], "s"),
            "python_boot_s": (m["python_boot_s"], "s"),
            "python_sent_mb": (m["python_sent_mb"], "MB"),
        }
        for k, (v, unit) in vals.items():
            out[f"{layer}.{k}"] = (v / n, unit)
        out[f"{layer}.executor_busy_frac"] = (
            m["executor_run_s"] / (wall * nproc) if wall else 0.0, "ratio")
        if not groups:
            for k in [*vals, "executor_busy_frac"]:
                why[f"{layer}.{k}"] = f"no {layer} operation in workload {run.args.workload}"
        elif not m["python_run_s"]:
            for k in ("python_run_s", "python_boot_s", "python_sent_mb"):
                why[f"{layer}.{k}"] = f"no Python worker ran in layer {layer}"
        if groups and run.args.workload == "medallion":
            for k in ("build_s", "build_jobs", "plan_s"):
                why[f"{layer}.{k}"] = "pipeline steps are actions: no separate build or plan"
    every = [{f"{t}|{p}" for t, p in g} for g in run.groups.values()]
    alltags = set().union(*every) if every else set()
    total = tr.group_metrics(snap, alltags)
    c = tracer.counts
    for name, key in [
        ("functions.par.by_key_calls", "functions.par.by_key"),
        ("functions.localrel.local_df_calls", "functions.localrel.local_df"),
        ("spark.local_checkpoint_eager", "spark.local_checkpoint_eager"),
        ("spark.local_checkpoint_lazy", "spark.local_checkpoint_lazy"),
        ("spark.broadcast_hints", "spark.broadcast_hints"),
        ("catalog.load_calls", "catalog.load"),
    ]:
        out[name] = (c[key] / n, "count")
    out["catalog.scan_tasks"] = (total["scan_tasks"] / n, "count")
    out["spark.stage_retries"] = (total["stage_retries"], "count")
    out["session.get_spark_s"] = (setup["get_spark_s"], "s")
    out["registry.load_all_s"] = (setup["load_all_s"], "s")
    out["log.error_lines"] = (errors, "count")
    out.update(medallion_metrics(run, snap))
    if run.args.workload != "medallion":
        for k in out:
            if k.startswith(("io.", "plans.medallion.", "operators.dq.")):
                why[k] = "the write path runs only in workload medallion"
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}, why


def medallion_metrics(run: Run, snap: dict) -> dict[str, tuple[float, str]]:
    import tracing as tr

    tracer, n = run.tracer, len(run.passes)
    c, sec = tracer.counts, tracer.seconds
    base = os.path.join(run.work, "medallion")

    def files(table: str) -> int:
        d = os.path.join(base, table)
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else 0

    def per_day(step: str, key: str) -> float:
        vals = [tr.group_metrics(snap, {f"{step}#{d}|exec"})[key] for d in range(1, len(run.passes))]
        return statistics.median(vals) if vals else 0.0

    rows = run.rows
    stored = tr.dir_bytes(os.path.join(base, "bronze_sales_raw")) \
        + tr.dir_bytes(os.path.join(base, "silver_sales_clean"))
    return {
        "io.write_calls": (c["io.write"] / n, "count"),
        "io.write_s": (sec["io.write"] / n, "s"),
        "io.read_calls": (c["io.read"] / n, "count"),
        "io.bytes_written_mb": (c["io.bytes_written"] / n / 2**20, "MB"),
        "io.stored_bytes_per_row": (stored / (2 * rows) if rows else 0.0, "B"),
        "io.files_bronze": (files("bronze_sales_raw"), "count"),
        "io.files_silver": (files("silver_sales_clean"), "count"),
        "io.daily_input_mb": (per_day("daily_run", "input_mb"), "MB"),
        "plans.medallion.daily_jobs": (per_day("daily_run", "jobs"), "count"),
        "plans.medallion.monitoring_jobs": (per_day("monitoring", "jobs"), "count"),
        "operators.dq.report_s": (sec["operators.dq.report"], "s"),
    }


def untraced_run(args, console: Console) -> dict:
    """Run this benchmark untraced, in a child process, on the same
    workload and seed, with the fewest warm passes; return its end-to-end metrics and its warm
    pass's wall seconds. The tracing overhead is the traced run's warm pass
    against the untraced one's."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--trace", "0"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=console.err, text=True,
                       timeout=120)
    if r.returncode != 0:
        raise RuntimeError(f"untraced run exited {r.returncode}")
    detail_line, result_line = r.stdout.strip().splitlines()[-2:]
    return {"metrics": {k: v["value"] for k, v in json.loads(result_line)["metrics"].items()},
            "warm_pass_wall_s": json.loads(detail_line)["detail"]["warm_pass_wall_s"]}


def stop_spark() -> None:
    """Stop the session, then the driver JVM (it exits when its stdin
    closes), and wait for it; its Python workers exit with it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 -- a stuck JVM is killed, never left behind
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    conf = prepare_env(work)
    console = Console(os.path.join(work, "driver.log"))
    try:
        result, detail = measure(args, conf, console, work)
    except Exception:  # noqa: BLE001 -- report, exit nonzero, print no result
        console.err.write(traceback.format_exc())
        with open(console.log_path, errors="replace") as f:
            console.err.write(f"--- driver log tail ---\n{f.read()[-3000:]}\n")
        return 1
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    console.out.write(json.dumps({"detail": detail}) + "\n")
    console.out.write(json.dumps(result) + "\n")
    return 0


def measure(args, conf, console, work):
    import tracing as tr

    from databricks_sales_etl_pipeline_spark import registry, session

    t0, tracer = T0, None
    if args.trace:
        untraced = untraced_run(args, console)
        t0 = time.perf_counter()  # the traced run's set-up starts here
        tracer = tr.Tracer()
        tr.install(tracer)
        conf = {**conf, **TRACE_CONF}
    t = time.perf_counter()
    registry.load_all()
    load_all_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = session.get_spark("perfbench", **conf)
    get_spark_s = time.perf_counter() - t
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    if tracer is not None:
        tr.install_late(tracer)
    setup = {"setup_s": setup_s, "load_all_s": load_all_s, "get_spark_s": get_spark_s}
    console.note(f"{args.workload} seed {args.seed}: session up in {setup_s:.2f}s")

    run = Run(args, spark, tracer, console, work)
    run_workload(run)
    warmup = WARMUP_PASSES
    wall = stats.pass_stats(run.passes, warmup)
    cpu = stats.pass_stats(run.cpu_passes, warmup)
    e2e = {name: cpu[key] for name, key in TRACKED.items()}
    rss = vm_hwm_mb(os.getpid())
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    rss += vm_hwm_mb(jvm_pid)
    metrics, overhead = {}, {}
    if tracer is not None:
        errors_so_far = len(console.error_lines())
        metrics, why = layer_metrics(run, tr.Rest(spark).snapshot(), setup, errors_so_far)
        overhead = {
            "traced_warm_pass_cpu_s": e2e["warm_pass_cpu_s"],
            "untraced_warm_pass_cpu_s": untraced["metrics"]["warm_pass_cpu_s"],
            "overhead_frac": e2e["warm_pass_cpu_s"] / untraced["metrics"]["warm_pass_cpu_s"] - 1.0,
            "traced_warm_pass_wall_s": wall["warm_pass_s"],
            "untraced_warm_pass_wall_s": untraced["warm_pass_wall_s"],
        }
        metrics["trace.overhead_frac"] = {"value": overhead["overhead_frac"], "unit": "ratio"}
    probe = one_core_probe(spark)
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": SF,
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "host_probe_one_core_s": probe,
        "passes": len(run.passes),
        "warmup_passes": warmup,
        "pass_s": run.passes,
        "pass_cpu_s": run.cpu_passes,
        "pass_host_steal": run.pass_steal,
        "failures": run.failures,
        "failed_frac": len(run.failures) / run.attempted,
        **run.detail,
        "setup": setup,
        "peak_rss_mb": rss,
        "first_pass_wall_s": wall["first_pass_s"],
        "first_pass_cpu_s": cpu["first_pass_s"],
        "warm_pass_wall_s": wall["warm_pass_s"],
        "warm_query_wall_geomean_s": wall["warm_query_geomean_s"],
        "median_warm_wall_s": stats.warm_medians(run.passes, warmup),
        "median_warm_cpu_s": stats.warm_medians(run.cpu_passes, warmup),
    }
    if args.workload == "medallion":
        detail["initial_run_wall_s"] = run.passes[0].get("initial_run")
        detail["initial_run_cpu_s"] = run.cpu_passes[0].get("initial_run")
    errors = console.error_lines()
    detail["log_error_lines"] = len(errors)
    detail["log_error_samples"] = sorted({ln.split(" ERROR ", 1)[1][:160] for ln in errors})[:5]
    if tracer is not None:
        detail["tracing"] = overhead
        detail["zero_reasons"] = why
        out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(out)
        detail["spans"] = os.path.relpath(out, ROOT)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            **{k: {"value": v, "unit": "s"} for k, v in e2e.items()},
        }
    failed = len(run.failures)
    result = {"correct": failed == 0, "attempted": run.attempted, "failed": failed,
              "metrics": metrics}
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
