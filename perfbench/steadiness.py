#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median) against its bound.

    python3 perfbench/steadiness.py --workload queries --seeds 1-5

Run from the root of a source checkout; runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import quartile_spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-5", help="inclusive range, e.g. 1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--save", help="append each run's detail and result lines to this file")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        cmd = [sys.executable, *bench["command"][1:], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(args.trace)]
        t = time.perf_counter()
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        run_s = time.perf_counter() - t
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}", file=sys.stderr)
            return 1
        lines = r.stdout.strip().splitlines()
        if args.save:
            with open(args.save, "a") as f:
                f.write("\n".join(lines[-2:]) + "\n")
        detail, result = json.loads(lines[-2])["detail"], json.loads(lines[-1])
        print(json.dumps({"seed": seed, "run_s": round(run_s, 1), "correct": result["correct"],
                          "failed": result["failed"],
                          **{k: round(v["value"], 4) for k, v in result["metrics"].items()},
                          "pass_wall_s": [round(sum(p.values()), 3) for p in detail["pass_s"]],
                          "pass_cpu_s": [round(sum(p.values()), 3) for p in detail["pass_cpu_s"]],
                          "pass_host_steal": [round(x, 3) for x in detail["pass_host_steal"]],
                          "host_probe_one_core_s": round(detail["host_probe_one_core_s"], 3)}),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, vals in values.items():
        spread = quartile_spread(vals) if len(vals) > 1 else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE")
        print(f"{k:28s} median {statistics.median(vals):10.4f}  spread {spread:6.3f}"
              f"  bound {b}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
