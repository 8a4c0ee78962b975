#!/usr/bin/env python3
"""Run the benchmark over several seeds and report the spread of each
end-to-end metric.

    python3 perfbench/sweep.py --seeds 101-110 --out sweep.jsonl [--trace 0]

Runs ``perfbench/run.py`` once per (seed, workload), workloads interleaved,
from the root of the checkout, with ``--seconds`` from BENCHMARK.json.
Each run's result is appended to ``--out`` as one JSON line with its host
record and wall time. At the end it prints, per workload and metric, the
median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seed_list(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    rec = {"workload": workload, "seed": seed, "exit": proc.returncode,
           "run_wall_s": round(time.perf_counter() - t0, 2)}
    lines = proc.stdout.strip().splitlines()
    for line in lines:
        if line.startswith("host "):
            rec["host"] = json.loads(line[5:])
        elif line.startswith("op") and " wall_s=" in line:
            rec.setdefault("op_walls", []).append(float(line.split(" wall_s=")[1].split()[0]))
    if proc.returncode == 0 and lines:
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workload", action="append", help="default: every workload")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    recs = []
    for seed in seed_list(args.seeds):
        for name in names:
            rec = run_once(name, seed, bench["run_seconds"], args.trace)
            recs.append(rec)
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            res = rec.get("result", {})
            brief = {k: round(m["value"], 3) for k, m in res.get("metrics", {}).items()
                     if args.trace == 0}
            print(f"{name} seed={seed} exit={rec['exit']} wall={rec['run_wall_s']} "
                  f"correct={res.get('correct')} {brief} ops={rec.get('op_walls')}", flush=True)

    total = sum(r["run_wall_s"] for r in recs)
    print(f"runs {len(recs)}, {total:.0f} s in all, {total / len(recs):.1f} s per run")
    bad = [r for r in recs if not r.get("result", {}).get("correct")]
    print(f"failed or incorrect runs: {len(bad)}")
    if args.trace:
        return 1 if bad else 0
    for name in names:
        got = [r["result"]["metrics"] for r in recs if r["workload"] == name and "result" in r]
        for m in bench["end_to_end"]:
            vals = [g[m["name"]]["value"] for g in got]
            if len(vals) >= 2:
                print(f"{name} {m['name']}: median {statistics.median(vals):.4g} "
                      f"spread {spread(vals):.3f} (bound {m['bound']})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
