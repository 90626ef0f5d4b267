"""Run the benchmark over several seeds and summarise the spread.

Usage, from the repository root::

    python3 perfbench/repeat.py --out runs.jsonl --seeds 1-10 [--trace 1]
        [--workloads catalog_batch,pipeline_nightly] [--busy 4]
    python3 perfbench/repeat.py --summarise runs.jsonl [more.jsonl ...]

Workloads are interleaved seed by seed, so a slow spell of the host lands
on all of them. Each run appends one JSON line: the workload, seed, exit
code, wall time, the summary line and the final result object.
``--busy N`` keeps N spinning processes alive during every run, which a
healthy host-health signal must flag as an invalid run.

The summary gives, per workload and metric, the median, the quartiles
and their distance as a share of the median (the spread), with the number
of runs.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import quartiles, spread  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spin() -> None:
    while True:
        pass


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    summary = next((ln for ln in lines if ln.startswith("perfbench: setup_s")), "")
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return {"workload": workload, "seed": seed, "trace": trace,
            "exit": proc.returncode, "wall_s": time.time() - t0,
            "summary": summary, "result": result}


def summarise(paths: list[str]) -> dict:
    values: dict[tuple, list[float]] = defaultdict(list)
    for path in paths:
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                res = rec.get("result") or {}
                for name, m in res.get("metrics", {}).items():
                    values[(rec["workload"], rec["trace"], name)].append(m["value"])
                values[(rec["workload"], rec["trace"], "run_wall_s")].append(
                    rec["wall_s"])
    out = {}
    for (wl, trace, name), vals in sorted(values.items()):
        q1, med, q3 = quartiles(vals)
        out.setdefault(f"{wl}/trace{trace}", {})[name] = {
            "n": len(vals), "median": med, "q1": q1, "q3": q3,
            "spread": spread(vals)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--busy", type=int, default=0)
    ap.add_argument("--summarise", nargs="+")
    args = ap.parse_args()
    if args.summarise:
        print(json.dumps(summarise(args.summarise), indent=1))
        return 0
    if not args.out:
        ap.error("--out is required to run")
    spinners = []
    ctx = multiprocessing.get_context("spawn")
    try:
        for _ in range(args.busy):
            p = ctx.Process(target=_spin, daemon=True)
            p.start()
            spinners.append(p)
        for seed in _seeds(args.seeds):
            for wl in args.workloads.split(","):
                rec = run_one(wl, seed, args.seconds, args.trace)
                rec["busy"] = args.busy
                with open(args.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(f"{wl} seed {seed}: exit {rec['exit']} "
                      f"{rec['wall_s']:.1f} s  {rec['summary']}", flush=True)
    finally:
        for p in spinners:
            p.terminate()
        for p in spinners:
            p.join(timeout=10)
    return 0


if __name__ == "__main__":
    sys.exit(main())
