"""Markdown tables for an A/B made by ``ab.sh``: per workload and
end-to-end metric, each side's median [quartiles], the ratio of medians,
the pairs (same seed) the change wins and the parent's quartile distance;
then the traced per-layer metrics side by side.

Usage: python3 plans/pr4/table.py OUT_DIR
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

METRICS = ("pass_s", "first_pass_s", "setup_s", "peak_rss_mb")
TRACED = ("pipeline.sync_s", "pipeline.universal_cleaning_s",
          "pipeline.validate_s", "pipeline.transform_parallel_s",
          "pipeline.warehouse_merge_s", "pipeline.orchestration_s",
          "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
          "exec.scan_mb", "exec.core_util")


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def metric(rec: dict, name: str) -> float:
    return rec["result"]["metrics"][name]["value"]


def main(out: str) -> None:
    side = {s: load(os.path.join(out, f"{s}_untraced.jsonl"))
            for s in ("parent", "change")}
    failed = sum(r["result"]["failed"] for rs in side.values() for r in rs)
    print("| workload | metric | parent | change | change / parent "
          "| change wins | parent q3-q1 |")
    print("| --- | --- | --- | --- | --- | --- | --- |")
    for wl in sorted({r["workload"] for r in side["parent"]}, reverse=True):
        by_seed = {s: {r["seed"]: r for r in rs if r["workload"] == wl}
                   for s, rs in side.items()}
        seeds = sorted(by_seed["parent"].keys() & by_seed["change"].keys())
        for m in METRICS:
            v = {s: np.array([metric(by_seed[s][k], m) for k in seeds])
                 for s in side}
            q = {s: np.percentile(v[s], [25, 50, 75]) for s in side}
            wins = int((v["change"] < v["parent"]).sum())
            cell = {s: f"{q[s][1]:.2f} [{q[s][0]:.2f}, {q[s][2]:.2f}]"
                    for s in side}
            print(f"| {wl} | {m} | {cell['parent']} | {cell['change']} "
                  f"| {q['change'][1] / q['parent'][1]:.3f} "
                  f"| {wins}/{len(seeds)} | {q['parent'][2] - q['parent'][0]:.2f} |")
    print(f"\nfailed operations, all untraced runs: {failed}\n")
    traced = {s: load(os.path.join(out, f"{s}_traced.jsonl"))[-1]
              for s in side}
    print("| metric | parent | change |")
    print("| --- | --- | --- |")
    for m in TRACED:
        print(f"| {m} | {metric(traced['parent'], m):.3f} "
              f"| {metric(traced['change'], m):.3f} |")


if __name__ == "__main__":
    main(sys.argv[1])
