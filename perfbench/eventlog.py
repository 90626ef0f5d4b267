"""Summarise an uncompressed Spark event log into per-key exec metrics.

Each job is mapped to a key by a caller-supplied function of its job
group and submission time; every stage and task of the job is then
charged to that key. The event log is Spark's own record, so nothing in
the engine is instrumented to get these numbers.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from collections.abc import Callable, Iterable

MB = 1024 * 1024

#: the metrics one key accumulates, in report order
FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
          "scan_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
          "task_skew")

_WANTED = ("SparkListenerJobStart", "SparkListenerStageCompleted",
           "SparkListenerTaskEnd")


def log_files(log_dir: str) -> list[str]:
    """The event files of the one application logged under ``log_dir``,
    in order: a single file, or the numbered ``events_<n>_*`` parts of a
    rolling ``eventlog_v2_*`` directory."""
    (entry,) = os.listdir(log_dir)
    path = os.path.join(log_dir, entry)
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    parts.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
    return [os.path.join(path, n) for n in parts]


def read_events(lines: Iterable[str]) -> list[dict]:
    """Parse the events this module uses; other lines are skipped
    without a JSON parse."""
    out = []
    for line in lines:
        head = line[:64]
        if any(w in head for w in _WANTED):
            out.append(json.loads(line))
    return out


def _empty() -> dict:
    return {f: 0.0 for f in FIELDS} | {"_stage_times": {}}


def summarise(
    events: list[dict],
    key_of: Callable[[str | None, float], str | None],
) -> dict[str, dict[str, float]]:
    """Per-key totals. ``key_of(job_group, submit_epoch_s)`` names the key
    of a job, or ``None`` to leave it out. ``task_skew`` is the median
    over the key's stages (two tasks or more) of max / median task run
    time."""
    stage_key: dict[int, str] = {}
    acc: dict[str, dict] = defaultdict(_empty)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            key = key_of(group, ev.get("Submission Time", 0) / 1000.0)
            if key is None:
                continue
            acc[key]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key.setdefault(sid, key)  # a reused stage stays put
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                acc[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            key = stage_key.get(sid)
            m = ev.get("Task Metrics")
            if key is None or not m:
                continue
            a = acc[key]
            a["tasks"] += 1
            run_s = m.get("Executor Run Time", 0) / 1000.0
            a["task_run_s"] += run_s
            a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            a["scan_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            a["_stage_times"].setdefault(
                (sid, ev.get("Stage Attempt ID", 0)), []).append(run_s)
    for a in acc.values():
        a["_stage_times"] = list(a["_stage_times"].values())
        a["task_skew"] = stage_skew(a["_stage_times"])
    return dict(acc)


def stage_skew(per_stage_task_times: Iterable[list[float]]) -> float:
    """Median over stages of max / median task time; 1.0 when no stage
    has two tasks with a positive median."""
    ratios = []
    for times in per_stage_task_times:
        if len(times) >= 2:
            med = statistics.median(times)
            if med > 0:
                ratios.append(max(times) / med)
    return statistics.median(ratios) if ratios else 1.0


def merge(parts: Iterable[dict]) -> dict:
    """Add several keys' totals; ``task_skew`` is recomputed over the
    union of their stages."""
    out = _empty()
    out["_stage_times"] = []
    for p in parts:
        for f in FIELDS:
            out[f] += p[f]
        out["_stage_times"] += p["_stage_times"]
    out["task_skew"] = stage_skew(out["_stage_times"])
    return out


def public(summary: dict) -> dict[str, float]:
    """A summary without its working fields."""
    return {f: summary[f] for f in FIELDS}
