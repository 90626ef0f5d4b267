"""Regenerate ``fixtures/eventlog_small.jsonl`` for ``test_eventlog.py``.

Runs two small jobs on ``local[2]`` with the event log on: a two-stage
aggregate under job group ``bench:p0:q:exec`` and an ungrouped count.
Only the events and fields that ``eventlog.py`` reads are kept, so the
fixture stays small and readable. Usage, from the repository root::

    python3 perfbench/tests/make_eventlog_fixture.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE)]

import eventlog  # noqa: E402

KEEP_TASK = ("Executor Run Time", "Executor CPU Time", "JVM GC Time",
             "Disk Bytes Spilled", "Input Metrics", "Shuffle Read Metrics",
             "Shuffle Write Metrics")


def _trim(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        return {"Event": kind, "Job ID": ev["Job ID"],
                "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"],
                "Properties": {k: v for k, v in props.items()
                               if k == "spark.jobGroup.id"}}
    if kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        return {"Event": kind, "Stage Info": {
            "Stage ID": info["Stage ID"], "Number of Tasks": info["Number of Tasks"]}}
    m = ev["Task Metrics"]
    return {"Event": kind, "Stage ID": ev["Stage ID"],
            "Stage Attempt ID": ev["Stage Attempt ID"],
            "Task Metrics": {k: m[k] for k in KEEP_TASK if k in m}}


def main() -> int:
    from pyspark.sql import SparkSession

    log_dir = tempfile.mkdtemp(prefix="perfbench_eventlog_")
    try:
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.ui.showConsoleProgress", "false")
                 .config("spark.sql.adaptive.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "3")
                 .config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.dir", "file://" + log_dir)
                 .getOrCreate())
        sc = spark.sparkContext
        sc.setJobGroup("bench:p0:q:exec", "fixture")
        (spark.range(0, 10000, 1, 4).selectExpr("id % 7 AS k")
         .groupBy("k").count().collect())
        sc.setJobGroup("other", "fixture")
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(0, 100, 1, 2).count()
        spark.stop()
        events = []
        for path in eventlog.log_files(log_dir):
            with open(path) as f:
                events += eventlog.read_events(f)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    out = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")
    with open(out, "w") as f:
        for ev in events:
            f.write(json.dumps(_trim(ev), sort_keys=True) + "\n")
    print(f"wrote {len(events)} events to {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
