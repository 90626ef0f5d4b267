"""Per-layer metrics of a traced run.

Every number comes from outside the engine: the benchmark's own spans
around calls into public functions, Spark's event log, a streaming query
listener, and the ``run_log.jsonl`` that ``pipeline.run`` writes. Values
are per pass; the reported metric is the median over the warm passes,
except ``exec.codegen_compiles``, which counts every compilation in the
timed region (cold passes are where they happen).
"""

from __future__ import annotations

import datetime as dt
import statistics
import threading
import time

import eventlog

STEPS = ("sync", "universal_cleaning", "validate", "transform_parallel",
         "warehouse_merge")
EXEC_FIELDS = ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
               "scan_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
               "task_skew")

#: per-layer metric -> unit, in report order
UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plan.plan_s": "s",
    "exec.exec_s": "s", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.scan_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.core_util": "ratio", "exec.task_skew": "ratio",
    "exec.codegen_compiles": "count",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.overhead_s": "s",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    **{f"pipeline.{s}_s": "s" for s in STEPS},
    "pipeline.orchestration_s": "s",
    "sources.written_mb": "MB", "sources.files_written": "count",
    "sources.write_amp": "ratio",
    "host.ref_start_s": "s", "host.ref_end_s": "s", "host.ref_drift": "ratio",
    "host.loadavg_1m": "load", "host.foreign_cores": "cores",
}


class ProgressRecorder:
    """``StreamingQueryListener`` that keeps every progress report."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self
        self.events: list[dict] = []
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                row = {
                    "t": dt.datetime.fromisoformat(
                        p.timestamp.replace("Z", "+00:00")).timestamp(),
                    "run_id": str(p.runId), "batch": p.batchId,
                    "rows": p.numInputRows,
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "add_batch_ms": p.durationMs.get("addBatch", 0),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                }
                with rec._lock:
                    rec.events.append(row)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def settled(self, quiet_s: float = 0.2, max_s: float = 2.0) -> list[dict]:
        """The reports so far, once none has arrived for ``quiet_s``:
        the listener bus delivers them asynchronously."""
        deadline, seen = time.time() + max_s, -1
        while time.time() < deadline:
            with self._lock:
                n = len(self.events)
            if n == seen:
                break
            seen = n
            time.sleep(quiet_s)
        with self._lock:
            return list(self.events)


def _median(vals: list[float]) -> float:
    return statistics.median(vals) if vals else 0.0


def attribute(tracer, run_ids: dict[str, tuple[int, str]]):
    """The job-key function for :func:`eventlog.summarise`.

    Benchmark job groups ``bench:p{pass}:{query}:{phase}`` name their key
    (check jobs are left out); pipeline groups ``{run_id}:{step}:{attempt}``
    map through the run ids the pipeline returned; any other job (a
    streaming micro-batch under Spark's per-run group) is charged to the
    catalog query whose span was open when it was submitted."""

    def key_of(group: str | None, t: float) -> str | None:
        if group and group.startswith("bench:"):
            parts = group.split(":")
            if len(parts) == 4 and parts[3] in ("build", "exec"):
                return f"{parts[1]}:{parts[2]}:{parts[3]}"
            return None
        if group:
            rid, _, rest = group.partition(":")
            if rid in run_ids:
                p, run = run_ids[rid]
                return f"p{p}:{run}:{rest.rsplit(':', 1)[0]}"
        q = tracer.enclosing(t, "query")
        if q is not None:
            return f"p{q.attrs['index']}:{q.attrs['query']}:stream"
        return None

    return key_of


def per_pass(tracer, ctx, walls: list[float], jobs: dict[str, dict],
             progress: list[dict], cores: int) -> list[dict]:
    """Layer metrics of every pass, in pass order."""
    out = []
    for p, wall in enumerate(walls):
        m: dict[str, float] = {}
        spans = [s for s in tracer.spans
                 if s.name in ("query", "run") and s.attrs.get("index") == p]
        ids = {s.id for s in spans}
        for layer, name in (("plans.build_s", "build"), ("plan.plan_s", "plan"),
                            ("exec.exec_s", "exec")):
            m[layer] = sum(s.dur for s in tracer.spans
                           if s.name == name and s.parent in ids)
        m["plans.build_jobs"] = sum(v for k, v in ctx.build_jobs.items()
                                    if k.startswith(f"p{p}:"))
        ex = eventlog.merge(v for k, v in jobs.items()
                            if k.startswith(f"p{p}:"))
        for f in EXEC_FIELDS:
            m[f"exec.{f}"] = ex[f]
        m["exec.core_util"] = ex["task_run_s"] / (wall * cores) if wall else 0.0

        q_ids = {s.id: s for s in spans if s.name == "query"}
        mine = [e for e in progress
                if (q := tracer.enclosing(e["t"], "query")) is not None
                and q.id in q_ids]
        m["streaming.batches"] = len(mine)
        m["streaming.trigger_s"] = sum(e["trigger_ms"] for e in mine) / 1000
        m["streaming.add_batch_s"] = sum(e["add_batch_ms"] for e in mine) / 1000
        m["streaming.overhead_s"] = (m["streaming.trigger_s"]
                                     - m["streaming.add_batch_s"])
        last: dict[str, dict] = {}
        for e in mine:
            last[e["run_id"]] = e
        m["streaming.state_rows"] = sum(e["state_rows"] for e in last.values())
        m["streaming.state_mb"] = sum(
            e["state_bytes"] for e in last.values()) / eventlog.MB

        steps = [s for s in tracer.spans if s.name == "step" and s.parent in ids]
        for st in STEPS:
            m[f"pipeline.{st}_s"] = sum(s.dur for s in steps
                                        if s.attrs["step"] == st)
        m["pipeline.orchestration_s"] = (
            wall - sum(s.dur for s in steps) if steps else 0.0)
        written = ctx.written.get(p, [])
        m["sources.written_mb"] = sum(b for b, _ in written) / eventlog.MB
        m["sources.files_written"] = sum(n for _, n in written)
        m["sources.write_amp"] = (sum(b for b, _ in written) / ctx.landing_bytes
                                  if ctx.landing_bytes else 0.0)
        out.append(m)
    return out


def report(passes: list[dict], ctx, host: dict) -> dict[str, float]:
    """The per-layer metrics: warm-pass medians plus whole-run counters."""
    warm = passes[1:] or passes
    out = {}
    for name in UNITS:
        if name.startswith("host."):
            out[name] = host[name]
        elif name == "exec.codegen_compiles":
            out[name] = float(sum(ctx.codegen.values()))
        else:
            out[name] = float(_median([p[name] for p in warm]))
    return out


def add_pipeline_steps(tracer, run_log: list[tuple[int, dict]]) -> dict:
    """Add each ``run_log.jsonl`` step as a child span of its pipeline run;
    return ``run_id -> (pass, run name)``."""
    runs = {s.attrs["run_id"]: s for s in tracer.spans
            if s.name == "run" and "run_id" in s.attrs}
    for _, e in run_log:
        parent = runs.get(e["run_id"])
        if parent is not None:
            tracer.add("step", e["started_at"], e["finished_at"], parent.id,
                       step=e["step"], status=e["status"])
    return {rid: (s.attrs["index"], s.attrs["run"]) for rid, s in runs.items()}


def coverage(tracer, walls: list[float]) -> list[dict]:
    """Per pass: the wall, the time inside the child spans of its
    operations (build / plan / exec, or pipeline steps), and the rest,
    which is orchestration between them."""
    out = []
    for p, wall in enumerate(walls):
        ops = [s for s in tracer.spans
               if s.name in ("query", "run") and s.attrs.get("index") == p]
        inner = sum(s.dur - tracer.self_time(s) for s in ops)
        out.append({"pass": p, "wall_s": wall, "children_s": inner,
                    "orchestration_s": wall - inner})
    return out
