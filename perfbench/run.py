"""Benchmark of the engine: one workload, one seed, one fresh process.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catalog_batch --seed 1 \\
        --seconds 10 --trace 0

Workloads: ``catalog_batch``, ``catalog_streaming``, ``pipeline_nightly``
(see ``workloads.py``). The run starts a Spark session on
``local[<cores>]``, makes its inputs from the seed, then runs passes of
the workload as a closed loop with one client: a cold first pass, then
warm passes until ``--seconds`` have passed and the workload's minimum
number of warm passes is done. Outputs are checked outside the timed
spans; a failed check or operation counts in ``failed`` and makes the
exit code 1.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:

- ``setup_s``: process start until the session answers a trivial action;
- ``first_pass_s``: wall time of the first (cold) pass;
- ``pass_s``: median wall time of the warm passes;
- ``peak_rss_mb``: ``VmHWM`` of the driver JVM plus this process.

``error_rate`` (failed / attempted operations) is printed on the summary
line above it and is carried by ``attempted`` and ``failed``.

With ``--trace 1`` the session also writes Spark's uncompressed event log,
a streaming listener records progress, every phase runs under its own job
group and plans are forced separately; the last line carries the
per-layer metrics (``layers.py``) and the spans, per-pass and per-query
breakdowns are written to ``.perfbench/out/``. Tracing overhead is the
traced ``pass_s`` minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

import eventlog
import host
import layers
import workloads
from stats import Tracer, quartiles

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "nursing_home_data_etl_pipeline_spark"
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
              "peak_rss_mb": "MB"}


def process_start_epoch() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _jvm_pid(spark) -> int | None:
    """Pid of the driver JVM: the launcher process execs into it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def main(argv=None) -> int:
    started = process_start_epoch()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a full "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TZ": "UTC", "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_CPUS": str(cores), "SPARK_GRAFT_DRIVER_MEM": "2g",
        # no JVM performance-data file under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    time.tzset()
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        events_dir = os.path.join(work, "eventlog")
        os.makedirs(events_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + events_dir})
    try:
        from nursing_home_data_etl_pipeline_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=conf)
        spark.range(1).count()
        setup_s = time.time() - started
        return _measure(args, spark, setup_s, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, spark, setup_s, work, cores) -> int:
    tracer = Tracer()
    ctx = workloads.Ctx(spark, tracer, work, args.seed, bool(args.trace))
    wl = workloads.make(args.workload)
    jvm = _jvm_pid(spark)
    try:
        wl.prepare(ctx)
        recorder = None
        if args.trace:
            recorder = layers.ProgressRecorder()
            spark.streams.addListener(recorder.listener)
        ref_start = host.warm_ref(spark)
        load = host.ForeignLoad()
        walls: list[float] = []
        t0 = time.time()
        while (len(walls) < 1 + wl.min_warm
               or time.time() - t0 < args.seconds):
            walls.append(wl.run_pass(ctx, len(walls)))
            if ctx.failed:
                break
        foreign = load.cores()
        ref_end = host.end_ref(spark)
        rss = host.vm_hwm_mb(os.getpid()) + (host.vm_hwm_mb(jvm) if jvm else 0)
        progress = recorder.settled() if recorder is not None else []
    finally:
        wl.close()
        spark.stop()
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    warm = walls[1:]
    invalid = host.verdict(ref_start, ref_end, foreign)
    host_m = {"host.ref_start_s": ref_start, "host.ref_end_s": ref_end,
              "host.ref_drift": ref_end / ref_start,
              "host.loadavg_1m": os.getloadavg()[0],
              "host.foreign_cores": foreign}
    error_rate = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    q1, med, q3 = quartiles(warm) if warm else (0.0, 0.0, 0.0)
    e2e = {"setup_s": setup_s, "first_pass_s": walls[0] if walls else 0.0,
           "pass_s": med, "peak_rss_mb": rss}
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "passes": len(walls), "warm_passes": len(warm),
        "pass_q1_s": q1, "pass_q3_s": q3, "error_rate": error_rate,
        "valid": not invalid, "invalid_because": invalid,
        **e2e, **host_m,
    }
    if args.trace:
        metrics = _traced(args, tracer, ctx, walls, progress, cores, work,
                          host_m, summary)
        units = layers.UNITS
    else:
        metrics, units = e2e, END_TO_END
    print("perfbench: " + "  ".join(
        [f"{k}={v:.4f} {END_TO_END[k]}" for k, v in e2e.items()]
        + [f"error_rate={error_rate:.4f} ratio",
           f"pass_iqr_s=[{q1:.4f}, {q3:.4f}]",
           "walls_s=[" + ", ".join(f"{w:.3f}" for w in walls) + "]",
           f"ref_s=[{ref_start:.4f}, {ref_end:.4f}]",
           f"foreign_cores={foreign:.3f}", f"valid={not invalid}"]))
    for why in invalid:
        print(f"perfbench: host invalid: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": ctx.failed == 0 and bool(warm),
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if ctx.failed == 0 and warm else 1


def _traced(args, tracer, ctx, walls, progress, cores, work, host_m,
            summary) -> dict:
    run_ids = layers.add_pipeline_steps(tracer, ctx.run_log)
    events = []
    for path in eventlog.log_files(os.path.join(work, "eventlog")):
        with open(path) as f:
            events += eventlog.read_events(f)
    jobs = eventlog.summarise(events, layers.attribute(tracer, run_ids))
    passes = layers.per_pass(tracer, ctx, walls, jobs, progress, cores)
    metrics = layers.report(passes, ctx, host_m)
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({
            "summary": summary, "metrics": metrics, "passes": passes,
            "coverage": layers.coverage(tracer, walls),
            "jobs": {k: eventlog.public(v) for k, v in sorted(jobs.items())},
            "build_jobs": ctx.build_jobs, "codegen": ctx.codegen,
            "streaming_progress": progress, "problems": ctx.problems,
            "spans": tracer.dump(),
        }, f, indent=1)
    print(f"perfbench: trace written to {os.path.relpath(path, ROOT)}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
