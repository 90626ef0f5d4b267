"""The three benchmark workloads.

Each workload prepares its inputs once (untimed) and then runs passes.
A pass is a list of timed operations; its wall time is the sum of their
spans, so untimed work between operations (output checks, drain cleanup,
staging the next landing drop, measuring written bytes) is left out.
An operation is one catalog query execution or one ``pipeline.run``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import traceback
from dataclasses import dataclass, field

import catalog_data
import cms_landing

#: Non-streaming catalog queries timed by ``catalog_batch``: exec-heavy
#: join and aggregate shapes over the star schema (TPC-H Q1, Q5, and Q4 /
#: Q13 / Q18). A pass over all 46 non-streaming entries takes about 40 s
#: warm and 60 s cold on 4 cores, more than a whole benchmark run may
#: take; these three take about 2.5 s warm. The workload runs but is not
#: listed in ``BENCHMARK.json``: see the README.
BATCH_QUERIES = (
    "pricing_summary",
    "regional_revenue_q5",
    "tpch_shapes_q4_q13_q18",
)
#: Streaming catalog queries timed by ``catalog_streaming``: their drains
#: run inside construction. The other two (``streaming_join_dedup``, two
#: overlapped drains, and ``streaming_stateful_totals``) would add about
#: 5.5 s to every warm pass and 9 s to the cold one.
STREAMING_QUERIES = (
    "streaming_session_counts",
    "streaming_windowed_agg",
)
#: the catalog tables are the same for every benchmark seed; the seed
#: orders the queries within each pass
CATALOG_DATA_SEED = 42
#: facilities per landing drop of ``pipeline_nightly``
FACILITIES = 200


@dataclass
class Ctx:
    """What a workload needs from the run."""

    spark: object
    tracer: object
    work: str
    seed: int
    traced: bool
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # traced runs only
    build_jobs: dict[str, int] = field(default_factory=dict)
    codegen: dict[int, int] = field(default_factory=dict)
    run_log: list[tuple[int, dict]] = field(default_factory=list)
    written: dict[int, list[tuple[int, int]]] = field(default_factory=dict)
    landing_bytes: int = 0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)


def _set_group(ctx: Ctx, group: str) -> None:
    if ctx.traced:
        ctx.spark.sparkContext.setJobGroup(group, group)


def codegen_count(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


class CatalogWorkload:
    """A fixed list of catalog queries, each built with
    ``CatalogEntry.spark`` and executed to the ``noop`` sink. The first
    pass also checks every query's result against its DuckDB oracle,
    outside the timed spans."""

    def __init__(self, queries: tuple[str, ...], min_warm: int):
        self.queries, self.min_warm = queries, min_warm
        self.con = None

    def prepare(self, ctx: Ctx) -> None:
        import duckdb

        from nursing_home_data_etl_pipeline_spark.plans import catalog

        self.entries = catalog.entries()
        missing = [q for q in self.queries if q not in self.entries]
        if missing:
            raise KeyError(f"catalog has no entries {missing}")
        self.data = os.path.join(ctx.work, "catalog")
        catalog_data.write(self.data, CATALOG_DATA_SEED)
        self.con = duckdb.connect()
        for t in catalog_data.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.rng = random.Random(ctx.seed)

    def run_pass(self, ctx: Ctx, p: int) -> float:
        from nursing_home_data_etl_pipeline_spark.plans.queries_streaming import (
            cleanup_drains,
        )
        from nursing_home_data_etl_pipeline_spark.plans.verify import compare_query

        spark, tr = ctx.spark, ctx.tracer
        order = list(self.queries)
        self.rng.shuffle(order)
        wall = 0.0
        with tr.span("pass", index=p):
            if ctx.traced:
                ctx.codegen[p] = -codegen_count(spark)
            for q in order:
                entry, df, ok = self.entries[q], None, True
                ctx.attempted += 1
                with tr.span("query", query=q, index=p) as qs:
                    try:
                        with tr.span("build"):
                            _set_group(ctx, f"bench:p{p}:{q}:build")
                            df = entry.spark(spark, self.data)
                        if ctx.traced:
                            with tr.span("plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tr.span("exec"):
                            _set_group(ctx, f"bench:p{p}:{q}:exec")
                            df.write.format("noop").mode("overwrite").save()
                    except Exception:
                        ok = False
                        ctx.fail(f"{q} pass {p}: {traceback.format_exc()}")
                wall += qs.dur
                if ctx.traced:
                    ctx.build_jobs[f"p{p}:{q}"] = len(
                        spark.sparkContext.statusTracker()
                        .getJobIdsForGroup(f"bench:p{p}:{q}:build"))
                if ok and p == 0:
                    with tr.span("check", query=q):
                        _set_group(ctx, f"bench:p{p}:{q}:check")
                        problems = compare_query(
                            spark, self.con, lambda _s, _d, df=df: df,
                            entry.oracle, self.data)
                    if problems:
                        ctx.fail(f"{q} output: {problems}")
                cleanup_drains()
            if ctx.traced:
                ctx.codegen[p] += codegen_count(spark)
        _set_group(ctx, "bench:idle")
        return wall

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def _dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``: names starting
    with ``.`` or ``_`` (checksums, markers) are not data."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


class PipelineWorkload:
    """Two monthly landing drops through ``pipeline.run``: a bootstrap run
    into a fresh zone root, then the incremental SCD1 run with drop 2."""

    min_warm = 1

    def prepare(self, ctx: Ctx) -> None:
        self.truth = cms_landing.write_drops(
            os.path.join(ctx.work, "drops"), ctx.seed, FACILITIES)
        ctx.landing_bytes = self.truth.landing_bytes

    def run_pass(self, ctx: Ctx, p: int) -> float:
        from nursing_home_data_etl_pipeline_spark import pipeline
        from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

        spark, tr = ctx.spark, ctx.tracer
        root = os.path.join(ctx.work, f"pass{p}")
        landing = os.path.join(root, "landing")
        os.makedirs(landing)
        zones = ZoneLayout(os.path.join(root, "zones"))
        wall, ok = 0.0, True
        with tr.span("pass", index=p):
            if ctx.traced:
                ctx.codegen[p] = -codegen_count(spark)
            for run, files in enumerate(self.truth.files):
                for f in files:  # hard links keep the drop's mtime
                    os.link(f, os.path.join(landing, os.path.basename(f)))
                ctx.attempted += 1
                with tr.span("run", run=("bootstrap", "incremental")[run],
                             index=p) as rs:
                    try:
                        res = pipeline.run(spark, zones, landing_dir=landing)
                        rs.attrs["run_id"] = res.run_id
                    except Exception:
                        ok = False
                        ctx.fail(f"pipeline pass {p} run {run}: "
                                 f"{traceback.format_exc()}")
                wall += rs.dur
                if not ok:
                    break
                ctx.written.setdefault(p, []).append(tuple(
                    sum(x) for x in zip(*(_dir_usage(zones.path(z)) for z in
                                          ("staging", "transform", "warehouse")))))
            if ctx.traced:
                ctx.codegen[p] += codegen_count(spark)
        with open(os.path.join(zones.root, "run_log.jsonl")) as f:
            ctx.run_log += [(p, json.loads(line)) for line in f]
        if ok:
            with tr.span("check", index=p):
                _set_group(ctx, f"bench:p{p}:pipeline:check")
                problems = self.check(spark, zones)
            if problems:
                ctx.fail(f"pipeline pass {p} output: {problems}")
        shutil.rmtree(root)
        return wall

    def check(self, spark, zones) -> list[str]:
        """Dim row counts and the newest-drop-wins score checksum."""
        problems = []
        for dim, want in self.truth.dim_rows.items():
            got = spark.read.parquet(zones.warehouse(dim)).count()
            if got != want:
                problems.append(f"{dim}: {got} rows, expected {want}")
        col = cms_landing.CHECKSUM_COL
        total = (spark.read.parquet(zones.warehouse(cms_landing.CHECKSUM_DIM))
                 .selectExpr(f"sum(cast({col} as decimal(12,3))) AS s")
                 .first()["s"])
        got = int(total * 1000) if total is not None else None
        if got != self.truth.checksum_milli:
            problems.append(f"{col} checksum {got}, expected "
                            f"{self.truth.checksum_milli}")
        return problems

    def close(self) -> None:
        pass


def make(name: str):
    if name == "catalog_batch":
        return CatalogWorkload(BATCH_QUERIES, min_warm=3)
    if name == "catalog_streaming":
        return CatalogWorkload(STREAMING_QUERIES, min_warm=5)
    if name == "pipeline_nightly":
        return PipelineWorkload()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("catalog_batch", "catalog_streaming", "pipeline_nightly")
