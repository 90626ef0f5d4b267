"""The pipeline DAG as a Python driver (SURVEY.md §3.1) — replaces the
reference's EventBridge -> Step Function -> {Lambda, Glue} orchestration
(cloudformation/04_stepfunction-pipeline.yml:47-190): sync -> cleaning ->
archive -> validate -> [provider ∥ quality] -> warehouse merge -> run log.
Independent per-domain, per-output and per-dim work, and provider ∥ quality,
runs side by side on ONE session (session.map_concurrently): Spark interleaves
the DAGs and hides each small query's driver-side cost.
Fail-fast matches Catch->FailAll with two deliberate fixes: the validation
gate RAISES (the reference ignored its Lambda's error status — SURVEY
§3.1.5) and the fixed 10s WaitForCleaning sleep is dropped.
Full notes: docs/DESIGN.md#pipeline-module."""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FutureTimeout
from dataclasses import dataclass, field

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from .operators.joins import merge_scd1
from .runlog import RunLog, RunLogEntry
from .session import ITEM_S, map_concurrently
from .sources.ingest import (
    DEFAULT_FILE_TYPE_MAPPING,
    IngestLedger,
    archive_source_files,
    sync_landing_to_source,
)
from .sources.readers import path_exists, read_parquet
from .sources.validate import DEFAULT_REQUIRED_DOMAINS, require_staged
from .sources.writers import recover_dir, replace_dir
from .transforms import (
    PK,
    RECENCY_COL,
    provider_transform,
    quality_transform,
    universal_cleaning,
)
from .zones import ZoneLayout

#: transform-zone output -> warehouse dim name (reference README.md:247-252).
DIM_TABLES = {
    "facility": "dim_facility",
    "staffing": "dim_staffing",
    "rating": "dim_rating",
    "surveys": "dim_surveys",
    "penalties": "dim_penalties",
    "quality": "dim_quality",
}

#: Transform outputs that are ONE row per merge key (facility attributes /
#: the (facility, measure) grain) — deduped before the warehouse merge.
#: penalties and surveys are FAN-OUT (several rows per facility by design)
#: and merge as whole key groups instead.
UNIQUE_KEY_OUTPUTS = frozenset({"facility", "staffing", "rating", "quality"})


@dataclass
class PipelineResult:
    run_id: str
    synced: int = 0
    staged: list[str] = field(default_factory=list)
    archived: dict[str, int] = field(default_factory=dict)
    transformed: dict[str, str] = field(default_factory=dict)
    merged: list[str] = field(default_factory=list)


@dataclass(frozen=True)
class StagePolicy:
    """Per-stage retry/timeout semantics, mirroring the reference's job
    config: Glue jobs run with MaxRetries 1 and a 30-minute timeout
    (cloudformation/03_glue-jobs.yml:32-33), the drive sync retries uploads
    with backoff (script/sync-drive-to-s3.py:50-57), and every Step
    Function state fail-fasts through Catch -> FailAll
    (cloudformation/04_stepfunction-pipeline.yml:64-69)."""

    max_retries: int = 1
    timeout_s: float | None = 1800.0
    backoff_s: float = 1.0


#: Stage -> policy. Compute stages retry like Glue jobs; control stages
#: (sync has its own per-file backoff; validation failures are
#: deterministic) fail fast like the Lambda states.
DEFAULT_STAGE_POLICIES: dict[str, StagePolicy] = {
    "sync": StagePolicy(max_retries=0),
    "universal_cleaning": StagePolicy(),
    "archive": StagePolicy(max_retries=0),
    "validate": StagePolicy(max_retries=0),
    "transform_parallel": StagePolicy(),
    "warehouse_merge": StagePolicy(),
}


def run_stage(
    spark: SparkSession,
    log: RunLog,
    run_id: str,
    step: str,
    fn: Callable[[], object],
    policy: StagePolicy = StagePolicy(),
    detail_of: Callable[[object], dict] | None = None,
):
    """Execute one pipeline stage under its retry/timeout policy. Design
    notes: docs/DESIGN.md#pipeline-run-stage"""
    last_exc: BaseException = RuntimeError("unreachable")
    for attempt in range(policy.max_retries + 1):
        t0 = time.time()
        detail: dict = {"attempt": attempt, "max_retries": policy.max_retries}
        group = f"{run_id}:{step}:{attempt}"
        item_s: dict = {}

        def worker():
            # Job group is thread-local: set it inside the worker so only
            # this stage's jobs are cancelled on timeout.
            spark.sparkContext.setJobGroup(group, step, interruptOnCancel=True)
            ITEM_S.set(item_s)
            return fn()

        pool = ThreadPoolExecutor(max_workers=1)
        timed_out = False

        def succeed(out):
            if detail_of:
                # A broken detail extractor must not fail (or re-run!) a
                # stage whose side effects already committed — the stage
                # SUCCEEDED; the log row just carries less detail.
                try:
                    detail.update(detail_of(out))
                except Exception as exc:
                    detail["detail_error"] = repr(exc)
            if item_s:
                detail["item_s"] = item_s
            log.append(RunLogEntry(run_id, step, "SUCCESS", t0, time.time(), detail))
            return out

        try:
            fut = pool.submit(worker)
            return succeed(fut.result(timeout=policy.timeout_s))
        except FutureTimeout:
            # py>=3.11 aliases FutureTimeout to TimeoutError: only a
            # STILL-RUNNING future is a wall-clock timeout; a completed one
            # reports its own outcome (docs/DESIGN.md#pipeline-module).
            if fut.done():
                worker_exc = fut.exception()
                if worker_exc is None:
                    return succeed(fut.result())
                last_exc = worker_exc
            else:
                spark.sparkContext.cancelJobGroup(group)
                timed_out = True
                last_exc = TimeoutError(
                    f"stage {step!r} exceeded timeout_s={policy.timeout_s}"
                )
        except Exception as exc:
            last_exc = exc
        finally:
            pool.shutdown(wait=False, cancel_futures=True)
        final = timed_out or attempt == policy.max_retries
        detail["error"] = repr(last_exc)
        log.append(
            RunLogEntry(
                run_id, step, "FAILURE" if final else "RETRIED", t0, time.time(), detail
            )
        )
        if final:
            raise last_exc
        if policy.backoff_s:
            time.sleep(policy.backoff_s * (2**attempt))
    raise last_exc


def merge_warehouse(
    spark: SparkSession, zones: ZoneLayout, outputs: dict[str, str]
) -> list[str]:
    """SCD1-merge every transform output into its warehouse dim, one
    concurrent branch per dim — the engine's replacement for Snowflake
    SP_MERGE_ALL_DIMS (README.md:238-269). Returns the dims in DIM_TABLES
    order. First run bootstraps the dim from the source as-is. The merge key
    is the facility PK (plus measure_code for the quality grain).
    """
    from .operators.joins import latest_per_key

    def merge_one(output: str) -> str:
        dim = DIM_TABLES[output]
        keys = [PK, "measure_code"] if output == "quality" else [PK]
        source = read_parquet(spark, outputs[output])
        # Multi-drop cycles resolve to the NEWEST DROP via the per-file
        # recency stamp: one-row-per-key dims keep the newest row, fan-out
        # dims the newest drop's whole key GROUP (ADVICE r6/r7 —
        # docs/DESIGN.md#pipeline-module).
        if output in UNIQUE_KEY_OUTPUTS:
            order_col = RECENCY_COL if RECENCY_COL in source.columns else None
            source = latest_per_key(source, keys, order_col)
        elif RECENCY_COL in source.columns:
            # eqNullSafe: a group with no stamp (max NULL — pre-upgrade
            # output) passes through whole rather than vanishing.
            w = Window.partitionBy(*keys)
            source = (
                source.withColumn("_max_sync", F.max(RECENCY_COL).over(w))
                .filter(F.col(RECENCY_COL).eqNullSafe(F.col("_max_sync")))
                .drop("_max_sync")
            )
        target_path = zones.warehouse(dim)
        # A crashed prior swap can leave the dim parked at __old with the
        # target missing; restore BEFORE the bootstrap probe, or this run
        # would re-bootstrap the dim from the current batch alone.
        recover_dir(spark, target_path)
        # Bootstrap ONLY when the target verifiably does not exist. A broad
        # except here would turn any transient read or schema-drift error
        # into "first run" and silently replace the whole dim with the
        # current batch (ADVICE round 1) — merge errors must propagate.
        if path_exists(spark, target_path):
            target = read_parquet(spark, target_path)
            result = merge_scd1(target, source.select(*target.columns), keys)
        else:
            result = source  # first run bootstraps the dim
        # Plain Parquet has no transactional MERGE: materialize to a staging
        # suffix and swap in with an atomic delete+rename.
        replace_dir(result, target_path)
        return dim

    return map_concurrently(spark, merge_one, [o for o in DIM_TABLES if o in outputs])


def run(
    spark: SparkSession,
    zones: ZoneLayout,
    landing_dir: str | None = None,
    required_domains: tuple[str, ...] = DEFAULT_REQUIRED_DOMAINS,
    mapping: dict[str, str] | None = None,
    run_log_path: str | None = None,
    policies: dict[str, StagePolicy] | None = None,
) -> PipelineResult:
    """Execute the full pipeline once (the daily-cron body). Each stage runs
    under its retry/timeout policy (see StagePolicy); a stage that exhausts
    its retries fails the whole run, Catch->FailAll style."""
    mapping = mapping or DEFAULT_FILE_TYPE_MAPPING
    policies = {**DEFAULT_STAGE_POLICIES, **(policies or {})}
    zones.ensure(spark)
    log = RunLog(run_log_path or f"{zones.root}/run_log.jsonl")
    res = PipelineResult(run_id=uuid.uuid4().hex[:12])

    def stage(step, fn, detail_of=None):
        return run_stage(
            spark, log, res.run_id, step, fn,
            policies.get(step, StagePolicy()), detail_of,
        )

    if landing_dir:
        def do_sync():
            ledger = IngestLedger(spark, f"{zones.root}/ingest_ledger")
            return sync_landing_to_source(spark, landing_dir, zones, ledger, mapping)

        res.synced = stage("sync", do_sync, lambda n: {"synced": n})

    res.staged = stage(
        "universal_cleaning",
        lambda: universal_cleaning(spark, zones),
        lambda staged: {"staged": staged},
    )

    # Known = explicitly ROUTED domains; _DEFAULT is excluded by KEY so a
    # custom default target is still the quarantine bucket (error zone),
    # never archived as successfully handled.
    known = {d for p, d in mapping.items() if p != "_DEFAULT"}
    res.archived = stage(
        "archive", lambda: archive_source_files(spark, zones, known), lambda a: dict(a)
    )

    stage("validate", lambda: require_staged(spark, zones, required_domains))

    def do_transforms():
        provider, quality = map_concurrently(
            spark, lambda t: t(spark, zones), (provider_transform, quality_transform)
        )
        return {**provider, **quality}

    res.transformed = stage(
        "transform_parallel", do_transforms, lambda t: {"outputs": sorted(t)}
    )

    res.merged = stage(
        "warehouse_merge",
        lambda: merge_warehouse(spark, zones, res.transformed),
        lambda dims: {"dims": dims},
    )

    return res
