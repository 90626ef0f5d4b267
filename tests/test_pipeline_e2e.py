"""End-to-end pipeline test on a synthetic landing directory (FIXTURES.md
§1.5 raw-zone variants: dirty headers, padded values, CMS-original names,
unknown-domain files)."""

from __future__ import annotations

import pytest

from nursing_home_data_etl_pipeline_spark import pipeline
from nursing_home_data_etl_pipeline_spark.sources.ingest import (
    IngestLedger,
    list_landing_files,
    normalize_filename,
    route_filename,
    unsynced,
)
from nursing_home_data_etl_pipeline_spark.sources.validate import (
    DEFAULT_REQUIRED_DOMAINS,
    ValidationError,
)
from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

PROVIDER_CSV = (
    "CMS Certification Number (CCN),Provider Name,Provider Address,City/Town,"
    "State,ZIP Code,Overall Rating,Staffing Rating,Reported RN Staffing Hours per Resident per Day,"
    "Total Nursing Staff Turnover,Rating Cycle 1 Revisit Score,Total Weighted Health Survey Score,"
    "Number of Fines,Total Number of Penalties\n"
    " 015009 , Sunny Acres , 1 Main St ,Springfield,IL,62701, 5 ,4,0.5,45.2,10,33.3,2,3\n"
    "015010,Shady Pines,2 Oak Ave,Salem,OR,97301,3,2,0.7,55.0,20,44.4,0,1\n"
)
QUALITY_CSV = (
    "CMS Certification Number (CCN),Measure Code,Measure Description,Resident type,"
    "Q1 Measure Score,Q2 Measure Score,Q3 Measure Score,Q4 Measure Score,"
    "Four Quarter Average Score,Measure Period,Location,Processing Date\n"
    "015009,401,Falls,long,1.0,2.0,3.0,4.0,2.5,2024Q4,US,2025-01-01\n"
    "015009,402,Ulcers,long,0.1,0.2,0.3,0.4,0.25,2024Q4,US,2025-01-01\n"
    "015010,401,Falls,long,5.0,5.0,5.0,5.0,5.0,2024Q4,US,2025-01-01\n"
)
SURVEY_CSV = (
    "CMS Certification Number (CCN),Provider Name,Survey Date,Count of Deficiencies\n"
    "015009,Sunny Acres,2024-05-01,4\n"
    "015099,Ghost Facility,2024-06-01,9\n"
)
PENALTIES_CSV = (
    "CMS Certification Number (CCN),Penalty Date,Penalty Type,Fine Amount\n"
    "015010,2024-01-15,Fine,11000\n"
    "015010,2024-03-20,Fine,5500\n"
)


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "NH_ProviderInfo_Jun2025.csv").write_text(PROVIDER_CSV)
    (d / "NH_QualityMsr_MDS_Jun2025.csv").write_text(QUALITY_CSV)
    (d / "NH_SurveySummary_Jun2025.csv").write_text(SURVEY_CSV)
    (d / "NH_Penalties_Jun2025.csv").write_text(PENALTIES_CSV)
    (d / "random_notes.csv").write_text("a,b\n1,2\n")
    return d


def test_filename_routing():
    assert route_filename("NH_ProviderInfo_Jun2025.csv") == "provider_info"
    assert route_filename("NH_QualityMsr_MDS_Jun2025.csv") == "qualitymsr_mds"
    assert route_filename("NH_SurveySummary_Jun2025.csv") == "survey_summary"
    assert route_filename("NH_Penalties_Jun2025.csv") == "penalties"
    assert route_filename("random_notes.csv") == "unknown"
    assert normalize_filename("NH_Provider_Info.csv") == "providerinfo"


def test_pipeline_end_to_end(spark, landing, tmp_path):
    zones = ZoneLayout(str(tmp_path / "zones"))
    res = pipeline.run(spark, zones, landing_dir=str(landing))

    assert res.synced == 5
    assert sorted(res.staged) == [
        "penalties", "provider_info", "qualitymsr_mds", "survey_summary", "unknown",
    ]
    # unknown domain archived to error, known to processed
    assert res.archived == {"processed": 4, "error": 1}
    assert sorted(res.transformed) == [
        "facility", "penalties", "quality", "rating", "staffing", "surveys",
    ]
    assert len(res.merged) == 6

    fac = spark.read.parquet(zones.warehouse("dim_facility"))
    rows = {r.facility_number: r for r in fac.collect()}
    # cleaning: trimmed values, renamed CCN -> facility_number
    assert rows["015009"].facility_name == "Sunny Acres"
    assert {"row_id", "etl_date"} <= set(fac.columns)

    # name-predicate split put rating cols in dim_rating, not dim_staffing
    rating_cols = set(spark.read.parquet(zones.warehouse("dim_rating")).columns)
    staffing_cols = set(spark.read.parquet(zones.warehouse("dim_staffing")).columns)
    assert "overall_rating" in rating_cols
    assert "reported_rn_staffing_hours_per_resident_per_day" in staffing_cols
    assert "overall_rating" not in staffing_cols

    # left-join enrich: survey info joined onto surveys dim where present
    surveys = {
        r.facility_number: r
        for r in spark.read.parquet(zones.warehouse("dim_surveys")).collect()
    }
    assert surveys["015009"].survey_date == "2024-05-01"
    assert surveys["015010"].survey_date is None  # unmatched left row

    # fan-out: penalties join is multi-row per facility
    pen = spark.read.parquet(zones.warehouse("dim_penalties"))
    assert pen.filter("facility_number = '015010'").count() == 2

    # quality grain: facility x measure
    qual = spark.read.parquet(zones.warehouse("dim_quality"))
    assert qual.count() == 3

    # every fanned-out step logs its per-item wall seconds; the others don't
    item_s = {
        e["step"]: e["detail"].get("item_s")
        for e in _read_log(f"{zones.root}/run_log.jsonl")
    }
    assert sorted(item_s["universal_cleaning"]) == sorted(res.staged)
    assert sorted(item_s["validate"]) == sorted(DEFAULT_REQUIRED_DOMAINS)
    assert set(item_s["transform_parallel"]) == {
        "provider_transform", "quality_transform",
        "facility", "staffing", "rating", "surveys", "penalties",
    }
    assert sorted(item_s["warehouse_merge"]) == sorted(pipeline.DIM_TABLES)
    # ...and the fan-outs keep the sequential result order
    assert res.staged == sorted(res.staged)
    assert res.merged == list(pipeline.DIM_TABLES.values())
    assert item_s["sync"] is None and item_s["archive"] is None
    assert all(v >= 0 for m in item_s.values() if m for v in m.values())


def test_provider_transform_absent_enrich_is_optional(spark, landing, tmp_path):
    # Absent optional input (no survey_summary staging dir): the enrich is
    # skipped, the transform still succeeds — the reference's dynamic model.
    import shutil

    from nursing_home_data_etl_pipeline_spark.transforms import provider_transform

    zones = ZoneLayout(str(tmp_path / "zones"))
    pipeline.run(spark, zones, landing_dir=str(landing))
    shutil.rmtree(zones.staging("survey_summary"))
    out = provider_transform(spark, zones)
    surveys_cols = spark.read.parquet(out["surveys"]).columns
    assert "survey_date" not in surveys_cols  # enrich skipped, not half-applied


def test_provider_transform_corrupt_enrich_fails_loudly(spark, landing, tmp_path):
    # Present-but-corrupt optional input must FAIL, not silently drop the
    # enrich (the round-5 bare except swallowed every error class).
    import os
    import shutil

    from nursing_home_data_etl_pipeline_spark.transforms import provider_transform

    zones = ZoneLayout(str(tmp_path / "zones"))
    pipeline.run(spark, zones, landing_dir=str(landing))
    sdir = zones.staging("survey_summary")
    shutil.rmtree(sdir)
    os.makedirs(sdir)
    with open(os.path.join(sdir, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer|schema"):
        provider_transform(spark, zones)


def test_corrupt_ledger_fails_loudly(spark, tmp_path):
    # A corrupt ledger must raise, not silently read as empty (which would
    # re-ingest every file); a MISSING ledger is the explicit bootstrap.
    import os

    ledger_path = str(tmp_path / "ledger")
    ledger = IngestLedger(spark, ledger_path)
    assert len(ledger.read()) == 0  # missing -> empty bootstrap
    os.makedirs(ledger_path)
    with open(os.path.join(ledger_path, "part-00000.parquet"), "wb") as f:
        f.write(b"junk bytes, not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|schema"):
        ledger.read()


def test_corrupt_staging_fails_validation_loudly(spark, landing, tmp_path):
    # A staging dir that exists but cannot be read raises from the status
    # probe instead of reporting the domain as missing.
    import os
    import shutil

    from nursing_home_data_etl_pipeline_spark.sources.validate import staging_status

    zones = ZoneLayout(str(tmp_path / "zones"))
    pipeline.run(spark, zones, landing_dir=str(landing))
    sdir = zones.staging("penalties")
    shutil.rmtree(sdir)
    os.makedirs(sdir)
    with open(os.path.join(sdir, "part-00000.parquet"), "wb") as f:
        f.write(b"junk bytes, not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|schema|infer"):
        staging_status(spark, zones, ("penalties",))


def test_pipeline_incremental_rerun(spark, landing, tmp_path):
    zones = ZoneLayout(str(tmp_path / "zones"))
    pipeline.run(spark, zones, landing_dir=str(landing))
    # second run: ledger skips all files; staging still present -> validate ok
    res2 = pipeline.run(spark, zones, landing_dir=str(landing))
    assert res2.synced == 0
    # warehouse merge is idempotent (same PKs upserted)
    fac = spark.read.parquet(zones.warehouse("dim_facility"))
    assert fac.count() == 2


def test_ledger_dedup(spark, landing, tmp_path):
    zones = ZoneLayout(str(tmp_path / "z"))
    zones.ensure(spark)
    ledger = IngestLedger(spark, str(tmp_path / "ledger"))
    listing = list_landing_files(str(landing))
    assert len(unsynced(listing, ledger.read())) == 5
    ledger.record(listing)
    assert len(unsynced(listing, ledger.read())) == 0


def test_sync_same_basename_in_subdirs_not_lost(spark, tmp_path):
    """Two landing files with the same basename in different subdirectories
    must both survive the sync (the basename-keyed destination silently
    overwrote one while the ledger recorded both as synced) and get
    distinct ledger identities."""
    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        sync_landing_to_source,
    )

    landing = tmp_path / "nested_landing"
    (landing / "feb").mkdir(parents=True)
    (landing / "mar").mkdir(parents=True)
    (landing / "feb" / "NH_Penalties.csv").write_text("a,b\n1,feb\n")
    (landing / "mar" / "NH_Penalties.csv").write_text("a,b\n1,mar\n")

    zones = ZoneLayout(str(tmp_path / "nz"))
    zones.ensure(spark)
    ledger = IngestLedger(spark, str(tmp_path / "nledger"))
    n = sync_landing_to_source(spark, str(landing), zones, ledger)
    assert n == 2
    import os

    dest = zones.source("penalties")
    files = sorted(os.listdir(dest))
    assert len(files) == 2  # both months present, neither overwritten
    contents = {open(os.path.join(dest, f)).read() for f in files}
    assert contents == {"a,b\n1,feb\n", "a,b\n1,mar\n"}
    assert len(ledger.read()) == 2


def test_sync_inplace_update_resyncs_not_bricks(spark, tmp_path):
    """An updated landing file (same relative path, new size/mtime) is a
    NEW file_id by design and must overwrite its own stale copy — the
    first collision check raised FileExistsError here, permanently
    failing every subsequent sync run."""
    import os
    import time

    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        sync_landing_to_source,
    )

    landing = tmp_path / "upd_landing"
    landing.mkdir()
    f = landing / "NH_Penalties.csv"
    f.write_text("a,b\n1,old\n")
    zones = ZoneLayout(str(tmp_path / "uz"))
    zones.ensure(spark)
    ledger = IngestLedger(spark, str(tmp_path / "uledger"))
    assert sync_landing_to_source(spark, str(landing), zones, ledger) == 1

    time.sleep(0.01)
    f.write_text("a,b\n1,new-longer\n")  # same rel path, new content
    assert sync_landing_to_source(spark, str(landing), zones, ledger) == 1
    dest = zones.source("penalties")
    files = os.listdir(dest)
    assert len(files) == 1  # overwritten in place, not duplicated
    assert "new-longer" in open(os.path.join(dest, files[0])).read()


def test_sync_tmp_name_outside_data_namespace(spark, tmp_path):
    """The atomic-install temp name must not collide with any real
    flattened landing name: a landing file literally named x.csv.__tmp,
    synced first, previously got silently destroyed when a later sync of
    x.csv staged through the same dest + '.__tmp' path."""
    import os

    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        sync_landing_to_source,
    )

    landing = tmp_path / "tmp_landing"
    landing.mkdir()
    (landing / "NH_Penalties.csv.__tmp").write_text("a,b\n1,first\n")
    zones = ZoneLayout(str(tmp_path / "tz"))
    zones.ensure(spark)
    ledger = IngestLedger(spark, str(tmp_path / "tledger"))
    assert sync_landing_to_source(spark, str(landing), zones, ledger) == 1

    (landing / "NH_Penalties.csv").write_text("a,b\n1,second\n")
    assert sync_landing_to_source(spark, str(landing), zones, ledger) == 1
    dest = zones.source("penalties")
    files = sorted(f for f in os.listdir(dest) if not f.startswith("."))
    assert files == ["NH_Penalties.csv", "NH_Penalties.csv.__tmp"]
    contents = {open(os.path.join(dest, f)).read() for f in files}
    assert contents == {"a,b\n1,first\n", "a,b\n1,second\n"}  # both survive


def test_sync_spark_job_budget(spark, landing, tmp_path):
    """Sync's only Spark work is one ledger read (none before the first
    record) and one ledger append; the diff, routing and provenance claims
    run on the driver. Bootstrap: 1 job, incremental with new files: 2,
    no-op poll: 1. The DataFrame listing + anti-join path ran 5 / 4 / 2."""
    import uuid

    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        sync_landing_to_source,
    )

    sc = spark.sparkContext
    zones = ZoneLayout(str(tmp_path / "jz"))
    zones.ensure(spark)
    ledger = IngestLedger(spark, str(tmp_path / "jledger"))

    def sync_jobs():
        group = f"sync-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "sync job budget")
        try:
            n = sync_landing_to_source(spark, str(landing), zones, ledger)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        return n, len(sc.statusTracker().getJobIdsForGroup(group))

    assert sync_jobs() == (5, 1)  # bootstrap: no ledger yet, one append
    (landing / "NH_Penalties_Jul2025.csv").write_text(PENALTIES_CSV)
    assert sync_jobs() == (1, 2)  # incremental: one read, one append
    assert sync_jobs() == (0, 1)  # no-op poll: one read


def test_sync_dry_run_has_no_side_effects(spark, landing, tmp_path):
    """dry_run returns the count of new files but copies nothing into the
    source zone and writes no ledger, so a real sync afterwards still
    syncs every one of them."""
    import os

    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        sync_landing_to_source,
    )

    zones = ZoneLayout(str(tmp_path / "dz"))
    zones.ensure(spark)
    ledger = IngestLedger(spark, str(tmp_path / "dledger"))
    assert sync_landing_to_source(spark, str(landing), zones, ledger, dry_run=True) == 5
    assert os.listdir(zones.source()) == []
    assert not os.path.exists(ledger.path)
    assert sync_landing_to_source(spark, str(landing), zones, ledger) == 5
    assert zones.list_domains("source", spark) == [
        "penalties", "provider_info", "qualitymsr_mds", "survey_summary", "unknown",
    ]
    assert len(ledger.read()) == 5


def test_validation_gate_raises(spark, tmp_path):
    zones = ZoneLayout(str(tmp_path / "empty_zones"))
    zones.ensure(spark)
    with pytest.raises(ValidationError):
        pipeline.run(spark, zones)


def test_merge_warehouse_error_propagates_not_bootstraps(spark, tmp_path):
    """ADVICE round-1 regression: merge_warehouse bootstraps ONLY when the
    target dim does not exist. A schema-drift (or any read/merge) failure on
    an EXISTING target must raise, never silently replace the dim with the
    current batch."""
    import pytest
    from pyspark.errors import AnalysisException

    from nursing_home_data_etl_pipeline_spark.pipeline import merge_warehouse
    from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

    zones = ZoneLayout(str(tmp_path / "z"))
    zones.ensure(spark)

    # First run: bootstrap (target absent).
    src = str(tmp_path / "facility_out")
    spark.createDataFrame(
        [("f1", "A"), ("f2", "B")], ["facility_number", "facility_name"]
    ).write.parquet(src)
    merged = merge_warehouse(spark, zones, {"facility": src})
    assert merged == ["dim_facility"]
    assert {r.facility_number for r in
            spark.read.parquet(zones.warehouse("dim_facility")).collect()} == {"f1", "f2"}

    # Second run with drifted source (missing a target column): must raise.
    drifted = str(tmp_path / "facility_drift")
    spark.createDataFrame([("f3",)], ["facility_number"]).write.parquet(drifted)
    with pytest.raises(AnalysisException):
        merge_warehouse(spark, zones, {"facility": drifted})

    # Target survived untouched.
    assert {r.facility_number for r in
            spark.read.parquet(zones.warehouse("dim_facility")).collect()} == {"f1", "f2"}


def test_sweep_stale_tmps_spares_live_owners(tmp_path):
    """Crash leftovers (dead owner pid) are removed; a concurrent sync's
    in-flight tmp (live pid) is spared — unlinking it would break that
    process's rename mid-install."""
    import os

    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        _sweep_stale_tmps,
    )

    d = tmp_path / "dom"
    d.mkdir()
    dead = d / ".x.csv.__tmp999999999"  # pid far above pid_max: never alive
    live = d / f".y.csv.__tmp{os.getpid()}"
    junk = d / ".z.csv.__tmp"  # no pid suffix: old crash artifact
    data = d / "real.csv"
    for f in (dead, live, junk, data):
        f.write_text("x")
    _sweep_stale_tmps(str(d))
    assert not dead.exists() and not junk.exists()
    assert live.exists() and data.exists()


def test_merge_warehouse_recovers_crashed_swap(spark, tmp_path):
    """A dim parked at __old with the target missing (crash between
    replace_dir's two renames) must be RESTORED before the bootstrap probe
    — otherwise the next nightly run re-bootstraps the dim from the
    current batch alone, dropping every key absent from it."""
    import os

    from nursing_home_data_etl_pipeline_spark.pipeline import merge_warehouse
    from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

    zones = ZoneLayout(str(tmp_path / "rz"))
    zones.ensure(spark)
    src1 = str(tmp_path / "fac1")
    spark.createDataFrame(
        [("f1", "A"), ("f2", "B")], ["facility_number", "facility_name"]
    ).write.parquet(src1)
    merge_warehouse(spark, zones, {"facility": src1})
    target = zones.warehouse("dim_facility")

    # simulate the crash window: target renamed aside, new version never landed
    os.rename(target, target + "__old")

    src2 = str(tmp_path / "fac2")
    spark.createDataFrame(
        [("f3", "C")], ["facility_number", "facility_name"]
    ).write.parquet(src2)
    merge_warehouse(spark, zones, {"facility": src2})
    keys = {
        r.facility_number for r in spark.read.parquet(target).collect()
    }
    assert keys == {"f1", "f2", "f3"}  # recovered + merged, not re-bootstrapped
    assert not os.path.exists(target + "__old")


def _read_log(path):
    import json

    with open(path) as f:
        return [json.loads(line) for line in f]


def test_stage_retry_then_success_recorded(spark, tmp_path):
    """VERDICT round-1 #3: stages mirror the reference's Glue MaxRetries=1 +
    timeout semantics (cloudformation/03_glue-jobs.yml:32-33) — a flaky
    stage retries once, and every attempt is a run-log row."""
    from nursing_home_data_etl_pipeline_spark.pipeline import StagePolicy, run_stage
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog

    log_path = str(tmp_path / "log.jsonl")
    log = RunLog(log_path)
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return "ok"

    out = run_stage(
        spark, log, "r1", "flaky_stage", flaky,
        StagePolicy(max_retries=1, timeout_s=60, backoff_s=0.0),
    )
    assert out == "ok" and calls["n"] == 2
    rows = _read_log(log_path)
    assert [r["status"] for r in rows] == ["RETRIED", "SUCCESS"]
    assert rows[0]["detail"]["attempt"] == 0 and "transient" in rows[0]["detail"]["error"]
    assert rows[1]["detail"]["attempt"] == 1


def test_stage_exhausted_retries_fail_the_run(spark, tmp_path):
    """Final failure lands in the run log as FAILURE and re-raises — the
    Step Function Catch->FailAll shape
    (cloudformation/04_stepfunction-pipeline.yml:64-69)."""
    import pytest

    from nursing_home_data_etl_pipeline_spark.pipeline import StagePolicy, run_stage
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog

    log_path = str(tmp_path / "log.jsonl")
    log = RunLog(log_path)

    def always_fails():
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="permanent"):
        run_stage(
            spark, log, "r1", "doomed", always_fails,
            StagePolicy(max_retries=1, timeout_s=60, backoff_s=0.0),
        )
    assert [r["status"] for r in _read_log(log_path)] == ["RETRIED", "FAILURE"]


def test_stage_timeout_raises_and_logs(spark, tmp_path):
    import pytest

    from nursing_home_data_etl_pipeline_spark.pipeline import StagePolicy, run_stage
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog

    log_path = str(tmp_path / "log.jsonl")
    log = RunLog(log_path)

    def slow():
        import time

        time.sleep(5)
        return "late"

    with pytest.raises(TimeoutError, match="timeout_s"):
        run_stage(
            spark, log, "r1", "slow_stage", slow,
            StagePolicy(max_retries=0, timeout_s=0.2, backoff_s=0.0),
        )
    rows = _read_log(log_path)
    assert rows[-1]["status"] == "FAILURE" and "timeout" in rows[-1]["detail"]["error"].lower()


def test_stage_timeout_terminal_even_with_retries_left(spark, tmp_path):
    """A timed-out attempt's worker thread cannot be killed, so retrying
    would run two attempts of a side-effecting stage CONCURRENTLY (the
    zombie could bootstrap over a half-written dim). Timeouts are terminal:
    one attempt, one FAILURE row, retries notwithstanding."""
    import time as _time

    import pytest

    from nursing_home_data_etl_pipeline_spark.pipeline import StagePolicy, run_stage
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog

    log_path = str(tmp_path / "log.jsonl")
    calls = []

    def slow():
        calls.append(1)
        _time.sleep(3)
        return "late"

    with pytest.raises(TimeoutError):
        run_stage(
            spark, RunLog(log_path), "r1", "slow_stage", slow,
            StagePolicy(max_retries=3, timeout_s=0.2, backoff_s=0.0),
        )
    rows = _read_log(log_path)
    assert [r["status"] for r in rows] == ["FAILURE"]
    assert len(calls) == 1  # never re-entered while the zombie runs


def test_stage_timeout_cancels_every_fanout_branch(spark, tmp_path):
    """The fan-out branches inherit the stage's job group, so a stage
    timeout's cancelJobGroup reaches the jobs of EVERY branch; plain pool
    threads would leave them running after the TimeoutError."""
    import time as _time

    from nursing_home_data_etl_pipeline_spark.pipeline import StagePolicy, run_stage
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog
    from nursing_home_data_etl_pipeline_spark.session import map_concurrently

    def endless(n):
        return spark.range(n).selectExpr("sum(hash(id))").collect()

    with pytest.raises(TimeoutError):
        run_stage(
            spark, RunLog(str(tmp_path / "log.jsonl")), "r1", "fanout",
            lambda: map_concurrently(spark, endless, [10**13, 10**13]),
            StagePolicy(max_retries=0, timeout_s=3, backoff_s=0.0),
        )
    _time.sleep(1)
    tracker = spark.sparkContext.statusTracker()
    try:
        assert len(tracker.getJobIdsForGroup("r1:fanout:0")) == 2
        assert list(tracker.getActiveJobsIds()) == []
    finally:
        spark.sparkContext.cancelAllJobs()  # never leave endless jobs behind


def test_validation_bug_parity_status_vs_raise(spark, tmp_path):
    """VERDICT round-1 #5: the reference's validation Lambda RETURNS
    {'status': 'error'} without failing the state machine
    (script/validate_staging.py:30-38 vs
    cloudformation/04_stepfunction-pipeline.yml:123-137), so the pipeline
    silently continued on missing inputs. The engine keeps the status
    surface (staging_status — no raise, the reference-parity behavior) but
    the gate itself raises: require_staged fails the pipeline."""
    import pytest

    from nursing_home_data_etl_pipeline_spark.sources.validate import (
        ValidationError,
        require_staged,
        staging_status,
    )
    from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

    zones = ZoneLayout(str(tmp_path / "z"))
    zones.ensure(spark)
    spark.createDataFrame([("x",)], ["c"]).write.parquet(zones.staging("provider_info"))
    domains = ("provider_info", "penalties")

    # Reference-parity surface: reports the problem as data, does not raise.
    statuses = {s.domain: s.non_empty for s in staging_status(spark, zones, domains)}
    assert statuses == {"provider_info": True, "penalties": False}

    # Engine gate: the same condition FAILS the pipeline (corrected semantics).
    with pytest.raises(ValidationError, match="penalties"):
        require_staged(spark, zones, domains)


def test_stage_raised_timeouterror_is_retryable_not_wall_clock(spark, tmp_path):
    """Python >= 3.11 aliases concurrent.futures.TimeoutError to the
    builtin TimeoutError, so a TimeoutError raised INSIDE a stage (e.g.
    socket.timeout from transient IO) must be classified as an ordinary
    retryable failure — not as a wall-clock stage timeout, which is
    terminal and would burn the retry budget."""
    from nursing_home_data_etl_pipeline_spark.pipeline import StagePolicy, run_stage
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog

    log = RunLog(str(tmp_path / "log.jsonl"))
    attempts = []

    def flaky():
        attempts.append(1)
        if len(attempts) == 1:
            raise TimeoutError("transient IO timeout from inside the stage")
        return "ok"

    out = run_stage(
        spark, log, "r1", "flaky", flaky,
        StagePolicy(max_retries=1, timeout_s=60, backoff_s=0.0),
    )
    assert out == "ok" and len(attempts) == 2  # retried, not terminal


def test_stage_success_in_timeout_race_window_is_success(spark, tmp_path):
    """If the worker completes successfully in the window between
    fut.result() raising FutureTimeout and the fut.done() check, the stage
    SUCCEEDED — its side effects committed, so it must be logged SUCCESS
    and returned, never retried (ADVICE round 6). Simulated with a fake
    future that is done-without-exception at classification time."""
    import json
    from unittest import mock

    from nursing_home_data_etl_pipeline_spark import pipeline as P
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog

    class RaceFuture:
        def result(self, timeout=None):
            if timeout is not None:
                raise P.FutureTimeout()  # the wait expired...
            return "committed"  # ...but the worker had just finished

        def done(self):
            return True

        def exception(self):
            return None

    class FakePool:
        def __init__(self, max_workers):
            pass

        def submit(self, fn):
            return RaceFuture()

        def shutdown(self, wait=False, cancel_futures=False):
            pass

    path = tmp_path / "log.jsonl"
    with mock.patch.object(P, "ThreadPoolExecutor", FakePool):
        out = P.run_stage(
            spark, RunLog(str(path)), "r1", "racy", lambda: "never-called",
            P.StagePolicy(max_retries=2, timeout_s=0.01, backoff_s=0.0),
        )
    assert out == "committed"
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["status"] for r in rows] == ["SUCCESS"]  # one attempt, no retry


def test_stage_failure_in_timeout_race_window_reports_worker_error(spark, tmp_path):
    """Same race window, but the worker RAISED: classify as an ordinary
    retryable failure whose cause is the worker's own exception, not the
    timeout."""
    from unittest import mock

    from nursing_home_data_etl_pipeline_spark import pipeline as P
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog

    boom = ValueError("stage blew up just as the wait expired")

    class RaceFuture:
        def result(self, timeout=None):
            raise P.FutureTimeout()

        def done(self):
            return True

        def exception(self):
            return boom

    class FakePool:
        def __init__(self, max_workers):
            pass

        def submit(self, fn):
            return RaceFuture()

        def shutdown(self, wait=False, cancel_futures=False):
            pass

    with mock.patch.object(P, "ThreadPoolExecutor", FakePool):
        with pytest.raises(ValueError, match="blew up"):
            P.run_stage(
                spark, RunLog(str(tmp_path / "log.jsonl")), "r1", "racy",
                lambda: None,
                P.StagePolicy(max_retries=0, timeout_s=0.01, backoff_s=0.0),
            )


def test_stage_detail_extractor_failure_does_not_rerun_stage(spark, tmp_path):
    """A broken detail_of must not re-run (or fail) a stage whose side
    effects already committed."""
    import json

    from nursing_home_data_etl_pipeline_spark.pipeline import StagePolicy, run_stage
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog

    path = tmp_path / "log.jsonl"
    log = RunLog(str(path))
    runs = []
    out = run_stage(
        spark, log, "r1", "s", lambda: runs.append(1) or "done",
        StagePolicy(max_retries=2, timeout_s=60, backoff_s=0.0),
        detail_of=lambda o: {"k": o["missing"]},  # raises TypeError
    )
    assert out == "done" and len(runs) == 1
    row = json.loads(path.read_text().splitlines()[-1])
    assert row["status"] == "SUCCESS" and "detail_error" in row["detail"]


def test_hidden_landing_files_are_ignored_not_half_ingested(spark, tmp_path):
    """Dot/underscore-prefixed landing files (and files inside hidden
    directories) are skipped entirely: syncing one would ledger-record it
    yet land it as a dotfile every downstream reader skips — data loss
    that LOOKS ingested."""
    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        list_landing_files,
    )

    land = tmp_path / "landing"
    (land / ".hidden_dir").mkdir(parents=True)
    (land / "NH_ProviderInfo_Feb2025.csv").write_text("a,b\n1,2\n")
    (land / ".NH_Secret.csv").write_text("a,b\n9,9\n")
    (land / "_staging.csv").write_text("a,b\n8,8\n")
    (land / ".hidden_dir" / "NH_ProviderInfo_Mar2025.csv").write_text("a,b\n3,4\n")
    names = [r.file_name for r in list_landing_files(str(land))]
    assert names == ["NH_ProviderInfo_Feb2025.csv"]


def test_versioned_upsert_tie_source_wins(spark, tmp_path):
    """A correction re-emitted with an UNCHANGED version must replace the
    stale row: on an order_col tie the source side wins, same as the
    no-version SCD1 path."""
    from nursing_home_data_etl_pipeline_spark.streaming.upsert import (
        start_upsert_sink,
    )

    target = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()

    def emit(name, rows):
        spark.createDataFrame(rows, "k long, name string, ver long").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src_dir / name))

    emit("b1", [(1, "typo", 10)])
    stream = (
        spark.readStream.schema("k long, name string, ver long")
        .option("maxFilesPerTrigger", "100")
        .parquet(str(src_dir) + "/*")
    )
    q = start_upsert_sink(stream, target, ["k"], ckpt, order_col="ver")
    q.awaitTermination()
    emit("b2", [(1, "fixed", 10)])  # same version, corrected attribute
    q2 = start_upsert_sink(
        spark.readStream.schema("k long, name string, ver long")
        .option("maxFilesPerTrigger", "100")
        .parquet(str(src_dir) + "/*"),
        target, ["k"], ckpt, order_col="ver",
    )
    q2.awaitTermination()
    rows = spark.read.parquet(target).collect()
    assert [(r.k, r.name, r.ver) for r in rows] == [(1, "fixed", 10)]


def test_merge_warehouse_dedupes_multi_row_source(spark, tmp_path):
    """Two files for one facility staged in a single run produce a
    multi-row transform output; the warehouse merge must install ONE row
    per key (merge_scd1's precondition), picking the deterministic
    tiebreak survivor."""
    from nursing_home_data_etl_pipeline_spark.pipeline import merge_warehouse
    from nursing_home_data_etl_pipeline_spark.transforms import PK
    from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

    zones = ZoneLayout(str(tmp_path))
    zones.ensure(spark)
    out = str(tmp_path / "facility_out")
    spark.createDataFrame(
        [("f1", "February Name"), ("f1", "March Name"), ("f2", "Solo")],
        f"{PK} string, provider_name string",
    ).write.parquet(out)
    merged = merge_warehouse(spark, zones, {"facility": out})
    assert merged == ["dim_facility"]
    dim = spark.read.parquet(zones.warehouse("dim_facility"))
    got = {r[PK]: r.provider_name for r in dim.collect()}
    assert len(got) == 2 and got["f2"] == "Solo"
    assert got["f1"] == "March Name"  # struct-max survivor, deterministic


def test_merge_warehouse_multi_drop_newest_wins_by_recency(spark, tmp_path):
    """When the transform output carries the per-file recency stamp
    (transforms.RECENCY_COL), 'latest per key' means NEWEST DROP — even when
    the stale drop's attributes are struct-greater, the case where the bare
    tiebreak would deterministically install the old month (ADVICE r6)."""
    import datetime

    from nursing_home_data_etl_pipeline_spark.pipeline import merge_warehouse
    from nursing_home_data_etl_pipeline_spark.transforms import PK, RECENCY_COL
    from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

    zones = ZoneLayout(str(tmp_path))
    zones.ensure(spark)
    out = str(tmp_path / "facility_out")
    t_feb = datetime.datetime(2025, 2, 1, 12, 0, 0)
    t_mar = datetime.datetime(2025, 3, 1, 12, 0, 0)
    # struct-max would pick "Z Old Name" (Feb); recency must pick "A New Name"
    spark.createDataFrame(
        [("f1", "Z Old Name", t_feb), ("f1", "A New Name", t_mar)],
        f"{PK} string, provider_name string, {RECENCY_COL} timestamp",
    ).write.parquet(out)
    merge_warehouse(spark, zones, {"facility": out})
    dim = spark.read.parquet(zones.warehouse("dim_facility"))
    got = {r[PK]: r.provider_name for r in dim.collect()}
    assert got == {"f1": "A New Name"}


def test_merge_warehouse_fanout_dim_keeps_newest_drop_group(spark, tmp_path):
    """FAN-OUT dims (penalties, surveys) merge whole key GROUPS — but a
    multi-drop cycle stages several drops' groups per facility, and
    installing them all duplicates every fan-out row (ADVICE r7). Only the
    NEWEST drop's group may land; a facility present only in the older drop
    still keeps its (older) group, and stamp-less outputs pass through."""
    import datetime

    from nursing_home_data_etl_pipeline_spark.pipeline import merge_warehouse
    from nursing_home_data_etl_pipeline_spark.transforms import PK, RECENCY_COL
    from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout

    zones = ZoneLayout(str(tmp_path))
    zones.ensure(spark)
    out = str(tmp_path / "penalties_out")
    t_feb = datetime.datetime(2025, 2, 1, 12, 0, 0)
    t_mar = datetime.datetime(2025, 3, 1, 12, 0, 0)
    spark.createDataFrame(
        [
            ("f1", 100.0, t_feb),  # stale drop's group: must NOT coexist
            ("f1", 200.0, t_feb),
            ("f1", 300.0, t_mar),  # newest drop's group: installed whole
            ("f1", 400.0, t_mar),
            ("f2", 50.0, t_feb),  # only in the old drop: still merged
        ],
        f"{PK} string, fine_amount double, {RECENCY_COL} timestamp",
    ).write.parquet(out)
    merge_warehouse(spark, zones, {"penalties": out})
    dim = spark.read.parquet(zones.warehouse("dim_penalties"))
    got = sorted((r[PK], r.fine_amount) for r in dim.collect())
    assert got == [("f1", 300.0), ("f1", 400.0), ("f2", 50.0)]


def test_pipeline_staging_and_dims_carry_recency(spark, landing, tmp_path):
    """End-to-end: the recency stamp flows landing-file mtime -> staging ->
    every transform output -> warehouse dims, and enrich joins stay
    unambiguous (one recency column, the entity side's)."""
    from nursing_home_data_etl_pipeline_spark.transforms import RECENCY_COL

    zones = ZoneLayout(str(tmp_path / "zones"))
    pipeline.run(spark, zones, landing_dir=str(landing))
    for dim in ("dim_facility", "dim_quality", "dim_surveys", "dim_penalties"):
        cols = spark.read.parquet(zones.warehouse(dim)).columns
        assert cols.count(RECENCY_COL) == 1, (dim, cols)
    fac = spark.read.parquet(zones.warehouse("dim_facility"))
    assert fac.filter(f"{RECENCY_COL} IS NULL").count() == 0


def test_enrich_overlapping_noncolumn_key_does_not_crash(spark, tmp_path):
    """A survey drop sharing a non-denorm column name with provider staging
    (real CMS files carry e.g. 'Rating Cycle 1 Revisit Score' in BOTH) must
    enrich cleanly — entity row wins — not build a duplicate-name frame that
    dies with AMBIGUOUS_REFERENCE at the first column reference."""
    d = tmp_path / "landing"
    d.mkdir()
    (d / "NH_ProviderInfo_Jun2025.csv").write_text(PROVIDER_CSV)
    (d / "NH_QualityMsr_MDS_Jun2025.csv").write_text(QUALITY_CSV)
    (d / "NH_Penalties_Jun2025.csv").write_text(PENALTIES_CSV)
    (d / "NH_SurveySummary_Jun2025.csv").write_text(
        "CMS Certification Number (CCN),Provider Name,Survey Date,"
        "Rating Cycle 1 Revisit Score\n"
        "015009,Sunny Acres,2024-05-01,99\n"
    )
    zones = ZoneLayout(str(tmp_path / "zones"))
    res = pipeline.run(spark, zones, landing_dir=str(d))
    assert "surveys" in res.transformed
    surveys = spark.read.parquet(zones.warehouse("dim_surveys"))
    assert surveys.columns.count("rating_cycle_1_revisit_score") == 1
    row = {r.facility_number: r for r in surveys.collect()}["015009"]
    # provider staging's value (10), not the enrich side's (99)
    assert row.rating_cycle_1_revisit_score == "10"
    assert row.survey_date == "2024-05-01"  # new attributes still joined


def test_source_synced_at_header_refused_loudly(spark, tmp_path):
    """A re-landed CSV export carries the engine's own recency stamp
    as a source header; silently replacing it with the file mtime would be
    invisible data loss, so universal_cleaning refuses (exact and case-
    variant names — the normalization-collision guard only catches variants
    like 'Synced At' that normalize onto the name inside clean_table)."""
    from nursing_home_data_etl_pipeline_spark import transforms

    zones = ZoneLayout(str(tmp_path / "zones"))
    zones.ensure(spark)
    src = tmp_path / "zones" / "source" / "provider_info"
    src.mkdir(parents=True)
    (src / "a.csv").write_text(
        "CMS Certification Number (CCN),Provider Name,Synced_At\n015009,Sunny,x\n"
    )
    with pytest.raises(ValueError, match="synced_at"):
        transforms.universal_cleaning(spark, zones)


def test_fanout_failures_quarantine_and_spare_the_other_branches(
    spark, tmp_path, monkeypatch
):
    """universal_cleaning runs every domain: each bad domain quarantines its
    own frame, the first bad one in domain order is raised, and the good
    domains' staging still commits. A failing provider output leaves the
    other four written and no cached relation behind."""
    from nursing_home_data_etl_pipeline_spark import transforms

    zones = ZoneLayout(str(tmp_path / "zones"))
    zones.ensure(spark)
    clash = "CMS Certification Number (CCN),Synced_At\n015009,x\n"
    sources = {
        "penalties": clash,
        "provider_info": PROVIDER_CSV,
        "qualitymsr_mds": QUALITY_CSV,
        "survey_summary": clash,
    }
    for domain, text in sources.items():
        (tmp_path / "zones" / "source" / domain).mkdir(parents=True)
        (tmp_path / "zones" / "source" / domain / "a.csv").write_text(text)
    with pytest.raises(ValueError, match="'penalties'.*synced_at"):
        transforms.universal_cleaning(spark, zones)
    for bad in ("penalties", "survey_summary"):
        assert (tmp_path / "zones" / "error" / f"cleaning_{bad}" / "_diagnostics.json").exists()
        assert not (tmp_path / "zones" / "staging" / bad).exists()
    assert spark.read.parquet(zones.staging("provider_info")).count() == 2
    assert spark.read.parquet(zones.staging("qualitymsr_mds")).count() == 3

    real_write = transforms.write_parquet

    def write_parquet(df, path, *args, **kwargs):
        if path == zones.transform("rating"):
            raise OSError("disk full")
        real_write(df, path, *args, **kwargs)

    monkeypatch.setattr(transforms, "write_parquet", write_parquet)
    spark.catalog.clearCache()
    with pytest.raises(OSError, match="disk full"):
        transforms.provider_transform(spark, zones)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert (tmp_path / "zones" / "error" / "transform_rating" / "_diagnostics.json").exists()
    for name in ("facility", "staffing", "surveys", "penalties"):
        assert spark.read.parquet(zones.transform(name)).count() == 2


def test_archive_versions_instead_of_overwriting(spark, tmp_path):
    """A re-dropped monthly file with a stable name must not destroy last
    month's archived raw copy: archive uniquifies with a counter inserted
    BEFORE the extension (round-8 IO hunt found the overwrite; round-9
    ADVICE found that the appended 'x.csv.1' form silently dropped
    archived versions out of every downstream '*.csv' glob)."""
    import os

    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        archive_source_files,
    )

    zones = ZoneLayout(str(tmp_path / "z"))
    zones.ensure(spark)
    pdir = tmp_path / "z" / "processed" / "penalties"
    pdir.mkdir(parents=True)
    (pdir / "x.csv").write_text("OLD ARCHIVED RAW (feb)")
    (pdir / "x.1.csv").write_text("OLDER ARCHIVED RAW (jan)")
    sdir = tmp_path / "z" / "source" / "penalties"
    sdir.mkdir(parents=True)
    (sdir / "x.csv").write_text("NEW RAW (mar)")

    moved = archive_source_files(spark, zones, known_domains={"penalties"})
    assert moved == {"processed": 1, "error": 0}
    assert (pdir / "x.csv").read_text() == "OLD ARCHIVED RAW (feb)"
    assert (pdir / "x.1.csv").read_text() == "OLDER ARCHIVED RAW (jan)"
    # counter skips the occupied .1 slot and stays glob-visible
    assert (pdir / "x.2.csv").read_text() == "NEW RAW (mar)"
    assert sorted(p.name for p in pdir.glob("*.csv")) == [
        "x.1.csv", "x.2.csv", "x.csv"
    ]


def test_archive_skips_hidden_files(spark, tmp_path):
    """archive must honor the Hadoop hidden-file convention: a concurrent
    sync's live .__tmp<pid> (and any _-prefixed marker) stays in place —
    moving it crashed the concurrent sync's os.replace and polluted the
    archive with a half-written file (round-8 IO hunt)."""
    import os

    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        archive_source_files,
    )

    zones = ZoneLayout(str(tmp_path / "z"))
    zones.ensure(spark)
    sdir = tmp_path / "z" / "source" / "penalties"
    sdir.mkdir(parents=True)
    (sdir / "y.csv").write_text("real data")
    (sdir / f".y.csv.__tmp{os.getpid()}").write_text("half-written")
    (sdir / "_SUCCESS").write_text("")

    moved = archive_source_files(spark, zones, known_domains={"penalties"})
    assert moved == {"processed": 1, "error": 0}
    # hidden files stayed; the source dir is therefore NOT removed
    assert sorted(p.name for p in sdir.iterdir()) == [
        f".y.csv.__tmp{os.getpid()}", "_SUCCESS"
    ]


def test_sweep_tolerates_unicode_digit_tmp_suffix(tmp_path):
    """'¹'.isdigit() is True but int('¹') raises — a planted unicode-digit
    tmp name crashed every subsequent sync's sweep (round-8 IO hunt)."""
    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        _sweep_stale_tmps,
    )

    d = tmp_path / "dom"
    d.mkdir()
    (d / ".x.csv.__tmp¹").write_text("")
    _sweep_stale_tmps(str(d))  # must not raise; non-decimal suffix swept
    assert not list(d.iterdir())


def test_uri_scheme_roots_fail_loudly(spark, tmp_path):
    """os/shutil-based ops see 'file:///...' as a literal relative dir:
    files landed in a phantom directory while the Spark-written ledger
    recorded them as synced — permanent silent loss (round-8 IO hunt).
    The local-path guard turns that into an immediate error."""
    import pytest as _pytest

    from nursing_home_data_etl_pipeline_spark.runlog import RunLog
    from nursing_home_data_etl_pipeline_spark.sources.ingest import (
        archive_source_files,
        sync_landing_to_source,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "NH_Penalties.csv").write_text("a,b\n1,2\n")
    uri_zones = ZoneLayout(f"file://{tmp_path}/z")
    ledger = IngestLedger(spark, str(tmp_path / "ledger"))
    with _pytest.raises(ValueError, match="LOCAL-filesystem"):
        sync_landing_to_source(spark, str(landing), uri_zones, ledger)
    with _pytest.raises(ValueError, match="LOCAL-filesystem"):
        archive_source_files(spark, uri_zones, known_domains=set())
    with _pytest.raises(ValueError, match="local-filesystem"):
        RunLog(f"file://{tmp_path}/z/run_log.jsonl")


def test_runlog_serializes_arbitrary_detail(tmp_path):
    """A detail value json can't serialize must degrade to repr, not fail
    the append: an append failure after a stage's side effects committed
    was reported as stage FAILURE and re-ran committed work (round-8 IO
    hunt)."""
    import json as _json

    from nursing_home_data_etl_pipeline_spark.runlog import RunLog, RunLogEntry

    log = RunLog(str(tmp_path / "rl.jsonl"))
    log.append(RunLogEntry("r1", "s1", "SUCCESS", 0.0, 1.0,
                           {"handle": object()}))
    row = _json.loads((tmp_path / "rl.jsonl").read_text())
    assert row["status"] == "SUCCESS" and "object" in row["detail"]["handle"]


def test_cleaning_skips_existing_but_empty_domain_dir(spark, tmp_path):
    """An existing-but-empty source domain dir (what a collided sync
    legitimately leaves behind) must be SKIPPED like a missing one —
    schema inference used to raise UNABLE_TO_INFER_SCHEMA before the
    is_empty() guard could run, wedging every later run (round-8 IO
    hunt)."""
    from nursing_home_data_etl_pipeline_spark.transforms import (
        universal_cleaning,
    )

    zones = ZoneLayout(str(tmp_path / "z"))
    zones.ensure(spark)
    (tmp_path / "z" / "source" / "penalties").mkdir(parents=True)
    (tmp_path / "z" / "source" / "surveys").mkdir(parents=True)
    (tmp_path / "z" / "source" / "surveys" / "s.csv").write_text(
        "a,b\n1,2\n"
    )
    staged = universal_cleaning(spark, zones)
    assert staged == ["surveys"]
