from __future__ import annotations

import datetime
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from nursing_home_data_etl_pipeline_spark.operators.ids import (
    with_dense_id,
    with_dense_id_sharded,
    with_etl_metadata,
    with_fast_id,
)
from nursing_home_data_etl_pipeline_spark.sources.readers import (
    is_empty,
    read_csv_untyped,
    read_parquet,
)
from nursing_home_data_etl_pipeline_spark.sources.writers import write_error, write_parquet
from nursing_home_data_etl_pipeline_spark.zones import ZoneLayout


def test_fast_id_unique(spark):
    df = spark.range(100).repartition(4)
    out = with_fast_id(df)
    assert out.select("row_id").distinct().count() == 100


def test_dense_id_stable(spark):
    df = spark.createDataFrame([(30,), (10,), (20,)], ["k"])
    rows = with_dense_id(df, order_by=["k"]).orderBy("k").collect()
    assert [(r.k, r.row_id) for r in rows] == [(10, 1), (20, 2), (30, 3)]


def test_etl_metadata(spark):
    row = with_etl_metadata(spark.createDataFrame([(1,)], ["k"]), order_by=["k"]).collect()[0]
    assert row.row_id == 1 and isinstance(row.etl_date, datetime.date)


def test_dense_id_sharded_matches_flat(spark):
    # Adversarial ordering: ids assigned by descending value, messy
    # partitioning — the sharded two-level scan must emit the exact ids the
    # flat single-window sort does.
    df = spark.range(0, 1000).select(
        (999 - (17 * 13 * (999 - F.col("id")) % 1000)).alias("k")
    ).repartition(7)
    flat = {r.k: r.row_id for r in with_dense_id(df, ["k"]).collect()}
    shard = {r.k: r.row_id for r in with_dense_id_sharded(df, ["k"], n_shards=5).collect()}
    assert shard == flat
    assert sorted(shard.values()) == list(range(1, 1001))


def test_dense_id_sharded_string_keys(spark):
    """The boundary literals and struct comparisons must work for string
    keys too — including empty, quoted, spaced, and non-ascii values."""
    keys = ["", "a", "Z", "émile", "b b", '"q"', "z" * 30, "aa"]
    df = spark.createDataFrame([(k,) for k in keys], "k string").repartition(3)
    flat = {r.k: r.row_id for r in with_dense_id(df, ["k"]).collect()}
    shard = {
        r.k: r.row_id
        for r in with_dense_id_sharded(df, ["k"], n_shards=3).collect()
    }
    assert shard == flat
    assert sorted(shard.values()) == list(range(1, len(keys) + 1))


def test_dense_id_sharded_no_corpus_single_partition_window(spark):
    # The corpus-sized row_number window must partition by the captured
    # range-partition id; the only SinglePartition exchange allowed is the
    # one feeding the shard-count cumsum (downstream of an aggregate).
    from _plan_utils import full_plan_of, single_partition_exchanges_fed_by_aggregate

    df = spark.range(0, 10_000).select((10_000 - F.col("id")).alias("k"))
    full = full_plan_of(with_dense_id_sharded(df, ["k"], n_shards=8))
    assert "windowspecdefinition(_pid" in full
    assert "SinglePartition" in full, (
        "expected the tiny offsets cumsum to be single-partition"
    )
    assert single_partition_exchanges_fed_by_aggregate(full), full.split("\n\n")[0]


def test_dense_id_sharded_without_exchange_reuse(spark):
    # The sharded subtree appears twice in the plan (window side and
    # counts/offsets side). Exchange reuse normally materializes it once;
    # with reuse DISABLED the two instances must still agree. The literal
    # cut points guarantee that: the shard id is a pure row-local function
    # of the key, identical in every physical instantiation. (The earlier
    # repartitionByRange formulation sampled boundaries per materialization
    # and DID diverge without reuse — ids duplicated; this test pins the
    # fix.)
    df = spark.range(0, 2000).select((2000 - F.col("id")).alias("k")).repartition(5)
    prev = spark.conf.get("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        shard = {r.k: r.row_id for r in with_dense_id_sharded(df, ["k"], n_shards=6).collect()}
    finally:
        spark.conf.set("spark.sql.exchange.reuse", prev)
    assert sorted(shard.values()) == list(range(1, 2001))
    assert [k for k, _ in sorted(shard.items(), key=lambda t: t[1])] == sorted(shard)


def test_shard_case_tree_log_depth_at_1024(spark):
    """The shard router must be a log-depth binary-search CASE tree, not an
    O(n_shards) comparison chain: at the 1024-shard cap the per-row cost is
    ceil(log2(1024)) = 10 nested CASEs (a flat chain would nest 1023 deep
    and risk codegen's interpreted fallback)."""
    import math

    from nursing_home_data_etl_pipeline_spark.operators.ids import _shard_case_tree

    cuts = [(i,) for i in range(1, 1024)]  # 1023 cuts -> 1024 shards
    key = F.struct(F.col("k").alias("k"))
    expr, depth = _shard_case_tree(key, cuts, ["k"])
    assert depth == math.ceil(math.log2(len(cuts) + 1)) == 10
    # and it routes correctly: shard id == #cuts <= key, NULL key -> shard 0
    df = spark.createDataFrame(
        [(None,), (0,), (1,), (512,), (1023,), (5000,)], "k int"
    )
    got = {r.k: r.pid for r in df.select("k", expr.alias("pid")).collect()}
    assert got == {None: 0, 0: 0, 1: 1, 512: 512, 1023: 1023, 5000: 1023}


def test_dense_id_sharded_full_1024_shards(spark):
    """End-to-end at the shard cap: 5000 rows through 1024 shards must give
    the exact flat ids (routing, per-shard numbering, and offsets all agree
    at maximum plan width)."""
    df = spark.range(0, 5000).select((5000 - F.col("id")).alias("k")).repartition(5)
    shard = {
        r.k: r.row_id
        for r in with_dense_id_sharded(df, ["k"], n_shards=1024).collect()
    }
    assert sorted(shard.values()) == list(range(1, 5001))
    assert [k for k, _ in sorted(shard.items(), key=lambda t: t[1])] == sorted(shard)


def test_dense_id_tiebreak_deterministic(spark):
    """Tie contract: order_by SHOULD be unique, but when it ties the default
    tiebreak (struct of remaining orderable columns) makes ids deterministic
    — same assignment across partitionings, and flat == sharded."""
    rows = [(k, v) for k in (1, 1, 2, 2, 2, 3) for v in ("x", "m", "a")]
    # give each (k, v) pair a distinguishing payload so ties differ somewhere
    data = [(k, f"{v}{i}") for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k int, v string")
    a = {(r.k, r.v): r.row_id for r in with_dense_id(df.repartition(7), ["k"]).collect()}
    b = {(r.k, r.v): r.row_id for r in with_dense_id(df.coalesce(1), ["k"]).collect()}
    c = {
        (r.k, r.v): r.row_id
        for r in with_dense_id_sharded(df.repartition(3), ["k"], n_shards=4).collect()
    }
    assert a == b == c
    # within each tied key group, ids follow the tiebreak (v) order
    for k in (1, 2, 3):
        grp = sorted((v, rid) for (kk, v), rid in a.items() if kk == k)
        assert [rid for _, rid in grp] == sorted(rid for _, rid in grp)


def test_dense_id_tiebreak_skips_unorderable_columns(spark):
    """MapType has no Spark ordering — the tiebreak must exclude it instead
    of generating an unresolvable sort."""
    df = spark.createDataFrame(
        [(1, {"a": 1}, "x"), (1, {"b": 2}, "y"), (2, {"c": 3}, "z")],
        "k int, m map<string,int>, v string",
    )
    out = with_dense_id(df, ["k"]).collect()
    assert sorted(r.row_id for r in out) == [1, 2, 3]


def test_etl_metadata_switches_to_sharded(spark):
    df = spark.range(0, 500).select(F.col("id").alias("k"))
    from _plan_utils import full_plan_of

    stamped = with_etl_metadata(df, order_by=["k"], shard_threshold_bytes=100)
    assert "windowspecdefinition(_pid" in full_plan_of(stamped)  # sharded path
    ids = [r.row_id for r in stamped.orderBy("k").collect()]
    assert ids == list(range(1, 501))


def test_zone_layout(spark, tmp_path):
    z = ZoneLayout(str(tmp_path))
    z.ensure(spark)
    assert z.staging("provider_info").endswith("/staging/provider_info")
    os.makedirs(z.source("d2"))
    os.makedirs(z.source("d1"))
    assert z.list_domains("source", spark) == ["d1", "d2"]
    with pytest.raises(ValueError):
        z.path("nope")


def test_csv_untyped_roundtrip(spark, tmp_path):
    p = tmp_path / "in"
    p.mkdir()
    (p / "a.csv").write_text("Provider Name,Rating\n  x ,5\n")
    df = read_csv_untyped(spark, str(p))
    assert [f.dataType.typeName() for f in df.schema.fields] == ["string", "string"]
    assert df.columns == ["Provider Name", "Rating"]


def test_parquet_sink_and_empty_guard(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    out = str(tmp_path / "t")
    write_parquet(df, out)
    back = read_parquet(spark, out)
    assert back.count() == 1
    assert not is_empty(back)
    assert is_empty(back.filter("k > 1"))


def test_error_sink_without_frame(spark, tmp_path):
    # Bug B1 regression: error sink must work when the read itself failed.
    write_error(spark, None, str(tmp_path / "err"), "read failed", ValueError("boom"))
    assert (tmp_path / "err" / "_diagnostics.json").exists()


def test_error_sink_inside_stage_uses_the_session_fs(spark, tmp_path, monkeypatch):
    """On a stage's worker thread there is no active session to look up, so
    the sidecar must go through the session it is given: a file:// error
    path lands at that path, not in a './file:' directory under the cwd."""
    from nursing_home_data_etl_pipeline_spark.pipeline import StagePolicy, run_stage
    from nursing_home_data_etl_pipeline_spark.runlog import RunLog

    monkeypatch.chdir(tmp_path)
    err = f"file://{tmp_path}/err"
    run_stage(
        spark, RunLog(str(tmp_path / "log.jsonl")), "r1", "quarantine",
        lambda: write_error(spark, None, err, "read failed", ValueError("boom")),
        StagePolicy(max_retries=0, timeout_s=60, backoff_s=0.0),
    )
    assert (tmp_path / "err" / "_diagnostics.json").exists()
    assert not (tmp_path / "file:").exists()


def test_error_sink_with_frame(spark, tmp_path):
    df = spark.createDataFrame([(1,)], ["k"])
    write_error(spark, df, str(tmp_path / "err"), "transform failed", RuntimeError("x"))
    assert (tmp_path / "err" / "data").exists()


def test_error_sink_records_secondary_quarantine_failure(spark, tmp_path):
    """When the in-flight frame itself is unwritable (its evaluation
    raises), the sink must still land the diagnostics AND record the
    secondary failure there — a doubly-failed dump must not be silent."""
    import json

    poisoned = spark.createDataFrame([(1,)], ["k"]).select(
        F.assert_true(F.col("k") > 5).alias("x"), "k"
    )
    write_error(
        spark, poisoned, str(tmp_path / "err"), "transform failed", RuntimeError("orig")
    )
    diag = json.loads((tmp_path / "err" / "_diagnostics.json").read_text())
    assert diag["error"] == "RuntimeError('orig')"
    assert "quarantine_error" in diag and diag["quarantine_traceback"]


def test_zone_layout_hadoop_fs_parity(spark, tmp_path):
    """list_domains/ensure go through the Hadoop FS API (an s3a:// root
    must list the real zone, not a driver-local phantom path); on a local
    root they must agree with the local filesystem."""
    z = ZoneLayout(str(tmp_path))
    z.ensure(spark)
    for zone in z.zones:
        assert os.path.isdir(z.path(zone))
    os.makedirs(z.source("d1"))
    (Path(z.path("source")) / "not_a_dir.csv").write_text("a\n")
    assert z.list_domains("source", spark) == ["d1"]  # files excluded
