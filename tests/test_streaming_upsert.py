from __future__ import annotations

from pyspark.sql import types as T

from nursing_home_data_etl_pipeline_spark.streaming.upsert import start_upsert_sink

SCHEMA = T.StructType(
    [
        T.StructField("pk", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("ver", T.LongType()),
    ]
)


def test_streaming_upsert_scd1(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(SCHEMA).parquet(str(src))
        q = start_upsert_sink(stream, target, ["pk"], ckpt, order_col="ver")
        q.awaitTermination(120)

    # batch 1: bootstrap, including an intra-batch double update to key a
    spark.createDataFrame(
        [("a", 1, 1), ("a", 5, 2), ("b", 2, 1)], SCHEMA
    ).write.mode("append").parquet(str(src))
    drain()
    state = {r.pk: r.v for r in spark.read.parquet(target).collect()}
    assert state == {"a": 5, "b": 2}  # latest ver wins within the batch

    # batch 2: update a, insert c; b untouched
    spark.createDataFrame([("a", 9, 3), ("c", 7, 1)], SCHEMA).write.mode(
        "append"
    ).parquet(str(src))
    drain()
    state = {r.pk: r.v for r in spark.read.parquet(target).collect()}
    assert state == {"a": 9, "b": 2, "c": 7}

    # restart with nothing new: checkpoint ledger -> no reprocessing, state stable
    drain()
    assert {r.pk: r.v for r in spark.read.parquet(target).collect()} == state


def test_streaming_upsert_no_order_col_dedups_batch(spark, tmp_path):
    """order_col=None with an intra-batch double update: the struct-max row
    per key wins and the dim holds ONE row per key (feeding the raw batch
    to merge_scd1 violated its unique-source precondition and left both
    rows in the dim forever)."""
    src = tmp_path / "src3"
    src.mkdir()
    target = str(tmp_path / "dim3")
    ckpt = str(tmp_path / "ckpt3")

    spark.createDataFrame(
        [("a", 1, 1), ("a", 5, 2), ("b", 2, 1)], SCHEMA
    ).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = start_upsert_sink(stream, target, ["pk"], ckpt, order_col=None)
    q.awaitTermination(120)
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 2  # one row per key, not three
    state = {r.pk: (r.v, r.ver) for r in rows}
    assert state["b"] == (2, 1)
    assert state["a"] == (5, 2)  # struct-max (v, ver) — deterministic


def test_recover_dir_restores_crashed_swap(spark, tmp_path):
    """Crash between replace_dir's two renames leaves the accumulated table
    at __old with the target missing. recover_dir must restore it, and
    replace_dir must REFUSE (not delete the only full copy) if asked to
    swap into that half-state — before the fix the 'leftover backup'
    branch deleted __old and installed a frame computed without it."""
    import pytest

    from nursing_home_data_etl_pipeline_spark.sources.writers import (
        recover_dir,
        replace_dir,
    )

    target = str(tmp_path / "rdim")
    spark.createDataFrame([("a", 1)], "pk string, v long").write.parquet(target)
    # simulate the crash window: target renamed aside, staging never landed
    import os

    os.rename(target, target + "__old")
    with pytest.raises(IOError, match="recover_dir"):
        replace_dir(spark.createDataFrame([("b", 2)], "pk string, v long"), target)
    assert os.path.exists(target + "__old")  # backup NOT deleted by refusal
    assert recover_dir(spark, target) is True
    assert {r.pk for r in spark.read.parquet(target).collect()} == {"a"}
    assert recover_dir(spark, target) is False  # idempotent no-op after


def test_streaming_upsert_no_order_col_map_column(spark, tmp_path):
    """order_col=None dedup must carry (not order by) map-typed columns —
    the full-row max_by ordering failed analysis on the first batch."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("pk", T.StringType()),
            T.StructField("v", T.LongType()),
            T.StructField("attrs", T.MapType(T.StringType(), T.IntegerType())),
        ]
    )
    src = tmp_path / "msrc"
    src.mkdir()
    target = str(tmp_path / "mdim")
    spark.createDataFrame(
        [("a", 1, {"x": 1}), ("a", 2, {"y": 2})], schema
    ).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = start_upsert_sink(stream, target, ["pk"], str(tmp_path / "mckpt"))
    q.awaitTermination(120)
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1 and rows[0].v == 2  # max orderable (v) wins


def test_streaming_upsert_merge_error_fails_query_not_wipes_dim(spark, tmp_path):
    """ADVICE round-1 regression: a merge-time failure on a later micro-batch
    must FAIL the streaming query (checkpoint replays it safely), not be
    treated as first-batch bootstrap — which would silently wipe the
    maintained dim down to that batch's rows."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = tmp_path / "src2"
    src.mkdir()
    target = str(tmp_path / "dim2")
    ckpt = str(tmp_path / "ckpt2")

    spark.createDataFrame([("a", 1, 1)], SCHEMA).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = start_upsert_sink(stream, target, ["pk"], ckpt, order_col="ver")
    q.awaitTermination(120)
    before = {r.pk: r.v for r in spark.read.parquet(target).collect()}
    assert before == {"a": 1}

    # Drift the target: add a column the stream cannot supply, so the merge's
    # source.select(*target.columns) raises inside foreachBatch.
    drifted = spark.read.parquet(target).withColumnRenamed("v", "renamed_v")
    drifted.write.mode("overwrite").parquet(str(tmp_path / "dim2_drift"))
    spark.read.parquet(str(tmp_path / "dim2_drift")).write.mode("overwrite").parquet(target)

    spark.createDataFrame([("b", 2, 1)], SCHEMA).write.mode("append").parquet(str(src))
    stream2 = spark.readStream.schema(SCHEMA).parquet(str(src))
    q2 = start_upsert_sink(stream2, target, ["pk"], ckpt, order_col="ver")
    with pytest.raises(StreamingQueryException):
        q2.awaitTermination(120)
        q2.processAllAvailable()

    # The dim was NOT wiped to the new batch's rows.
    after = {r.pk for r in spark.read.parquet(target).collect()}
    assert after == {"a"}

