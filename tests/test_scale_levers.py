"""Scale levers: partitioned writes with partition pruning, broadcast
behavior — asserted on the physical plan, not just the result."""

from __future__ import annotations

from pyspark.sql import functions as F

from nursing_home_data_etl_pipeline_spark.sources.writers import write_parquet


def _physical_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(100)],
        ["id", "part", "v"],
    )
    out = str(tmp_path / "pt")
    write_parquet(df, out, partition_by=["part"])
    back = spark.read.parquet(out).filter(F.col("part") == "a")
    plan = _physical_plan(back)
    # partition filter applied at scan: only the matching directory is read
    assert back.count() == 50
    assert "PartitionFilters: [isnotnull(part" in plan or "part#" in plan
    files = back.select(F.input_file_name()).distinct().collect()
    assert all("part=a" in r[0] for r in files)


def test_broadcast_join_in_enrich_plan(spark, sf_dir):
    from nursing_home_data_etl_pipeline_spark.plans import catalog

    df = catalog.entries()["left_join_enrich"].spark(spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from nursing_home_data_etl_pipeline_spark.plans import catalog

    df = catalog.entries()["filter_name_projection"].spark(spark, sf_dir)
    plan = _physical_plan(df)
    assert "PushedFilters" in plan and "GreaterThan(l_discount,0.05)" in plan


def test_aqe_coalesces_shuffle_partitions(spark):
    # 32 configured shuffle partitions on tiny data: AQE must coalesce the
    # post-shuffle partition count way down (proves runtime re-planning on).
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    from pyspark.sql import functions as F

    out = spark.range(100).groupBy((F.col("id") % 5).alias("k")).count()
    out.collect()
    assert out.rdd.getNumPartitions() < int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
