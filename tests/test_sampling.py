from __future__ import annotations

from pyspark.sql import functions as F

from nursing_home_data_etl_pipeline_spark.operators.sampling import (
    hash_split,
    stratified_deterministic_sample,
)


def test_hash_split_partition_and_weights(spark):
    df = spark.range(5000).withColumnRenamed("id", "k")
    out = hash_split(df, "k")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    assert abs(counts["train"] / 5000 - 0.8) < 0.05
    # every row in exactly one split, assignment stable across reruns
    assert sum(counts.values()) == 5000
    again = {r.k: r.split for r in hash_split(df, "k").collect()}
    first = {r.k: r.split for r in out.collect()}
    assert first == again


def test_stratified_fractions(spark):
    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, ["k", "s"])
    out = stratified_deterministic_sample(df, "k", "s", {"a": 0.9, "b": 0.1})
    counts = {r.s: r.n for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["a"] / 1000 - 0.9) < 0.07
    assert abs(counts["b"] / 1000 - 0.1) < 0.07
    # stratum not listed -> dropped
    out2 = stratified_deterministic_sample(df, "k", "s", {"a": 0.5})
    assert out2.filter("s = 'b'").count() == 0


def test_hash_split_unbiased_and_null_consistent(spark):
    """48-bit bucket hash: split fractions land within ~1% of the weights
    (the 16-bit original skewed 0.8 to a measured 0.817), NULL keys get a
    deterministic sentinel assignment consistent with the sampling bucket,
    and mismatched weights/names raise instead of zip-truncating."""
    import pytest

    from nursing_home_data_etl_pipeline_spark.operators.sampling import (
        _hash_bucket,
        hash_split,
    )

    df = spark.range(20_000).withColumnRenamed("id", "k")
    frac = {
        r.split: r.n
        for r in hash_split(df, "k").groupBy("split").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert abs(frac["train"] / 20_000 - 0.8) < 0.01
    assert abs(frac["val"] / 20_000 - 0.1) < 0.01
    assert abs(frac["test"] / 20_000 - 0.1) < 0.01

    with_null = spark.createDataFrame([(None,), (1,)], "k long")
    split_of_null = {
        r.k: r.split for r in hash_split(with_null, "k").collect()
    }[None]
    sampled_keys = {
        r.k for r in with_null.filter(
            _hash_bucket(F.col("k"), "sample") < 10000).collect()
    }
    assert None in sampled_keys  # fraction 1.0 keeps NULL keys too
    assert split_of_null in {"train", "val", "test"}

    with pytest.raises(ValueError, match="weights"):
        hash_split(df, "k", weights=(0.5, 0.3, 0.1, 0.1))


def test_hash_bucket_duckdb_twin_includes_null_sentinel(spark):
    """The DuckDB oracle twin of _hash_bucket must bucket NULL keys exactly
    as the Spark side's chr(0)||'<null>' sentinel does — without the
    COALESCE the concat yields NULL, every comparison is false, and
    NULL-keyed rows vanish from the oracle while Spark samples them."""
    import duckdb

    from nursing_home_data_etl_pipeline_spark.operators.sampling import _hash_bucket
    from nursing_home_data_etl_pipeline_spark.plans.queries_sampling import (
        _duck_hash_bucket,
    )

    df = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    got = {
        r.k: r.b
        for r in df.select("k", _hash_bucket(F.col("k"), "split").alias("b")).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT k, {_duck_hash_bucket('k', 'split')} "
            "FROM (VALUES (1), (2), (NULL)) t(k)"
        ).fetchall()
    )
    assert got == want and got[None] is not None
