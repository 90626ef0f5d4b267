from __future__ import annotations

from pyspark.sql import functions as F

from nursing_home_data_etl_pipeline_spark.operators.aggregates import (
    cube_agg,
    pivot_agg,
    rollup_agg,
    unpivot_stack,
)
from nursing_home_data_etl_pipeline_spark.operators.windows import (
    top_k_global,
    top_k_per_group,
)


def test_rollup_and_cube_counts(spark):
    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)], ["k1", "k2", "v"]
    )
    aggs = [F.sum("v").alias("s")]
    # rollup: 3 leaf + 2 k1-subtotals + 1 total = 6
    assert rollup_agg(df, ["k1", "k2"], aggs).count() == 6
    # cube adds k2-subtotals: 6 + 2 = 8
    assert cube_agg(df, ["k1", "k2"], aggs).count() == 8


def test_pivot_explicit_values(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)], ["k", "q", "v"]
    )
    out = pivot_agg(df, ["k"], "q", [1, 2], F.sum("v"))
    rows = {r.k: (r["1"], r["2"]) for r in out.collect()}
    assert rows == {"a": (10.0, 20.0), "b": (5.0, None)}


def test_unpivot_roundtrip(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0)], ["id", "m1", "m2"])
    out = unpivot_stack(df, ["id"], ["m1", "m2"]).collect()
    assert {(r.metric, r.value) for r in out} == {("m1", 2.0), ("m2", 3.0)}


def test_topk_per_group_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 2, 5.0), ("g", 3, 5.0)], ["g", "id", "v"]
    )
    out = top_k_per_group(
        df, ["g"], [F.col("v").desc(), F.col("id")], k=2
    ).collect()
    assert [r.id for r in sorted(out, key=lambda r: r.rank)] == [1, 2]


def test_topk_global(spark):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))
    out = top_k_global(df, [F.col("v").desc(), F.col("id")], k=3).collect()
    assert [r.id for r in out] == [6, 13, 20]


def test_running_agg_ties_share_the_range_sum(spark):
    """running_agg uses a RANGE frame: rows tied on the full ordering are
    peers and BOTH include the tie group's total — deterministic for any
    data. A ROWS frame would hand the two tied rows order-dependent
    values (hit in practice: sf0.1 lineitem reuses (orderkey,
    linenumber), and one full-ordering collision flipped the cumulative
    sum between engines)."""
    from nursing_home_data_etl_pipeline_spark.operators.windows import running_agg

    df = spark.createDataFrame(
        [(1, 10, 2.0), (1, 10, 3.0), (1, 20, 5.0)],
        "k int, ord int, v double",
    )
    out = running_agg(
        df, partition_by=["k"], order_by=[F.col("ord")], agg_col="v"
    ).collect()
    got = sorted((r.ord, r.v, r.running) for r in out)
    assert got == [(10, 2.0, 5.0), (10, 3.0, 5.0), (20, 5.0, 10.0)]


def test_window_helpers_raise_on_output_column_collision(spark):
    """A pre-existing business column named like the window output used to
    be silently REPLACED by withColumn (round-9 review) — now a loud
    ValueError, consistent with the sketch helpers' clash guard."""
    import pytest

    from nursing_home_data_etl_pipeline_spark.operators.windows import (
        running_agg,
        top_k_per_group,
    )

    df = spark.createDataFrame(
        [(1, 1.0, 7, 0.0)], "k int, v double, rank int, running double")
    with pytest.raises(ValueError, match="'rank' already exists"):
        top_k_per_group(df, ["k"], [F.col("v")], k=1)
    with pytest.raises(ValueError, match="'running' already exists"):
        running_agg(df, ["k"], [F.col("v")], "v")


def test_segmented_windows_match_flat_on_edge_data(spark):
    """round-13 #1: the two-level segmented rewrites must agree with the
    flat single-window plans on NULL keys, NULL order values, full-order
    ties (running sum), NULL values, and a hot key — with threshold 0 so
    the segmented branch actually runs, and few enough segments that
    several rows share one while boundaries still cross."""
    from pyspark.sql import Window

    from nursing_home_data_etl_pipeline_spark.operators.windows import (
        lags_scaled,
        running_agg,
        running_sum_scaled,
    )

    rows = []
    for i in range(200):  # hot key 0 owns ~75% of rows
        rows.append((0 if i % 4 else 7, i % 50, i, float(i) if i % 9 else None))
    rows += [(None, None, 1000, 1.0), (None, 3, 1001, None), (0, None, 1002, 2.0),
             (0, 10, 1003, 4.0), (0, 10, 1003, 6.0)]  # full-order tie pair
    df = spark.createDataFrame(rows, "k int, o int, id int, v double")

    seg = running_sum_scaled(df, ["k"], ["o", "id"], "v",
                             threshold_bytes=0, n_segments=5)
    flat = running_agg(df, ["k"], [F.col("o"), F.col("id")], "v")
    key = lambda r: (r.k, r.o, r.id, r.v, r.running)  # noqa: E731
    assert sorted(map(key, seg.collect()), key=str) == sorted(
        map(key, flat.collect()), key=str)

    uniq = df.filter(F.col("id") != 1003)  # lag needs a total order
    seg_lag = lags_scaled(uniq, ["k"], ["o", "id"], [((), "v", "lg")],
                          threshold_bytes=0, n_segments=5)
    w = Window.partitionBy("k").orderBy("o", "id")
    flat_lag = uniq.withColumn("lg", F.lag("v", 1).over(w))
    key2 = lambda r: (r.k, r.o, r.id, r.v, r.lg)  # noqa: E731
    assert sorted(map(key2, seg_lag.collect()), key=str) == sorted(
        map(key2, flat_lag.collect()), key=str)


def test_fused_refined_lags_match_flat(spark):
    """round-15 #5: lags_scaled computes several refinement lags in ONE
    segmented (keys, segment) pass — each output must equal the flat lag
    over (partition+refine), including NULL refine keys, NULL values,
    runs crossing segment boundaries, and single-row runs."""
    from pyspark.sql import Window

    from nursing_home_data_etl_pipeline_spark.operators.windows import (
        lags_scaled,
    )

    rows = [(0 if i % 4 else 7,
             None if i % 11 == 0 else ["a", "b", "c"][i % 3],
             i, float(i) if i % 9 else None) for i in range(200)]
    rows += [(None, None, 1000, 1.0), (None, "a", 1001, None),
             (0, None, 1002, 2.0), (7, "z", 1003, 4.0)]  # single-row run
    df = spark.createDataFrame(rows, "k int, t string, o int, v double")

    got = lags_scaled(df, ["k"], ["o"],
                      [((), "v", "lg0"), (("t",), "v", "lgt")],
                      threshold_bytes=0, n_segments=5)
    flat = df.withColumn(
        "lg0", F.lag("v", 1).over(Window.partitionBy("k").orderBy("o"))
    ).withColumn(
        "lgt", F.lag("v", 1).over(Window.partitionBy("k", "t").orderBy("o")))
    key = lambda r: (r.k, r.t, r.o, r.v, r.lg0, r.lgt)  # noqa: E731
    assert sorted(map(key, got.collect()), key=str) == sorted(
        map(key, flat.collect()), key=str)


def test_segmented_catalog_windows_match_oracle(spark, monkeypatch):
    """Force the two window catalog queries down the SEGMENTED path (size
    estimate patched huge) and gate them against their DuckDB oracles —
    the same comparison the sf10 gates run where the threshold trips
    naturally."""
    from nursing_home_data_etl_pipeline_spark.operators import ids
    from nursing_home_data_etl_pipeline_spark.plans import catalog
    from nursing_home_data_etl_pipeline_spark.plans.verify import (
        compare_query,
        duckdb_connection,
    )

    monkeypatch.setattr(ids, "_estimated_size_bytes", lambda df: 1 << 60)
    sf = "/root/testdata/sf0.001"
    con = duckdb_connection(sf)
    try:
        for name in ("window_running_sum", "events_lag_debounce"):
            e = catalog.entries()[name]
            problems = compare_query(spark, con, e.spark, e.oracle, sf)
            assert not problems, f"{name} (segmented): {problems}"
    finally:
        con.close()


def test_hot_share_resolves_beyond_sample_ceiling(spark, monkeypatch):
    """round-15 #1: above _HOT_RESOLVABLE_BYTES the 64k sample bottoms out;
    the exact distributed probe must still return a FLAT verdict for
    uniform keys (r14 force-segmented here, ~2x on uniform lag at exactly
    the 100 TB design point) and a segmented one for a hot key."""
    from nursing_home_data_etl_pipeline_spark.operators import ids, windows

    mocked = 4 * windows._HOT_RESOLVABLE_BYTES  # ~2 TiB estimate
    monkeypatch.setattr(ids, "_estimated_size_bytes", lambda df: mocked)
    # uniform: every key unique -> exact share 1/50000; share*size ~46 MiB
    # <= 64 MiB threshold -> flat, deterministically
    uniform = spark.range(50_000).select(
        F.col("id").alias("k"), F.col("id").alias("o"))
    assert windows.plan_segments(uniform, ["o"], ["k"]) is None
    # hot: one key holds 1% of rows -> share*size ~22 GiB -> segmented
    hot = spark.range(50_000).select(
        F.when(F.col("id") % 100 == 0, F.lit(-1)).otherwise(F.col("id"))
        .alias("k"), F.col("id").alias("o"))
    assert windows.plan_segments(hot, ["o"], ["k"]) is not None


def test_hot_share_gating_switch_boundary(spark):
    """round-14 #3: above the size threshold, segmentation engages only
    when the sampled hot-key share says some key's history can exceed one
    task's threshold — uniform keys take the FLAT plan (segmentation cost
    ~2x uniform lag at sf10), a hot key takes the segmented one, and the
    segmented result still equals the flat window at the switch point."""
    from pyspark.sql import Window

    from nursing_home_data_etl_pipeline_spark.operators.ids import (
        _estimated_size_bytes,
    )
    from nursing_home_data_etl_pipeline_spark.operators.windows import (
        lags_scaled,
        plan_segments,
    )

    uniform = spark.range(2000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("o"),
        (F.col("id") % 7).cast("double").alias("v"))
    hot = spark.range(2000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("o"), (F.col("id") % 7).cast("double").alias("v"))
    thr = _estimated_size_bytes(uniform) // 10  # share .002 flat, .5 hot
    assert plan_segments(uniform, ["o"], ["k"], threshold_bytes=thr) is None
    seg_col = plan_segments(hot, ["o"], ["k"], threshold_bytes=thr)
    assert seg_col is not None

    got = lags_scaled(hot, ["k"], ["o"], [((), "v", "lg")],
                      threshold_bytes=thr, n_segments=5)
    flat = hot.withColumn("lg", F.lag("v", 1).over(
        Window.partitionBy("k").orderBy("o")))
    key = lambda r: (r.k, r.o, r.v, r.lg)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, flat.collect()))
