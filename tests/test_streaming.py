from __future__ import annotations

from pyspark.sql import types as T

from nursing_home_data_etl_pipeline_spark.streaming.ingest import (
    start_clean_to_staging,
)

CSV_SCHEMA = T.StructType(
    [
        T.StructField("CMS Certification Number (CCN)", T.StringType()),
        T.StructField("Provider Name", T.StringType()),
    ]
)


def test_streaming_ingest_exactly_once(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.csv").write_text(
        "CMS Certification Number (CCN),Provider Name\n 1 , Alpha \n"
    )
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")

    q = start_clean_to_staging(spark, str(landing), CSV_SCHEMA, staging, ckpt)
    q.awaitTermination(60)

    out = spark.read.parquet(staging)
    assert out.columns == ["facility_number", "facility_name"]
    rows = out.collect()
    assert rows[0].facility_name == "Alpha"  # trimmed

    # second file lands; restart drains ONLY the new file (checkpoint ledger)
    (landing / "b.csv").write_text(
        "CMS Certification Number (CCN),Provider Name\n2,Beta\n"
    )
    q2 = start_clean_to_staging(spark, str(landing), CSV_SCHEMA, staging, ckpt)
    q2.awaitTermination(60)
    names = sorted(r.facility_name for r in spark.read.parquet(staging).collect())
    assert names == ["Alpha", "Beta"]  # no duplicate Alpha

    # third restart with nothing new: still exactly-once
    q3 = start_clean_to_staging(spark, str(landing), CSV_SCHEMA, staging, ckpt)
    q3.awaitTermination(60)
    assert spark.read.parquet(staging).count() == 2


def test_streaming_catalog_queries_registered():
    from nursing_home_data_etl_pipeline_spark.plans import catalog

    names = set(catalog.entries())
    assert {
        "streaming_windowed_agg",
        "streaming_session_counts",
        "streaming_stateful_totals",
    } <= names


def test_streaming_dropduplicates_with_watermark(spark, tmp_path):
    """Streaming dedup: dropDuplicates over (event_id) with a watermark -
    exactly-once event delivery across micro-batches with bounded state."""
    import uuid as _uuid

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = tmp_path / "ev"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("sec", T.LongType())]
    )
    spark.createDataFrame([(1, 100), (2, 200), (1, 100)], schema).write.mode(
        "append"
    ).parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .select("event_id", F.timestamp_seconds("sec").alias("ts"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["event_id"])
    )
    name = f"sdd_{_uuid.uuid4().hex[:8]}"
    q = stream.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r.event_id for r in spark.table(name).collect()) == [1, 2]


def test_stateful_totals_with_string_key(spark):
    """The stateful operator's output schema follows the actual key column
    name and type — a string key (event_type) used to crash Arrow
    conversion against the hardcoded user_id:Long schema."""
    import datetime as dt
    import tempfile

    from pyspark.sql import types as T

    from nursing_home_data_etl_pipeline_spark.plans.queries_streaming import (
        _drain_to_parquet,
    )
    from nursing_home_data_etl_pipeline_spark.streaming.aggregations import (
        running_totals_stateful,
    )

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows = [
        (["click", "view"][i % 2], dt.datetime(2024, 1, 1, 0, i), float(i))
        for i in range(20)
    ]
    src = spark.createDataFrame(rows, schema)
    with tempfile.TemporaryDirectory() as d:
        src.write.mode("overwrite").parquet(d)
        out = _drain_to_parquet(
            running_totals_stateful(
                spark.readStream.schema(schema).parquet(d), key_col="event_type"
            ),
            "update",
        )
        got = {(r.event_type, r.n_events, r.total_value) for r in out.collect()}
    assert got == {("click", 10, 90.0), ("view", 10, 100.0)}


def test_accumulate_sql_sum_semantics_on_dirty_values():
    """_accumulate implements SQL SUM exactly at the pandas boundary:
    NULLs ignored (via the _vnull flag — in-worker they're NaN-conflated),
    genuine NaN poisons the total but EMITS as NULL (the Arrow boundary
    uses NaN as its null sentinel, so a Python stateful op cannot emit
    NaN), Infinity round-trips, and an all-NULL key totals NULL. The
    total rides EXACT integer micro-units (round-14 #2): the sum of
    grid values is order-independent and immune to double drift."""
    import math

    import pandas as pd

    from nursing_home_data_etl_pipeline_spark.streaming.aggregations import (
        _accumulate,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def batch(vals):
        return pd.DataFrame(
            {
                "value": pd.Series(vals, dtype="float64"),
                "_vnull": [v is None for v in vals],
            }
        )

    # all-NULL key -> NULL total (emitted as the NaN sentinel the Arrow
    # boundary converts to SQL NULL), n counts all rows
    st = FakeState()
    out = _accumulate((7,), [batch([None, None])], st, "user_id", "value")
    assert out["n_events"].iloc[0] == 2 and pd.isna(out["total_value"].iloc[0])

    # NULL ignored, real values summed
    st2 = FakeState()
    out = _accumulate((7,), [batch([None, 2.0, 3.0])], st2, "user_id", "value")
    assert out["total_value"].iloc[0] == 5.0

    # NaN poisons (pandas default skipna would emit 2.0) but emits NULL;
    # the state's has_nan flag keeps later batches poisoned
    st3 = FakeState()
    out = _accumulate((7,), [batch([2.0, float("nan")])], st3, "user_id", "value")
    assert pd.isna(out["total_value"].iloc[0])
    assert st3.get[3] is True  # has_nan
    out = _accumulate((7,), [batch([1.0])], st3, "user_id", "value")
    assert pd.isna(out["total_value"].iloc[0])  # still poisoned

    # Infinity survives; +Inf meeting -Inf is NaN -> NULL
    st4 = FakeState()
    out = _accumulate((7,), [batch([1.0, float("inf")])], st4, "user_id", "value")
    assert out["total_value"].iloc[0] == float("inf")
    out = _accumulate((7,), [batch([float("-inf")])], st4, "user_id", "value")
    assert pd.isna(out["total_value"].iloc[0])

    # exact micro-unit arithmetic: 0.1+0.1+0.1 is 0.3 exactly (a double
    # accumulator would carry 0.30000000000000004), and values an 8.6e9
    # magnitude would swallow entirely in double survive exactly
    st5 = FakeState()
    out = _accumulate((7,), [batch([0.1, 0.1, 0.1])], st5, "user_id", "value")
    assert out["total_value"].iloc[0] == 0.3 and st5.get[1] == 3000
    st6 = FakeState()
    big = 8589934592.0  # 2^33: ulp 1.9e-6, so double adds of 1e-4 vanish
    out = _accumulate(
        (7,), [batch([big, 0.0001, 0.0001, 0.0001, -big])], st6, "user_id", "value")
    assert out["total_value"].iloc[0] == 0.0003
    assert math.isfinite(out["total_value"].iloc[0])

    # loud preconditions (ADVICE r14): an off-grid midpoint (0.03125 is
    # exactly representable, so *1e4 lands on 312.5 — where rint's
    # half-even and the batch cast's HALF_UP would silently diverge)
    # raises instead of corrupting; so does an int64 micro overflow
    import pytest

    with pytest.raises(ValueError, match="off the 1e-4 grid"):
        _accumulate((7,), [batch([0.03125])], FakeState(), "user_id", "value")
    st7 = FakeState()
    st7._v = (1, 2**62, True, False, False, False)
    st7.exists = True
    with pytest.raises(OverflowError, match="micro-units"):
        _accumulate((7,), [batch([1.0])], st7, "user_id", "value")




def _multifile_events(spark, tmp_path, n_files=4):
    """The sf0.001 events table re-written as an n-file directory, so a
    maxFilesPerTrigger=1 stream delivers it across n microbatches."""
    from conftest import SF_SMOKE

    sfm = tmp_path / "sfm"
    sfm.mkdir()
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").repartition(
        n_files
    ).write.parquet(str(sfm / "events.parquet"))
    return str(sfm)


def test_multibatch_complete_drains_equal_single_batch(spark, tmp_path):
    """Round-10 directive #2: real streams are never single-batch. The
    complete-mode drains must converge to the same final table under
    incremental (maxFilesPerTrigger=1) delivery — complete mode retains all
    aggregate state, so the final emission is the full aggregate no matter
    how the bounded input was sliced into microbatches. The same oracles
    that gate the single-batch catalog entries therefore hold exactly."""
    from nursing_home_data_etl_pipeline_spark.plans.queries_streaming import (
        _drain_to_parquet,
        stream_events,
    )
    from nursing_home_data_etl_pipeline_spark.streaming.aggregations import (
        session_counts,
        windowed_counts,
    )

    sfm = _multifile_events(spark, tmp_path)
    # Plain aggregation never filters late input in complete mode, so the
    # windowed drain keeps its watermark; the session operator filters
    # late input in EVERY mode (see session_counts docstring), so its
    # multi-batch leg must run watermark-free.
    for op, multi_kwargs in ((windowed_counts, {}), (session_counts, {"watermark": None})):
        single = _drain_to_parquet(
            op(stream_events(spark, sfm)), "complete", require_single_batch=True
        )
        multi = _drain_to_parquet(
            op(stream_events(spark, sfm, max_files_per_trigger=1), **multi_kwargs),
            "complete",
            require_multi_batch=True,
        )
        assert sorted(map(tuple, single.collect())) == sorted(
            map(tuple, multi.collect())
        ), op.__name__

    # Pin the divergence that forced the watermark-free leg: a WATERMARKED
    # session drain under incremental delivery is lossy even in complete
    # mode — if Spark ever changes this, the special-casing above should go.
    lossy = _drain_to_parquet(
        session_counts(stream_events(spark, sfm, max_files_per_trigger=1)),
        "complete",
        require_multi_batch=True,
    )
    from pyspark.sql import functions as F

    total = spark.read.parquet(f"{sfm}/events.parquet").where("ts IS NOT NULL").count()
    assert lossy.agg(F.sum("n_events")).first()[0] < total


def test_update_mode_multibatch_contract(spark, tmp_path):
    """Why the update-mode entry ASSERTS single-batch delivery and cannot
    join the multi-batch contract: update mode emits one row per key per
    trigger, so a key spanning batches emits multiple rows — and the
    append-mode watermark drains (interval join, dedup) drop rows the
    advancing watermark passed between batches, a delivery-order-dependent
    outcome no batching-independent SQL oracle can express. Pinned two ways:
    the guard trips, and the duplication it guards against is real."""
    import pytest as _pytest

    from nursing_home_data_etl_pipeline_spark.plans.queries_streaming import (
        _drain_to_parquet,
        stream_events,
    )
    from nursing_home_data_etl_pipeline_spark.streaming.aggregations import (
        running_totals_stateful,
    )

    sfm = _multifile_events(spark, tmp_path)
    with _pytest.raises(AssertionError, match="microbatches"):
        _drain_to_parquet(
            running_totals_stateful(stream_events(spark, sfm, 1)),
            "update",
            require_single_batch=True,
        )
    out = _drain_to_parquet(
        running_totals_stateful(stream_events(spark, sfm, 1)), "update"
    )
    keys = [r.user_id for r in out.collect()]
    assert len(keys) > len(set(keys))  # per-trigger emission duplicates keys


def test_append_mode_multibatch_windowed_counts(spark, tmp_path):
    """Round-11 #5: append-mode drain over a maxFilesPerTrigger file source
    has an EXACT oracle once delivery order is pinned (file mtime order).
    Probed semantics this test replays: Spark's LATE-EVENTS filter runs one
    batch BEHIND its eviction watermark — a row in batch k is dropped iff
    its window end <= the watermark at the start of batch k-1, while
    eviction/emission during batch k uses the batch-k start watermark — so
    a row at-or-below the current watermark still MERGES while its window
    state is live (execution-probed: such a row landed in the emitted
    aggregate), and a window EMITS exactly when the eviction watermark
    REACHES its end (inclusive, probed), including via the final no-data
    microbatch. Completes the three-mode delivery matrix (complete-mode
    multi-batch r10; update-mode impossibility pinned r10)."""
    import datetime as dt
    import os
    import shutil

    from pyspark.sql import types as T

    from nursing_home_data_etl_pipeline_spark.streaming.aggregations import (
        windowed_counts,
    )

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # One file per microbatch. Watermark history (delay 10 min):
    # w0=10:20, w1=11:50, w2=13:00, w3=13:10.
    files = [
        [(1, t(10, 0), 1, "a", 1.0), (2, t(10, 30), 1, "a", 2.0),
         (3, None, 1, "a", 9.9)],                      # NULL ts: no window
        # b1: 10:05 merges (late wm = 0); 12:00 advances wm to 11:50
        [(4, t(10, 5), 1, "a", 4.0), (5, t(12, 0), 1, "b", 8.0)],
        # b2: late wm = w0 = 10:20 < 11:00, so 10:45 still MERGES even
        # though the eviction wm (11:50) passed its window; [10,11) emits
        # at the end of this batch INCLUDING it. 13:10 -> w2 = 13:00 ==
        # end of [12,13): boundary emission next batch.
        [(6, t(10, 45), 1, "a", 64.0), (7, t(13, 10), 1, "c", 16.0)],
        # b3: late wm = w1 = 11:50 >= 11:00 -> 10:50 DROPPED (its window
        # already emitted; no duplicate row). [13,14) stays open forever
        # (final wm 13:10 < 14:00) -> never emits.
        [(8, t(13, 20), 1, "c", 32.0), (9, t(10, 50), 1, "a", 100.0)],
    ]

    src = str(tmp_path / "ev")
    os.makedirs(src)
    for i, rows in enumerate(files):
        one = str(tmp_path / f"one{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(one)
        part = next(f for f in os.listdir(one) if f.endswith(".parquet"))
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.copy(os.path.join(one, part), dst)
        os.utime(dst, (1_000_000 * (i + 1),) * 2)

    # --- oracle replay of the probed two-lagged watermark rule ----------
    H, D = 3_600_000_000, 600_000_000  # window, delay (us)

    def us(x):
        return int(x.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)

    wm_start = [0]  # wm_start[k] = watermark at the start of batch k
    for rows in files:
        top = max((us(r[1]) for r in rows if r[1] is not None), default=None)
        wm_start.append(wm_start[-1] if top is None
                        else max(wm_start[-1], top - D))
    agg = {}
    for k, rows in enumerate(files):
        late_wm = wm_start[k - 1] if k else 0
        for _eid, ts, _u, et, v in rows:
            if ts is None:
                continue
            w0 = (us(ts) // H) * H
            if w0 + H <= late_wm:
                continue
            n, s = agg.get((w0, et), (0, 0.0))
            agg[(w0, et)] = (n + 1, s + v)
    final_wm = wm_start[-1]
    want = {
        (dt.datetime.utcfromtimestamp(w0 / 1e6), et, n, round(s, 4))
        for (w0, et), (n, s) in agg.items()
        if w0 + H <= final_wm
    }

    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src))
    out = windowed_counts(ev, window="1 hour", watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("append_mb")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        fed = [p for p in q.recentProgress if p.numInputRows > 0]
        assert len(fed) >= 2, "multi-batch contract needs >1 fed batches"
    finally:
        q.stop()
    got = {
        (r.window_start, r.event_type, r.n_events, r.sum_value)
        for r in spark.table("append_mb").collect()
    }
    assert got == want
    # the fixture must itself exercise every probed branch
    assert (t(10), "a", 4, 71.0) in want      # late row 6 merged pre-emit
    assert (t(12), "b", 1, 8.0) in want       # emitted at wm == window end
    assert all(ws.hour != 13 for ws, *_ in want)  # open window never emits
    # row 9 fully dropped: no duplicate [10,11) row, value 100 nowhere
    assert len([x for x in got if x[0] == t(10)]) == 1


def test_state_parts_compact_below_64mb(tmp_path):
    """Size-aware state-partition default (round-14 #1 pin): a ≤64 MB
    events table keeps the compact 8-way state (fixed per-partition store
    setup dominated tiny inputs — the r13 warm-band breach); larger or
    unstat-able inputs defer to the session parallelism (None)."""
    from nursing_home_data_etl_pipeline_spark.plans.queries_streaming import (
        _state_parts,
    )
    from conftest import SF_SMOKE

    assert _state_parts(SF_SMOKE) == 8
    big = tmp_path / "big" / "events.parquet"
    big.mkdir(parents=True)
    with open(big / "part-0.parquet", "wb") as fh:
        fh.truncate(65 * 1024 * 1024)  # sparse: _state_parts only stats
    assert _state_parts(str(tmp_path / "big")) is None
    assert _state_parts(str(tmp_path / "missing")) is None


def test_stream_join_salting_no_double_emit(spark, monkeypatch):
    """SPARK_GRAFT_STREAM_SALT=4 must emit exactly the salt=1 multiset:
    each click holds ONE salt and the exploded purchase side meets it in
    exactly one bucket, so salting can never double-emit (round-14 #4)."""
    from collections import Counter

    from conftest import SF_SMOKE

    from nursing_home_data_etl_pipeline_spark.plans.queries_streaming import (
        streaming_join_dedup,
    )

    def rows():
        return Counter(map(tuple, streaming_join_dedup(spark, SF_SMOKE).collect()))

    base = rows()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SALT", "4")
    assert rows() == base and sum(base.values()) > 0
