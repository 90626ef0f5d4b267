"""Streaming catalog entries: the four Structured-Streaming drains
(windowed / session / stateful / join+dedup) plus the shared bounded
stream source and parquet-sink drain; registered after queries_tail.

THE EVENT-TIME CONTRACT (canonical statement; every watermark-bearing
oracle in this file points here): (1) a NULL event time belongs to no
window/session and never enters a stateful op; (2) Spark initializes the
watermark to 0 and its late filter drops rows at-or-before it even in the
first microbatch — for plain watermark ops that is epoch_us(ts) > 0, for
session windows the event's own window END tests the watermark, so the
filter is ts + gap > 0 (both probed empirically, round 7); (3) identity-
keyed stateful ops (dedup) also exclude NULL-id rows — the state store
would fold every NULL key into one group and keep an arbitrary first
arrival (round-8 fuzz; same contract as minhash/exact dedup)."""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..streaming.aggregations import (
    running_totals_stateful,
    session_counts,
    windowed_counts,
)
from ..functions.vectors import val_sum_sql
from .catalog import register

# ts nanos-as-long here; stream_events substitutes the probed ts type.
_EVENTS_RAW_SCHEMA = T.StructType([
    T.StructField(n, t()) for n, t in (
        ("event_id", T.LongType), ("ts", T.LongType), ("user_id", T.LongType),
        ("event_type", T.StringType), ("value", T.DoubleType),
        ("props", T.StringType),
    )
])


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Bounded file stream over events, ``ts`` normalized to TimestampType
    — the streaming twin of readers.read_table. On-disk ts encodings vary
    by generation, so probe the batch-inferred type once (footer-only) and
    build the matching streaming schema.
    Design notes: docs/DESIGN.md#queries-streaming-stream-events"""
    from ..sources.readers import (
        normalize_events_ts,
        path_is_dir,
        pin_events_time_confs,
        table_schema,
    )

    pin_events_time_confs(spark)  # shared encoding contract (readers.py)
    events_path = f"{sf_dir}/events.parquet"
    # memoized footer probe (readers.table_schema) — the bare read.parquet
    # re-ran footer inference on every streaming entry (round 15)
    ts_field = {f.name: f for f in table_schema(spark, sf_dir, "events")}.get("ts")
    ts_type = ts_field.dataType.simpleString() if ts_field else None
    # Directory-shaped tables stream directly; a single file needs the glob
    # filter — but pathGlobFilter matches LEAF names, so applying it to a
    # directory table would silently drain an empty stream.
    if path_is_dir(spark, events_path):
        reader, stream_path = spark.readStream, events_path
    else:
        reader = spark.readStream.option("pathGlobFilter", "events.parquet")
        stream_path = sf_dir
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # readStream needs an EXPLICIT schema: substitute the probed ts type,
    # then normalize through the same shared helper the batch reader uses.
    if ts_type == "bigint":  # nanos-as-long generation
        raw = reader.schema(_EVENTS_RAW_SCHEMA).parquet(stream_path)
    else:
        fields = [
            f if f.name != "ts" else T.StructField(
                "ts",
                T.TimestampNTZType()
                if ts_type == "timestamp_ntz"
                else T.TimestampType(),
            )
            for f in _EVENTS_RAW_SCHEMA.fields
        ]
        raw = reader.schema(T.StructType(fields)).parquet(stream_path)
    return normalize_events_ts(raw, ts_type)


#: drain roots created by this process, removed at interpreter exit — the
#: returned DataFrames lazily read these files, so they must outlive the
#: drain call itself.
_DRAIN_DIRS: list[str] = []


@atexit.register
def cleanup_drains() -> None:
    """Free drain parquet EARLY: gates/bench call this once a streaming
    query's result is fully consumed (ADVICE r12 — a long session would
    otherwise hold every drain's multi-million-row parquet at once); the
    atexit registration is the backstop for whatever is left at
    interpreter exit. Invalidates prior drain frames."""
    while _DRAIN_DIRS:
        shutil.rmtree(_DRAIN_DIRS.pop(), ignore_errors=True)


def _state_parts(sf_dir: str) -> int | None:
    """Size-aware state-partition default (round-13 #2 follow-up): tiny
    inputs keep the compact 8-way state (fixed per-partition store setup
    dominates them — uncapping alone cost the sf0.1 streaming family
    1.3-2.5x warm); larger inputs inherit the session parallelism."""
    p = f"{sf_dir}/events.parquet"
    try:
        size = (sum(e.stat().st_size for e in os.scandir(p))
                if os.path.isdir(p) else os.path.getsize(p))
    except OSError:  # non-local zone: let the session setting rule
        return None
    return 8 if size <= 64 * 1024 * 1024 else None


def _start_drain(
    df: DataFrame, output_mode: str, state_partitions: int | None = None
):
    """Start a foreachBatch parquet drain WITHOUT waiting — the start half
    of :func:`_drain_to_parquet`, exposed so independent bounded drains
    can run CONCURRENTLY (guide §2.6: actions are only sequential because
    the driver calls them sequentially; a second drain's tasks back-fill
    executors the first leaves idle). Returns (query, data, ckpt)."""
    spark = df.sparkSession
    root = tempfile.mkdtemp(prefix="stream_drain_")
    _DRAIN_DIRS.append(root)
    data, ckpt = os.path.join(root, "data"), os.path.join(root, "ckpt")

    if output_mode == "complete":
        # every trigger emits the FULL aggregate — last overwrite wins,
        # identical to the memory sink's replaced table
        def sink(batch: DataFrame, batch_id: int) -> None:
            batch.write.mode("overwrite").parquet(data)
    else:
        # append/update emit per-trigger deltas; one subdir per batch_id so
        # a RETRIED batch overwrites its own output instead of
        # double-appending (idempotent sink)
        def sink(batch: DataFrame, batch_id: int) -> None:
            batch.write.mode("overwrite").parquet(
                os.path.join(data, f"b{batch_id:05d}"))

    # State partitioning scales with the session's shuffle-partition count
    # by default (a fixed 8 capped every streaming stage to 8 of 32 cores,
    # VERDICT r12 #2); the knob remains for state-store-heavy callers.
    # The conf is captured at start(), so restoring right after is safe.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(state_partitions) if state_partitions else prev)
    try:
        q = (
            df.writeStream.foreachBatch(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q, data, ckpt


def _finish_drain(
    df: DataFrame,
    q,
    data: str,
    ckpt: str,
    output_mode: str,
    require_single_batch: bool = False,
    require_multi_batch: bool = False,
) -> DataFrame:
    """Wait for a started drain, stop it, and return a batch read over the
    files — the wait half of :func:`_drain_to_parquet`."""
    spark = df.sparkSession
    try:
        q.processAllAvailable()
        if require_single_batch or require_multi_batch:
            prog = q.recentProgress
            # recentProgress is a RING BUFFER (cap 100): refuse to
            # trust a possibly-saturated buffer (ADVICE r10).
            cap = int(spark.conf.get(
                "spark.sql.streaming.numRecentProgressUpdates", "100"))
            if len(prog) >= cap:
                raise AssertionError(
                    f"recentProgress holds {len(prog)} >= cap {cap} "
                    "entries; batch-count guards would undercount"
                )
            fed = [p for p in prog if p.numInputRows > 0]
            if require_single_batch and len(fed) > 1:
                raise AssertionError(
                    f"bounded drain spanned {len(fed)} microbatches; "
                    "the exact-oracle watermark contract assumes one"
                )
            if require_multi_batch and len(fed) < 2:
                raise AssertionError(
                    f"drain fed {len(fed)} microbatch(es); the "
                    "incremental-delivery contract needs >1"
                )
    finally:
        q.stop()
        # data files must outlive this call (lazy read); the checkpoint
        # ledger need not
        shutil.rmtree(ckpt, ignore_errors=True)
    if not os.path.isdir(data):
        # zero triggers fired (empty bounded source): materialize an empty
        # schema-bearing result instead of failing the read
        spark.createDataFrame([], df.schema).write.parquet(data)
    reader = spark.read
    if output_mode != "complete":
        # per-batch subdirs are plain nesting, not key=value partitions
        reader = reader.option("recursiveFileLookup", "true")
    return reader.parquet(data)


def _drain_to_parquet(
    df: DataFrame,
    output_mode: str,
    state_partitions: int | None = None,
    require_single_batch: bool = False,
    require_multi_batch: bool = False,
) -> DataFrame:
    """Run the streaming plan to completion through a foreachBatch parquet
    sink; return a batch read over the files. Bounded input +
    processAllAvailable => deterministic; results land on DISK (round-12
    #3 — the memory sink retained every table in the one driver JVM).
    Design notes: docs/DESIGN.md#queries-streaming--drain-to-parquet"""
    q, data, ckpt = _start_drain(df, output_mode, state_partitions)
    return _finish_drain(df, q, data, ckpt, output_mode,
                         require_single_batch, require_multi_batch)


@register(
    "streaming_windowed_agg",
    oracle=f"""
    -- FLOORED division to the window start: DuckDB's // truncates toward
    -- zero, which would snap a pre-epoch (negative-us) event to window 0
    -- instead of its true 1969 window; Spark's window() floors.
    SELECT make_timestamp(
             epoch_us(ts)
               - (((epoch_us(ts) % 21600000000) + 21600000000) % 21600000000)
           ) AS window_start,
           event_type,
           COUNT(*)                 AS n_events,
           {val_sum_sql("value")}   AS sum_value
    FROM events
    -- event-time contract (1), module docstring
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Streaming tumbling-window aggregation (watermark + complete mode, drained "
    "over the bounded events table) — must equal. Full contract: "
    "docs/CONTRACTS.md#streaming_windowed_agg",
)
def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    return _drain_to_parquet(windowed_counts(ev), "complete",
                             state_partitions=_state_parts(sf_dir))


@register(
    "streaming_session_counts",
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             ts,
             event_id,
             epoch_us(ts) AS us,
             -- STRICTLY greater: session_window MERGES an event at
             -- exactly last+gap (probed on a 12:00/12:30 pair, round-8
             -- hunt — the inclusive-boundary contract in BASELINE.md)
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                        > 1800 * 1000000
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      -- event-time contract (1)+(2), module docstring: session windows
      -- test the event's own window END, so ts + gap > 0, NOT ts >= 0
      WHERE ts IS NOT NULL AND epoch_us(ts) + 1800000000::BIGINT > 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST)
    ), sessions AS (
      SELECT user_id, us,
             -- same (ts, event_id) tiebreak as the flagged window: with a
             -- bare ORDER BY ts, equal-ts rows could order differently in
             -- the two windows and a session-start flag could land inside
             -- the PREVIOUS session's cumulative range
             SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(us)  AS session_start_us,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Streaming session windows (30-min gap): the stream twin of batch "
    "sessionization. Full contract: docs/CONTRACTS.md#streaming_session_counts",
)
def streaming_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    return _drain_to_parquet(session_counts(ev), "complete",
                             state_partitions=_state_parts(sf_dir))


@register(
    "streaming_stateful_totals",
    oracle=f"""
    SELECT user_id,
           COUNT(*)             AS n_events,
           -- NaN totals emit as NULL: the Arrow pandas-worker boundary
           -- uses NaN as its null sentinel, so the Python-side stateful
           -- operator cannot represent a NaN result (documented in
           -- streaming/aggregations._accumulate); Inf round-trips fine
           CASE WHEN isnan({val_sum_sql("value")}) THEN NULL
                ELSE {val_sum_sql("value")} END AS total_value
    FROM events
    GROUP BY user_id
    """,
    doc="Custom stateful operator (applyInPandasWithState): per-user running "
    "totals. Full contract: docs/CONTRACTS.md#streaming_stateful_totals",
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    return _drain_to_parquet(
        running_totals_stateful(ev), "update", require_single_batch=True,
        state_partitions=_state_parts(sf_dir),
    )


def _stream_salt() -> int:
    """Salt-N knob for the stream-stream interval join (round-14 #4): a
    deterministic click-side salt + exploded purchase side splits a hot
    user's join state N ways; each pair still matches exactly once (no
    double-emit, test-pinned). Default 1 — xN purchase state is a bad
    trade on uniform data. docs/CONTRACTS.md#streaming_join_dedup."""
    return max(1, int(os.environ.get("SPARK_GRAFT_STREAM_SALT", "1")))


#: Unsalted stream-join state with one key above this row share warns
#: (round-15 #3). docs/CONTRACTS.md#streaming_join_dedup.
STATE_SKEW_WARN_SHARE = 0.2


#: Below this input size the skew probe is skipped: even 100% key
#: concentration keeps the whole join state inside one comfortable task
#: (share x size <= threshold — the plan_segments gating rule), so the
#: probe's extra full-scan aggregate would be pure cost (guide §2.4:
#: remove jobs the answer cannot need).
_SKEW_PROBE_MIN_BYTES = 64 * 1024 * 1024


def _warn_if_state_skewed(
    spark: SparkSession, sf_dir: str, n_salt: int,
    min_bytes: int = _SKEW_PROBE_MIN_BYTES,
) -> None:
    """Exact purchase-side top-key share (one column-pruned aggregate);
    warning, not auto-salt — salt multiplies purchase state xN. Probed
    only above ``min_bytes`` (skew below it cannot exceed one task).
    docs/CONTRACTS.md#streaming_join_dedup"""
    if n_salt > 1:
        return
    p = f"{sf_dir}/events.parquet"
    try:
        size = (sum(e.stat().st_size for e in os.scandir(p))
                if os.path.isdir(p) else os.path.getsize(p))
    except OSError:
        size = min_bytes + 1  # unknown (non-local zone): keep the probe
    if size <= min_bytes:
        return
    from ..sources.readers import read_table

    row = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.max("_c").alias("m"), F.sum("_c").alias("t")).first()
    )
    share = row["m"] / row["t"] if row and row["t"] else 0.0
    if share > STATE_SKEW_WARN_SHARE:
        logging.getLogger(__name__).warning(
            "streaming_join_dedup: one join key holds %.0f%% of the "
            "purchase-side stream state (warn threshold %.0f%%) — set "
            "SPARK_GRAFT_STREAM_SALT=4 to split it (r14 skew2 warm "
            "1.93x -> 1.15x; purchase state grows xN).",
            share * 100, STATE_SKEW_WARN_SHARE * 100)


_WINDOW = "INTERVAL 1 HOUR"


@register(
    "streaming_join_dedup",
    oracle=f"""
    SELECT 'interval_join' AS variant,
           c.event_id,
           c.user_id,
           p.value AS num,
           CAST(epoch_us(p.ts) AS VARCHAR) AS tag
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts < c.ts + {_WINDOW}
    -- event-time contract (2) on BOTH join inputs, module docstring
    WHERE epoch_us(c.ts) > 0 AND epoch_us(p.ts) > 0
    UNION ALL
    -- DISTINCT mirrors dedup-by-event_id for VERBATIM duplicate source
    -- rows (a re-delivered event collapses on both sides — round-8 fuzz).
    -- Duplicate ids with DIFFERING payloads are excluded by fixture
    -- policy: the engine keeps whichever copy arrives first, an
    -- order-dependent pick no SQL oracle can reproduce (same class as
    -- DuckDB's native ASOF under ties).
    SELECT DISTINCT 'dedup', event_id, user_id, CAST(NULL AS DOUBLE), event_type
    FROM events
    -- event-time contract (1)+(2)+(3), module docstring
    WHERE epoch_us(ts) > 0 AND event_id IS NOT NULL
    """,
    doc="Watermark-bearing streaming operators, one tagged row set per drain. Full "
    "contract: docs/CONTRACTS.md#streaming_join_dedup",
)
def streaming_join_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_cols = ["variant", "event_id", "user_id", "num", "tag"]

    ev = stream_events(spark, sf_dir)
    n_salt = _stream_salt()
    _warn_if_state_skewed(spark, sf_dir, n_salt)
    # xxhash64 never returns NULL, so a salted row can't silently drop;
    # salt off (1) keeps literal-zero keys — no hash, no Generate node
    c_salt = (F.pmod(F.xxhash64("event_id"), F.lit(n_salt))
              if n_salt > 1 else F.lit(0))
    p_salt = (F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
              if n_salt > 1 else F.lit(0))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"), c_salt.alias("c_salt"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                "value", p_salt.alias("p_salt"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(f"c_user = p_user AND c_salt = p_salt"
               f" AND p_ts >= c_ts AND p_ts < c_ts + {_WINDOW}"),
    ).select(
        F.lit("interval_join").alias("variant"),
        "event_id",
        F.col("c_user").alias("user_id"),
        F.col("value").alias("num"),
        F.unix_micros(F.col("p_ts")).cast("string").alias("tag"),
    )
    sp = _state_parts(sf_dir)
    cols = ["event_id", "user_id", "event_type", "ts"]
    # SELF-union: each union leg re-reads the file source, so every event
    # arrives twice — identical to two separately built streams; reusing
    # `ev` (a plan, not a running query) skips a second footer probe.
    a = ev.select(cols)
    deduped = (
        # event-time contract (1)+(3), module docstring — explicit filter
        # because dropDuplicatesWithinWatermark would otherwise pass
        # NULL-ts rows (NULL < watermark is NULL, not true)
        a.unionByName(a)
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            F.lit("dedup").alias("variant"),
            "event_id",
            "user_id",
            F.lit(None).cast("double").alias("num"),
            F.col("event_type").alias("tag"),
        )
    )
    # The two drains are INDEPENDENT bounded streaming jobs over the same
    # source: start both, then wait on both (guide §2.6) — the dedup
    # drain's tasks back-fill executors the interval join leaves idle
    # (warm A/B: 6.8 s sequential -> 3.8 s overlapped at sf0.1). Each
    # drain's own result is untouched by the overlap.
    h_join = _start_drain(joined, "append", state_partitions=sp)
    try:
        h_dedup = _start_drain(deduped, "append", state_partitions=sp)
    except BaseException:
        h_join[0].stop()
        raise
    try:
        interval = _finish_drain(joined, *h_join, "append",
                                 require_single_batch=True)
    except BaseException:
        h_dedup[0].stop()
        raise
    dedup = _finish_drain(deduped, *h_dedup, "append",
                          require_single_batch=True)

    return interval.select(*out_cols).unionByName(dedup.select(*out_cols))
