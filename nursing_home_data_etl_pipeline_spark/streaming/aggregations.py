"""Streaming event-time aggregation: watermarked tumbling windows,
session windows, a custom stateful op via applyInPandasWithState. Late
data (SURVEY.md §2.7): the watermark bounds lateness; older windows
finalize and their state drops — bounded state at unbounded input, the
streaming analog of "design for 100 TB"."""

from __future__ import annotations

import math
from collections.abc import Iterable
from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..functions.vectors import val_sum_col


def windowed_counts(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str | None = "1 hour",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window count+sum with a watermark: append emits only
    finalized windows; complete maintains all (the batch-equivalence
    check). ``watermark=None`` (complete-only) = no late cutoff — exists
    for symmetry with ``session_counts`` where it is load-bearing.
    APPEND multi-batch contract (round-11 #5, execution-probed): the
    late filter runs one batch BEHIND the eviction watermark, a window
    emits when the eviction watermark reaches its end (inclusive), the
    final no-data microbatch flushes the last advance — replayed exactly
    in tests/test_streaming.py::test_append_mode_multibatch_windowed_counts."""
    return (
        (events.withWatermark(ts_col, watermark)
         if watermark is not None else events)
        .groupBy(F.window(ts_col, window).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact decimal sum with IEEE poison semantics (round-14 #2)
            val_sum_col(value_col).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key_col),
            "n_events",
            "sum_value",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "1 hour",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session-window aggregation: sessions close after ``gap`` inactivity.
    Session identity is carried by the window start.
    Design notes: docs/DESIGN.md#aggregations-session-counts"""
    return (
        (events.withWatermark(ts_col, watermark)
         if watermark is not None else events)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        # finite total in EXACT integer micro-units (value x 10^4; a double
        # accumulator's last decimal was arrival-order-dependent, r14 #2);
        # exact while |total| < 2^63 micro-units.
        T.StructField("micro", T.LongType()),
        # any NON-NULL value seen: SUM of all-NULL is NULL, and in Arrow a
        # SQL NULL and a real NaN both arrive as NaN — only _vnull tells.
        T.StructField("has_val", T.BooleanType()),
        # IEEE non-finite poison flags, kept OUT of the integer total:
        # NaN (or +Inf meeting -Inf) emits NULL, a lone infinity wins.
        T.StructField("has_nan", T.BooleanType()),
        T.StructField("has_pinf", T.BooleanType()),
        T.StructField("has_ninf", T.BooleanType()),
    ]
)


def _running_totals_schema(events: DataFrame, key_col: str) -> T.StructType:
    """Output schema follows the actual key column's name AND type (a
    hardcoded user_id:Long crashed Arrow conversion for string keys and
    mislabeled any non-default key)."""
    key_field = events.schema[key_col]
    return T.StructType(
        [
            T.StructField(key_col, key_field.dataType),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )


def _accumulate(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    key_col: str,
    value_col: str,
) -> pd.DataFrame:
    """Accumulation body of :func:`running_totals_stateful`: the
    count/total/rounding logic for one key's micro-batch. Design notes:
    docs/DESIGN.md#aggregations--accumulate"""
    if state.exists:
        n, micro, has_val, has_nan, has_pinf, has_ninf = state.get
    else:
        n, micro, has_val, has_nan, has_pinf, has_ninf = (
            0, 0, False, False, False, False)
    for pdf in pdfs:
        n += len(pdf)
        genuine = pdf.loc[~pdf["_vnull"].astype(bool), value_col]
        if len(genuine):
            has_val = True
            v = genuine.to_numpy()
            fin = np.isfinite(v)
            has_nan = has_nan or bool(np.isnan(v).any())
            has_pinf = has_pinf or bool((v == np.inf).any())
            has_ninf = has_ninf or bool((v == -np.inf).any())
            # v*1e4 is within half an ulp of its integer (grid values,
            # |v| <= 1e9 < 2^53/1e4): rint recovers it exactly. Loud
            # preconditions (ADVICE r14): off-grid midpoints (half-even
            # vs HALF_UP) and int64 wrap raise instead of corrupting.
            scaled = v[fin] * 1e4
            r = np.rint(scaled)
            if len(r) and np.abs(r - scaled).max() > 0.01:
                raise ValueError(
                    "stateful total: value off the 1e-4 grid — half-even "
                    "vs HALF_UP rounding would silently diverge")
            micro += int(r.astype(np.int64).sum(dtype=object))
    if abs(micro) > 2**62:
        raise OverflowError("stateful total exceeds int64 micro-units")
    state.update((n, micro, has_val, has_nan, has_pinf, has_ninf))
    # All-NULL and NaN-poisoned keys emit NULL (Arrow's null sentinel IS
    # NaN); Inf round-trips. float(Decimal(micro).scaleb(-4)) is the
    # correctly-rounded double, matching the oracle's string-routed render
    # (docs/DESIGN.md#aggregations--accumulate).
    if not has_val or has_nan or (has_pinf and has_ninf):
        out_total = None
    elif has_pinf:
        out_total = math.inf
    elif has_ninf:
        out_total = -math.inf
    else:
        out_total = float(Decimal(micro).scaleb(-4))
    return pd.DataFrame(
        {
            key_col: [key[0]],
            "n_events": [n],
            # float64 throughout: None becomes NaN here, and NaN IS the
            # boundary's null sentinel, so NULL emission is identical
            "total_value": pd.Series([out_total], dtype="float64"),
        }
    )


def running_totals_stateful(
    events: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-key running
    event count + value total, emitted each trigger. The canonical shape
    for operators Spark's windowing can't express (per-key accumulators,
    custom eviction): Arrow-batched state updates, bounded per-key state.

    The _vnull column is the NULL-vs-NaN flag for SQL SUM semantics (see
    _accumulate), and the frame is pruned to exactly the columns the
    accumulator reads BEFORE it crosses the Arrow boundary: pandas
    timestamps are int64 NANOSECONDS, so an unused ts column with a year
    outside 1677-2262 would abort the worker (pyarrow out-of-bounds cast)
    even though the operator never touches it — and less Arrow transfer is
    free speed."""

    def update(key, pdfs, state):
        yield _accumulate(key, pdfs, state, key_col, value_col)

    events = events.withColumn("_vnull", F.col(value_col).isNull()).select(
        key_col, value_col, "_vnull"
    )
    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=_running_totals_schema(events, key_col),
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
