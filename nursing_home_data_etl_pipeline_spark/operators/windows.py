"""Window operators (SURVEY.md §2.5 / §2.8 — absent from the reference).
Every helper takes an explicit deterministic ordering (callers include a
unique tiebreaker — the bug-B5 lesson). All windows are PARTITIONED; the
only global one hides inside :func:`top_k_global` as TakeOrdered. The
*_scaled variants add the two-level segmented escape hatch for hot keys
(round-13 #1)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _fresh(df: DataFrame, name: str, helper: str) -> str:
    """Collision guard: withColumn REPLACES an existing column, so a
    business column named e.g. 'rank' silently vanished under the window
    output (round-9 review; sketch helpers raise on the same clash)."""
    if name in df.columns:
        raise ValueError(
            f"{helper}: output column {name!r} already exists in the input "
            f"— pass a different name or rename the input column"
        )
    return name


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_name: str = "rank",
) -> DataFrame:
    """Top-k rows per group via row_number (deterministic given a total
    ordering). Catalyst rewrites rank<=k into a per-partition limit before
    the shuffle when possible (WindowGroupLimit), keeping it scale-safe.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(_fresh(df, rank_name, "top_k_per_group"), F.row_number().over(w))
        .filter(F.col(rank_name) <= k)
    )


def top_k_global(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition heaps merged on the driver, no global sort."""
    return df.orderBy(*order_by).limit(k)


def running_agg(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    agg_col: str,
    agg: str = "sum",
    out_name: str = "running",
) -> DataFrame:
    """Cumulative aggregate over unbounded-preceding..current — RANGE frame
    (peers of the current row by ``order_by`` are INCLUDED), the SQL
    default when ORDER BY is present. The frame choice is load-bearing for
    determinism: with a ROWS frame, rows TIED on the full ordering would
    take order-dependent running values (hit in practice — sf0.1 lineitem
    reuses (orderkey, linenumber), and one (suppkey, shipdate, orderkey,
    linenumber) collision flipped the cumulative sum between engines);
    with RANGE, every tie group shares the sum through its last member,
    deterministic for ANY data without needing ``order_by`` to be a
    provable total order. Design notes: docs/DESIGN.md#windows-running-agg"""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(_fresh(df, out_name, "running_agg"), getattr(F, agg)(agg_col).over(w))


#: Above this Catalyst size estimate, the *_scaled helpers switch from one
#: flat per-key window to the two-level segmented plan (round-13 #1: a flat
#: window serializes each key's whole history onto ONE task — a dead
#: executor at 100 TB under a hot key).
SEGMENT_THRESHOLD_BYTES = 64 * 1024 * 1024


#: Above this size the 64k-row hot-share sample bottoms out (share floor
#: ~8/65536) and plan_segments switches to the EXACT probe (round-15 #1).
#: Resolution bounds: docs/DESIGN.md#windows-hot-share.
_HOT_RESOLVABLE_BYTES = SEGMENT_THRESHOLD_BYTES * (65536 // 8)


def _exact_hot_share(df: DataFrame, partition_by: Sequence[str]) -> float:
    """Exact top-key row share via one count-per-key-HASH pass (shuffle =
    one 8-byte row per key; collisions only overstate — conservative).
    docs/DESIGN.md#windows-hot-share"""
    row = (
        df.groupBy(F.xxhash64(*[F.col(c) for c in partition_by]).alias("_p"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.max("_c").alias("m"), F.sum("_c").alias("t"))
        .first()
    )
    return row["m"] / row["t"] if row and row["t"] else 0.0

#: sentinel: "caller made no segmentation decision" (None means FLAT —
#: a plan_segments verdict the caller passes through).
_UNSET = object()


def plan_segments(
    df: DataFrame,
    order_by: Sequence[str],
    partition_by: Sequence[str] | None = None,
    n_segments: int | None = None,
    threshold_bytes: int = SEGMENT_THRESHOLD_BYTES,
) -> Column | None:
    """ONE segmentation decision + segment column for several ``*_scaled``
    calls over the same ordering (ADVICE r13: per-call samples replayed
    the prior call's lineage). None — flat — below the size threshold and
    ALSO when the observed hot-key share of ``partition_by`` (gate on the
    COARSEST keys) says no key's history can exceed the per-task
    threshold (round-14 #3: segmentation cost ~2x on uniform lag). The
    share estimator scales with frame size: the free 64k sample up to
    _HOT_RESOLVABLE_BYTES, the exact probe above it (round-15 #1) — a
    flat verdict stays reachable at ANY size."""
    from .ids import _estimated_size_bytes, order_key_segments

    size = _estimated_size_bytes(df)
    if threshold_bytes > 0 and size <= threshold_bytes:
        return None
    if n_segments is None:
        n_segments = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n_segments = max(1, min(n_segments, 1024))
    if partition_by is None or threshold_bytes <= 0:
        return order_key_segments(df, order_by, n_segments)
    if size > _HOT_RESOLVABLE_BYTES:
        if _exact_hot_share(df, partition_by) * size <= threshold_bytes:
            return None
        return order_key_segments(df, order_by, n_segments)
    col, share = order_key_segments(df, order_by, n_segments,
                                    hot_share_of=partition_by)
    if share * size <= threshold_bytes:
        return None
    return col


def _segmented(df: DataFrame, order_by: Sequence[str],
               n_segments: int | None, used: Sequence[str],
               seg_col: Column | None = None) -> DataFrame:
    """Attach the order-consistent ``_seg`` column (ids.order_key_segments
    — deterministic cuts, ties share a segment) after guarding internal
    column-name collisions; callers include their ``_pb_*`` join aliases
    in ``used`` so a colliding input fails loudly, not with an ambiguous-
    column AnalysisException (ADVICE r13)."""
    from .ids import order_key_segments

    if n_segments is None:
        n_segments = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n_segments = max(1, min(n_segments, 1024))
    clash = ({"_seg", "_seg2", *used}) & set(df.columns)
    if clash:
        raise ValueError(
            f"df columns collide with segmented-window internals: {clash}")
    if seg_col is None:
        seg_col = order_key_segments(df, order_by, n_segments)
    return df.withColumn("_seg", seg_col)


def _seg_join(local: DataFrame, small: DataFrame,
              partition_by: Sequence[str]) -> DataFrame:
    """Join a per-(keys, segment) small side back onto the row stream: equi
    on the segment, NULL-SAFE equi on every partition key (NULL keys are
    real window groups), small-side names aliased ``_pb_*`` so the
    self-join condition is unambiguous by construction (the r10 ntile
    wart)."""
    cond = F.col("_seg") == F.col("_seg2")
    for c in partition_by:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_pb_{c}"))
    return local.join(small, cond, "left").drop(
        "_seg2", *[f"_pb_{c}" for c in partition_by])


def running_sum_scaled(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    agg_col: str,
    out_name: str = "running",
    n_segments: int | None = None,
    threshold_bytes: int = SEGMENT_THRESHOLD_BYTES,
    segments: Column | None | object = _UNSET,
) -> DataFrame:
    """Cumulative sum whose worst case never puts one key's history on one
    task: below ``threshold_bytes`` (Catalyst size estimate, like
    ids.with_etl_metadata) this is the flat RANGE-frame :func:`running_agg`;
    above, rows are cut into order-consistent segments — per-(key, segment)
    local running sums, one aggregate of segment totals, an exclusive scan
    over the (keys x segments)-row totals table, one join back. Sum-frame
    semantics preserved exactly: tied rows share a segment (so the local
    RANGE frame sees all peers) and the result is NULL only when nothing
    non-NULL precedes. Addition-mergeable aggregates only (sum/count).
    Design notes: docs/DESIGN.md#windows-running-agg"""
    cols = [F.col(c) for c in order_by]
    if segments is _UNSET:
        segments = plan_segments(df, order_by, partition_by,
                                 n_segments, threshold_bytes)
    if segments is None:
        return running_agg(df, partition_by, cols, agg_col, out_name=out_name)
    dfs = _segmented(df, order_by, n_segments,
                     ("_loc", "_t", "_off", out_name,
                      *(f"_pb_{c}" for c in partition_by)), segments)
    w_loc = (
        Window.partitionBy(*partition_by, "_seg").orderBy(*cols)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = dfs.withColumn("_loc", F.sum(agg_col).over(w_loc))
    pb2 = [f"_pb_{c}" for c in partition_by]
    tot = dfs.groupBy(
        *[F.col(c).alias(a) for c, a in zip(partition_by, pb2)],
        F.col("_seg").alias("_seg2"),
    ).agg(F.sum(agg_col).alias("_t"))
    w_pre = (Window.partitionBy(*pb2).orderBy("_seg2")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = tot.select(*pb2, "_seg2", F.sum("_t").over(w_pre).alias("_off"))
    run = (
        F.when(F.col("_loc").isNull() & F.col("_off").isNull(), F.lit(None))
        .otherwise(F.coalesce(F.col("_loc"), F.lit(0))
                   + F.coalesce(F.col("_off"), F.lit(0)))
    )
    return (_seg_join(local, offs, partition_by)
            .withColumn(out_name, run).drop("_seg", "_loc", "_off"))


def lags_scaled(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    specs: Sequence[tuple[Sequence[str], str, str]],
    n_segments: int | None = None,
    threshold_bytes: int = SEGMENT_THRESHOLD_BYTES,
    segments: Column | None | object = _UNSET,
) -> DataFrame:
    """Several lag(1)s over refinements of ONE coarse partitioning —
    ``specs`` rows are (refine_by, value_col, out_name); each output
    equals lag(value) over (partition_by + refine_by ORDER BY order_by).
    Segmented, every spec rides the SAME (keys, segment) exchange
    (round-15 #5: the second full-frame shuffle was the fusion target): a
    refined spec sorts (refine, order) INSIDE the coarse partition — its
    refine-runs are contiguous, so a run-membership-guarded lag is the
    refined lag — and each segment-first row of a run takes the previous
    non-empty segment's run-last value through a boundary exchange of one
    row per (keys, refine, segment), a struct so "no previous row" stays
    distinct from "previous value is NULL". The run-first/run-last flags
    generalize the empty-refine rn/lead flags via a lag/lead of the
    refine struct on the same window. docs/DESIGN.md#windows-lags-scaled"""
    cols = [F.col(c) for c in order_by]
    if segments is _UNSET:
        segments = plan_segments(df, order_by, partition_by,
                                 n_segments, threshold_bytes)
    if segments is None:
        for refine, val, out in specs:
            w = Window.partitionBy(*partition_by, *refine).orderBy(*cols)
            df = df.withColumn(_fresh(df, out, "lags_scaled"),
                               F.lag(val, 1).over(w))
        return df
    allkeys = dict.fromkeys(
        c for refine, _, _ in specs for c in (*partition_by, *refine))
    dfs = _segmented(df, order_by, n_segments,
                     ("_lag", "_first", "_islast", "_last", "_prev",
                      *(o for _, _, o in specs),
                      *(f"_pb_{c}" for c in allkeys)), segments)
    for refine, val, out in specs:
        rcols = [F.col(c) for c in refine]
        w = Window.partitionBy(*partition_by, "_seg").orderBy(*rcols, *cols)
        rstruct = F.struct(*(rcols or [F.lit(1)]))
        same_run = F.lag(rstruct, 1).over(w).eqNullSafe(rstruct)
        local = (
            dfs.withColumn("_lag", F.when(same_run, F.lag(val, 1).over(w)))
            .withColumn("_first", ~same_run)
            .withColumn("_islast", ~F.lead(rstruct, 1).over(w)
                        .eqNullSafe(rstruct))
        )
        keys = [*partition_by, *refine]
        pb2 = [f"_pb_{c}" for c in keys]
        lasts = local.filter("_islast").select(
            *[F.col(c).alias(a) for c, a in zip(keys, pb2)],
            F.col("_seg").alias("_seg2"),
            F.struct(F.col(val).alias("v")).alias("_last"),
        )
        w_sg = Window.partitionBy(*pb2).orderBy("_seg2")
        prevs = lasts.select(
            *pb2, "_seg2", F.lag("_last", 1).over(w_sg).alias("_prev"))
        patched = F.when(F.col("_first"), F.col("_prev.v")).otherwise(
            F.col("_lag"))
        dfs = (_seg_join(local, prevs, keys)
               .withColumn(out, patched)
               .drop("_lag", "_first", "_islast", "_prev"))
    return dfs.drop("_seg")

