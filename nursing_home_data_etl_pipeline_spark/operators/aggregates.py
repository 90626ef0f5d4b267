"""Aggregation operators (SURVEY.md §2.4 / §2.8) — pure capability-gap
fill (the reference's CMS input arrives pre-aggregated). All built-in
Spark: hash aggregation with map-side partials and AQE coalescing come
free from Catalyst; never a UDF. groupBy().agg() on a high-cardinality
key = one shuffle with partial aggregation, the canonical 100 TB-safe
pattern; AQE handles skewed keys."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def group_agg(
    df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """Hash aggregation. ``aggs`` must be pre-aliased columns."""
    return df.groupBy(*keys).agg(*aggs)


def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """ROLLUP: hierarchical subtotals + grand total, one shuffle."""
    return df.rollup(*keys).agg(*aggs)


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """CUBE: all grouping-set combinations."""
    return df.cube(*keys).agg(*aggs)


def pivot_agg(
    df: DataFrame,
    keys: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence,
    agg: Column,
) -> DataFrame:
    """Long -> wide (the reference's quarterly q1..q4 sibling-column shape,
    SURVEY.md §2.5 W2). Passing explicit ``pivot_values`` avoids the extra
    distinct-values job Spark otherwise runs — always pass them at scale.
    """
    return df.groupBy(*keys).pivot(pivot_col, list(pivot_values)).agg(agg)


def unpivot_stack(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "metric",
    value_name: str = "value",
) -> DataFrame:
    """Wide -> long via the built-in unpivot (no shuffle, row-local)."""
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        var_name,
        value_name,
    )


def time_rollup(
    df: DataFrame,
    ts_col: str,
    aggs: Sequence[Column],
    levels: Sequence[str] = ("hour", "day", "month"),
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Hypertable-style multi-resolution time rollup: one row set per
    truncation level (hour/day/month/...), computed in a SINGLE expanded
    aggregate — one shuffle and ONE fact-table scan for every resolution,
    instead of one scan + shuffle per level. Design notes:
    docs/DESIGN.md#aggregates-time-rollup"""
    if not levels:
        raise ValueError("need at least one truncation level")
    tcols = [f"_t_{lv}" for lv in levels]
    clash = set(tcols) & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with rollup internals: {clash}")
    base = df.select(
        *[F.date_trunc(lv, F.col(ts_col)).alias(t) for lv, t in zip(levels, tcols)],
        *df.columns,
    )
    order = [*tcols, *extra_keys]  # grouping_id bit order = this order
    sets = [[t, *extra_keys] for t in tcols]
    gid_of = {
        lv: int(
            "".join("0" if c in {t, *extra_keys} else "1" for c in order), 2
        )
        for lv, t in zip(levels, tcols)
    }
    grouped = base.groupingSets(
        [[F.col(c) for c in s] for s in sets], *[F.col(c) for c in order]
    ).agg(F.grouping_id().alias("_gid"), *aggs)
    resolution = F.lit(None).cast("string")
    bucket = F.lit(None).cast("timestamp")
    for lv, t in zip(levels, tcols):
        is_lv = F.col("_gid") == gid_of[lv]
        resolution = F.when(is_lv, F.lit(lv)).otherwise(resolution)
        bucket = F.when(is_lv, F.col(t)).otherwise(bucket)
    agg_names = [grouped.columns[len(order) + 1 + i] for i in range(len(aggs))]
    return grouped.select(
        resolution.alias("resolution"),
        bucket.alias("bucket_start"),
        *[F.col(k) for k in extra_keys],
        *[F.col(c) for c in agg_names],
    )
