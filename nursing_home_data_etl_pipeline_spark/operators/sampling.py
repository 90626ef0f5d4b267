"""Deterministic sampling / splitting: ``df.sample()`` is seed-stable
only per partitioning, so membership derives from a CONTENT hash instead
— the same row lands in the same split on any cluster, partitioning, or
engine (md5, reproducible in the oracle and downstream)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: md5-derived uniform value in [0, 10000), 48 bits (16 bits skewed a
#: "0.8" split to 81.7%; 48-bit mod bias ~4e-11); NULL keys hash via a
#: sentinel so sample and split treat them identically.
def _hash_bucket(key: Column, salt: str) -> Column:
    safe = F.coalesce(key.cast("string"), F.lit("\x00<null>"))
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), safe)), 1, 12), 16, 10)
        .cast("long")
        % 10000
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by content hash — the
    train/val/test assignment that never leaks rows between splits across
    reruns or engines. Weights are normalized; boundaries are cumulative
    buckets of 1/10000 granularity."""
    if len(weights) != len(names):
        raise ValueError(
            f"hash_split got {len(weights)} weights for {len(names)} names — "
            "a silent zip-truncate would fold the unmatched weights' mass "
            "into the last split"
        )
    total = sum(weights)
    bucket = _hash_bucket(F.col(key_col), salt)
    acc = 0.0
    expr = F.lit(names[-1])
    bounds = []
    for w, name in zip(weights[:-1], names[:-1]):
        acc += w / total
        bounds.append((round(acc * 10000), name))
    for bound, name in reversed(bounds):
        expr = F.when(bucket < bound, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def stratified_deterministic_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    salt: str = "strata",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample boilerplate-heavy
    sources harder): each stratum keeps its own fraction, rows chosen by
    content hash. Strata missing from ``fractions`` are dropped."""
    bucket = _hash_bucket(F.col(key_col), salt)
    cond = F.lit(False)
    for stratum, frac in fractions.items():
        cond = cond | (
            (F.col(strata_col) == stratum) & (bucket < round(frac * 10000))
        )
    return df.filter(cond)
