"""Similarity search over embedding columns (north star):
:func:`cosine_topk_bruteforce` (exact baseline — bounded broadcast query
set x corpus) and :func:`rhp_bucket` + :func:`cosine_topk_lsh`
(random-hyperplane LSH: sign-pattern buckets, exact cosine within
collisions, fixed-seed planes so results reproduce across engines). All
vector math is built-in higher-order functions — no Python in the row
path. Full module rationale: docs/DESIGN.md#similarity-module."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_prenorm_sql, dot_sql, norm_sql

#: Fixed seed for hyperplane generation — determinism contract.
RHP_SEED = 42

#: Cap on derived plane count: 2^24 = 16M buckets — at 1e9 vectors that is
#: ~60 expected occupants per bucket, still linear pair work.
RHP_MAX_PLANES = 24

#: Target EXPECTED bucket occupancy (corpus_size / 2^planes).
RHP_TARGET_OCCUPANCY = 32


def derive_n_planes(
    n_rows: int,
    target: int = RHP_TARGET_OCCUPANCY,
    lo: int = 4,
    hi: int = RHP_MAX_PLANES,
) -> int:
    """Plane count keeping expected bucket occupancy n / 2^planes <=
    ``target``: a FIXED count makes within-bucket pair work ~n^2/2^planes
    — quadratic again at 100x corpus (VERDICT r1); deriving from corpus
    size keeps it O(n * target). Pure integer/log math — reproducible
    exactly from the corpus count alone, by any engine or oracle."""
    if n_rows <= target:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target))))


def hyperplanes(n_planes: int, dim: int, seed: int = RHP_SEED) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (rounded to 6 decimals so the
    exact same constants can be embedded in any engine's SQL)."""
    rng = np.random.RandomState(seed)
    return [[round(float(x), 6) for x in row] for row in rng.randn(n_planes, dim)]


def _side(
    df: DataFrame, id_col: str, vec_col: str, tag: str, dim: int | None
) -> DataFrame:
    """One similarity side: id/vector/hoisted-norm under ``tag`` aliases,
    with the shared dirty-input contract — NULL and zero-norm vectors
    EXCLUDED (no direction; ANSI division would abort the job), off-dim
    too when ``dim`` is given (round-8 hunt: a wrong-length vector NULLed
    every plane dot and when(NULL > 0) sent ALL such vectors to one
    degenerate bucket 0 doing O(n^2) pair work)."""
    out_id = "query_id" if tag == "q" else "neighbor_id"
    side = df.select(
        F.col(id_col).alias(out_id),
        F.col(vec_col).alias(f"_{tag}v"),
        F.expr(norm_sql(f"`{vec_col}`")).alias(f"_{tag}n"),
    ).filter(F.col(f"_{tag}n") > 0)
    return side if dim is None else side.filter(F.size(f"_{tag}v") == dim)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k: ROUNDED cosine desc, neighbor id
    tiebreak."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query vector. The query side broadcasts —
    the corpus NEVER shuffles, so any corpus size works while the query
    batch fits in memory. Dirty-input contract: :func:`_side`."""
    q = _side(queries, id_col, vec_col, "q", dim=None)
    c = _side(corpus, id_col, vec_col, "c", dim=None)
    pairs = c.join(F.broadcast(q), F.lit(True), "inner")
    if not include_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.expr(cosine_prenorm_sql("_qv", "_cv", "_qn", "_cn")).alias("cos_sim"),
    # a query/corpus DIM mismatch NULLs the cosine (zip_with pads the
    # shorter array) — an undefined similarity is not a result, so such
    # pairs are excluded rather than ranked (desc puts NULL last, but they
    # would still fill top-k slots when real candidates run out)
    ).filter(F.col("cos_sim").isNotNull())
    return _rank_topk(scored, k)


def rhp_bucket(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    out_name: str = "bucket",
) -> DataFrame:
    """Random-hyperplane signature: bit p = 1 iff dot(vec, plane_p) > 0.
    Row-local (no shuffle); the fold inside the dot is sequential so the
    sign decision is order-deterministic. Built as ONE SQL string — the
    per-element F.lit planes cost ~75 py4j round trips per plane.
    """
    terms = ["CAST(0 AS BIGINT)"]
    for p, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"{x!r}D" for x in plane) + ")"
        terms.append(
            f"(CASE WHEN {dot_sql(f'`{vec_col}`', arr)} > 0"
            f" THEN {2 ** p} ELSE 0 END)"
        )
    return df.withColumn(out_name, F.expr(" + ".join(terms)))


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    n_planes: int = 6,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: exact cosine restricted to same-RHP-bucket candidates —
    the bucket equi-join replaces the cross join (~2^n_planes fewer
    candidates). Recall < 1 by construction (neighbors split across a
    hyperplane are missed); raise via multi-probe or fewer planes."""
    planes = hyperplanes(n_planes, dim)
    q = rhp_bucket(_side(queries, id_col, vec_col, "q", dim), planes, "_qv")
    c = rhp_bucket(_side(corpus, id_col, vec_col, "c", dim), planes, "_cv")
    pairs = c.join(F.broadcast(q), on="bucket", how="inner").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.expr(cosine_prenorm_sql("_qv", "_cv", "_qn", "_cn")).alias("cos_sim"),
    )
    return _rank_topk(scored, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via RHP bucketing (same recall
    caveat as any LSH). ``n_planes=None`` derives the plane count from the
    corpus size (:func:`derive_n_planes`) so within-bucket all-pairs stays
    linear; the COUNT(*) is one footer-metadata driver job."""
    if n_planes is None:
        n_planes = derive_n_planes(df.count())
    planes = hyperplanes(n_planes, dim)
    # Same dirty-input contract as _side (NULL/zero-norm/off-dim excluded),
    # kept under the caller's column names for the self-join aliases below.
    b = rhp_bucket(
        df.select(
            id_col, vec_col, F.expr(norm_sql(f"`{vec_col}`")).alias("_n")
        ).filter((F.col("_n") > 0) & (F.size(vec_col) == dim)),
        planes,
        vec_col,
    )
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.expr(
                cosine_prenorm_sql(
                    f"a.`{vec_col}`", f"b.`{vec_col}`", "a._n", "b._n"
                )
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )

