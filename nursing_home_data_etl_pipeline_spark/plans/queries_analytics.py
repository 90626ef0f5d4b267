"""Aggregation-family queries (SURVEY.md §2.8): filters + name-predicate
projection, grouped/conditional/grouping-set aggregates, set ops,
pivot/unpivot, and approximate aggregates with exact twins — the general
query surface the reference never exercises. Window queries live in
``queries_windows``; temporal joins and quantile bands in
``queries_temporal`` (round-12 family split; names/semantics unchanged).

The driver gate checks at most 50 queries in registration order, so
adjacent operators are exercised by ONE registered query each (tagged
unions); underlying operators keep their own unit tests. Determinism
conventions (BASELINE.md): float aggregates round identically on both
sides; every window ordering carries a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import (
    duck_round_sql,
    round_half_away,
    val_sum_col,
    val_sum_sql,
)
from ..operators.aggregates import (
    cube_agg,
    group_agg,
    pivot_agg,
    rollup_agg,
    unpivot_stack,
)
from ..operators.projections import select_columns_matching
from ..sources.readers import read_table
from .catalog import register

# ---------------------------------------------------------------------------
# P9 row predicates + P7 name-predicate projection, one scan
# ---------------------------------------------------------------------------


@register(
    "filter_name_projection",
    oracle="""
    SELECT l_discount, l_extendedprice, l_linenumber, l_orderkey, l_tax
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
      AND l_returnflag IN ('A', 'R')
      AND l_discount > 0.05
      AND l_quantity IS NOT NULL
    """,
    doc="Row predicates (between / isin / comparison / null check) pushed to the "
    "parquet scan. Full contract: docs/CONTRACTS.md#filter_name_projection",
)
def filter_name_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_discount") > 0.05)
        & F.col("l_quantity").isNotNull()
    )
    return select_columns_matching(
        filtered,
        keywords=("price", "discount", "tax"),
        always_include=("l_orderkey", "l_linenumber"),
        sort_output=True,
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

# Exact-decimal money sums: a DOUBLE product's SUM lands on a 2-dec
# midpoint ~1/1000 per group — docs/CONTRACTS.md#revenue-decimal.


def rev_sum_sql(prefix: str = "", tax: bool = False) -> str:
    f = f" * (1 + CAST({prefix}l_tax AS DECIMAL(8,2)))" if tax else ""
    return (
        f"CAST(ROUND(SUM(CAST({prefix}l_extendedprice AS DECIMAL(8,2))"
        f" * (CAST(1 AS DECIMAL(3,2)) - CAST({prefix}l_discount AS DECIMAL(8,2)))"
        f"{f}), 2) AS DOUBLE)"
    )


def rev_sum_col(tax: bool = False):
    d = lambda c: F.col(c).cast("decimal(8,2)")  # noqa: E731
    expr = d("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - d("l_discount"))
    if tax:
        expr = expr * (F.lit(1).cast("decimal(3,2)") + d("l_tax"))
    return F.round(F.sum(expr), 2).cast("double")


# Cent SUMs ride exact DECIMAL(18,2): double summation straddled a .xx5
# boundary at skew2-sf10 (r13) — docs/CONTRACTS.md#revenue-decimal.
def dec_sum_sql(col: str) -> str:
    return f"CAST(ROUND(SUM(CAST({col} AS DECIMAL(18,2))), 2) AS DOUBLE)"


def dec_sum_col(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast("decimal(18,2)")), 2).cast("double")


@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {dec_sum_sql("l_quantity")}                                     AS sum_qty,
           {dec_sum_sql("l_extendedprice")}                                AS sum_base_price,
           {rev_sum_sql()}                                                 AS sum_disc_price,
           {rev_sum_sql(tax=True)}                                         AS sum_charge,
           {duck_round_sql(dec_sum_sql("l_quantity") + " / COUNT(*)")}     AS avg_qty,
           {duck_round_sql(dec_sum_sql("l_extendedprice") + " / COUNT(*)")} AS avg_price,
           {duck_round_sql(dec_sum_sql("l_discount") + " / COUNT(*)")}     AS avg_disc,
           COUNT(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: two-key hash aggregation with 8 aggregates — map-side "
    "partial agg + one shuffle (SURVEY §2.4 gap). Full contract: "
    "docs/CONTRACTS.md#pricing_summary",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    return group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            dec_sum_col("l_quantity").alias("sum_qty"),
            dec_sum_col("l_extendedprice").alias("sum_base_price"),
            rev_sum_col().alias("sum_disc_price"),
            rev_sum_col(tax=True).alias("sum_charge"),
            round_half_away(dec_sum_col("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
            round_half_away(dec_sum_col("l_extendedprice") / F.count(F.lit(1)), 6).alias("avg_price"),
            round_half_away(dec_sum_col("l_discount") / F.count(F.lit(1)), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ],
    )


@register(
    "group_having_conditional",
    oracle=f"""
    SELECT o_custkey,
           COUNT(*)                                         AS n_orders,
           {duck_round_sql(dec_sum_sql("o_totalprice") + " / COUNT(*)")} AS avg_price,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F')      AS n_finished,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O')      AS n_open,
           {dec_sum_sql("CASE WHEN o_orderpriority LIKE '1%' "
                        "THEN o_totalprice ELSE 0 END")}    AS urgent_revenue
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) FILTER (WHERE o_orderstatus = 'F') >= 5
    """,
    doc="GROUP BY + HAVING with conditional aggregates (FILTER clauses / CASE- "
    "gated sums — the single-pass alternative to N self-joins); the HAVING "
    "predicate itself is over a filtered count. Full contract: "
    "docs/CONTRACTS.md#group_having_conditional",
)
def group_having_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # avg via dec_sum/count: money sums ride exact DECIMAL (see
            # dec_sum_col — a double sum's last cent is order-dependent)
            round_half_away(dec_sum_col("o_totalprice") / F.count(F.lit(1)), 6).alias(
                "avg_price"
            ),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            dec_sum_col(
                F.when(F.col("o_orderpriority").startswith("1"),
                       F.col("o_totalprice")).otherwise(0.0)
            ).alias("urgent_revenue"),
        )
        .filter(F.col("n_finished") >= 5)
    )


_TIME_LEVELS = ("hour", "day", "month")


def _time_rollup_oracle_branch() -> str:
    return "\n    UNION ALL\n".join(
        f"""
    SELECT 'time_{lv}',
           strftime(date_trunc('{lv}', ts), '%Y-%m-%d %H:%M:%S'),
           event_type,
           0,
           {val_sum_sql("value")},
           COUNT(*)
    FROM events
    GROUP BY 2, 3"""
        for lv in _TIME_LEVELS
    )


# HAVING COUNT(*) > 0 per branch: Spark's grouping sets emit NO rows on
# EMPTY input where DuckDB still emits the grand-total row; on non-empty
# input the HAVING is a no-op.
_GROUPING_BRANCHES = (
    ("rollup", "ROLLUP (l_returnflag, l_linestatus)"),
    ("cube", "CUBE (l_returnflag, l_linestatus)"),
    ("gsets", "GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"),
)


@register(
    "rollup_cube_summary",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT '{v}' AS variant,
           l_returnflag                         AS k1,
           l_linestatus                         AS k2,
           GROUPING(l_returnflag, l_linestatus) AS grp,
           ROUND(SUM(l_quantity), 2)            AS sum_val,
           COUNT(*)                             AS n
    FROM lineitem
    GROUP BY {g}
    HAVING COUNT(*) > 0"""
        for v, g in _GROUPING_BRANCHES
    )
    + f"\n    UNION ALL{_time_rollup_oracle_branch()}",
    doc="The grouping-sets family as one tagged union. Full contract: "
    "docs/CONTRACTS.md#rollup_cube_summary",
)
def rollup_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import time_rollup

    li = read_table(spark, sf_dir, "lineitem")
    aggs = [
        F.grouping_id().alias("grp"),
        F.round(F.sum("l_quantity"), 2).alias("sum_val"),
        F.count(F.lit(1)).alias("n"),
    ]
    keys = ["l_returnflag", "l_linestatus"]
    out_cols = ["variant", "k1", "k2", "grp", "sum_val", "n"]

    def _tag(df: DataFrame, variant: str) -> DataFrame:
        return df.select(
            F.lit(variant).alias("variant"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "grp",
            "sum_val",
            "n",
        )

    ru = _tag(rollup_agg(li, keys, aggs), "rollup")
    cu = _tag(cube_agg(li, keys, aggs), "cube")
    li.createOrReplaceTempView("lineitem_gs")
    gs = _tag(
        spark.sql(
            """
            SELECT l_returnflag,
                   l_linestatus,
                   grouping_id()             AS grp,
                   ROUND(SUM(l_quantity), 2) AS sum_val,
                   COUNT(*)                  AS n
            FROM lineitem_gs
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
            """
        ),
        "gsets",
    )
    ev = read_table(spark, sf_dir, "events")
    tr = time_rollup(
        ev,
        "ts",
        [
            F.count(F.lit(1)).alias("n"),
            # exact decimal sum with IEEE poison semantics (round-14 #2)
            val_sum_col("value").alias("sum_val"),
        ],
        levels=_TIME_LEVELS,
        extra_keys=("event_type",),
    ).select(
        F.concat(F.lit("time_"), F.col("resolution")).alias("variant"),
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias("k1"),
        F.col("event_type").alias("k2"),
        F.lit(0).alias("grp"),
        "sum_val",
        "n",
    )
    return (
        ru.unionByName(cu)
        .unionByName(gs)
        .unionByName(tr.select(*out_cols))
    )


# ---------------------------------------------------------------------------
# Set ops: distinct chain, multiset ops, and DISTINCT — tagged union
# ---------------------------------------------------------------------------


@register(
    "set_ops_all",
    oracle="""
    SELECT 'chain' AS variant, CAST(c_custkey AS VARCHAR) AS key, CAST(1 AS BIGINT) AS n
    FROM (
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       UNION
       SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      INTERSECT
      SELECT o_custkey FROM orders
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    UNION ALL
    SELECT 'multiset', status, COUNT(*) FROM (
      (SELECT o_orderstatus AS status FROM orders WHERE o_orderkey % 3 = 0
       INTERSECT ALL
       SELECT o_orderstatus FROM orders WHERE o_orderkey % 2 = 0)
      EXCEPT ALL
      SELECT o_orderstatus FROM orders WHERE o_orderkey % 12 = 0
    ) GROUP BY status
    UNION ALL
    SELECT 'distinct', concat_ws('/', l_returnflag, l_linestatus), 1
    FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
    """,
    doc="The set-op family as one tagged union: UNION/INTERSECT/EXCEPT chain (SQL "
    "distinct semantics). Full contract: docs/CONTRACTS.md#set_ops_all",
)
def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GROUP-COUNT-COMPARE rewrite (round-14 #7): ONE scan per table and
    # ONE key shuffle per branch where the literal chains scanned
    # customer 4x / orders 3x — docs/CONTRACTS.md#set_ops_all.
    from .catalog import tag_union

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    types = {"key": "string", "n": "long"}

    # chain = ((building UNION rich) INTERSECT with_orders) EXCEPT
    # machinery — per-key membership flags, max-merged in one aggregate
    # over the tagged union of both scans.
    def _flags(df, key, in_a, in_m, in_o):
        return df.select(F.col(key).alias("key"), in_a.alias("in_a"),
                         in_m.alias("in_m"), in_o.alias("in_o"))

    member = _flags(
        cust, "c_custkey",
        (F.col("c_mktsegment") == "BUILDING") | (F.col("c_acctbal") > 9000),
        F.col("c_mktsegment") == "MACHINERY", F.lit(False),
    ).unionByName(_flags(orders, "o_custkey",
                         F.lit(False), F.lit(False), F.lit(True)))
    chain = tag_union(
        member.groupBy("key")
        .agg(*[F.max(c).alias(c) for c in ("in_a", "in_m", "in_o")])
        .filter(F.col("in_a") & F.col("in_o") & ~F.coalesce("in_m", F.lit(False))),
        "chain", types,
        key=F.col("key").cast("string"), n=F.lit(1).cast("long"),
    )

    # multiset = (key%3 INTERSECT ALL key%2) EXCEPT ALL key%12 over
    # o_orderstatus: per-status counts compare as
    # greatest(least(n3, n2) - n12, 0) — INTERSECT ALL keeps min copies,
    # EXCEPT ALL subtracts clamped at zero.
    def n_mod(mod: int):
        return F.sum(
            F.when(F.col("o_orderkey") % mod == 0, 1).otherwise(0)
        ).alias(f"n{mod}")

    multiset = tag_union(
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(n_mod(3), n_mod(2), n_mod(12))
        .select("status", F.greatest(
            F.least("n3", "n2") - F.col("n12"), F.lit(0)).alias("n"))
        .filter(F.col("n") > 0),
        "multiset", types, key=F.col("status"), n=F.col("n").cast("long"),
    )

    dv = tag_union(
        li.select("l_returnflag", "l_linestatus").distinct(),
        "distinct", types,
        key=F.concat_ws("/", "l_returnflag", "l_linestatus"),
        n=F.lit(1).cast("long"),
    )
    return chain.unionByName(multiset).unionByName(dv)


# ---------------------------------------------------------------------------
# Pivot / unpivot roundtrip (the reference's quarterly-columns shape, W2)
# ---------------------------------------------------------------------------


@register(
    "pivot_unpivot",
    oracle="\n    UNION ALL\n".join(
        f"""
    SELECT l_returnflag, 'q{q}_qty' AS metric,
           ROUND(SUM(CASE WHEN QUARTER(l_shipdate) = {q} THEN l_quantity END), 2) AS value
    FROM lineitem GROUP BY l_returnflag"""
        for q in (1, 2, 3, 4)
    ),
    doc="Long->wide pivot (quarterly measure columns q1..q4, mirroring the "
    "reference's pre-pivoted quality-measure shape, quality- "
    "transform.py:40-43; explicit pivot values skip the distinct-discovery "
    "job) immediately unpivoted back to long form with the built-in stack — "
    "the roundtrip exercises both W2 directions in one plan; unpivot is "
    "row-local, no extra shuffle. Full contract: "
    "docs/CONTRACTS.md#pivot_unpivot",
)
def pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").withColumn(
        "quarter", F.quarter("l_shipdate")
    )
    wide = pivot_agg(
        li, ["l_returnflag"], "quarter", [1, 2, 3, 4], F.sum("l_quantity")
    ).select(
        "l_returnflag",
        *[F.round(F.col(str(q)), 2).alias(f"q{q}_qty") for q in (1, 2, 3, 4)],
    )
    return unpivot_stack(
        wide, ["l_returnflag"], ["q1_qty", "q2_qty", "q3_qty", "q4_qty"]
    )


# ---------------------------------------------------------------------------
# Approximate aggregates with exact-twin verification
# ---------------------------------------------------------------------------


_HH_MIN = 80
_CMS_DEPTH, _CMS_WIDTH = 4, 1024


#: the within-band boolean columns every variant must assert TRUE — one
#: tuple drives the oracle, the sketch-band select, and the cms_hh pad.
_OK_COLS = ("distinct_ok", "p50_ok", "p95_ok",
            "hll_merge_ok", "theta_merge_ok", "kll_merge_ok")


@register(
    "approx_stats_events",
    oracle=f"""
    SELECT 'sketch_bands' AS variant,
           event_type AS key,
           COUNT(*) AS n,
           {", ".join(f"TRUE AS {c}" for c in _OK_COLS)}
    FROM events WHERE event_id % 5 = 0 GROUP BY event_type
    UNION ALL
    SELECT 'cms_hh',
           CAST(user_id AS VARCHAR),
           COUNT(*),
           {", ".join("TRUE" for _ in _OK_COLS)}
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    HAVING COUNT(*) >= {_HH_MIN}
    """,
    doc="Approximate aggregates (HLL++ distinct, GK percentiles — sublinear state. "
    "Full contract: docs/CONTRACTS.md#approx_stats_events",
)
def approx_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    # NULL-safe join key AS the group key: grouping by
    # coalesce(event_type, chr(0)-sentinel) is bijective with event_type
    # (sentinel absent from data — the same assumption the former
    # post-aggregate withColumn('_jk') made), so the three aggregates join
    # directly on their own group key. Kills the per-frame
    # withColumn/drop chain (each op re-analyzed the whole tree, ~0.3 s
    # of the build, r16) AND lets every join reuse the aggregates'
    # _jk hash-partitioning at scale instead of re-deriving a key.
    _jk = F.coalesce(F.col("event_type"), F.lit("\x00null")).alias("_jk")
    # Exact COUNT(DISTINCT) in its OWN aggregate: mixing the Expand-based
    # distinct rewrite with sketch buffers forces every sketch through the
    # multiplied multi-phase plan (~5x slower measured at sf0.1).
    exact = ev.groupBy(_jk).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("_exact_d"),
    )
    # Band bounds are DISCRETE data values at band RANKS: approx/KLL
    # promise rank accuracy, never value accuracy (round-8 fuzz); the
    # sorted-values twin is verification-only (dropped at 100 TB).
    sk = ev.groupBy(_jk).agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("_approx_d"),
        F.sort_array(F.collect_list(F.col("value").cast("double"))).alias("_vals"),
        F.percentile_approx("value", 0.5).alias("_p50"),
        F.percentile_approx("value", 0.95).alias("_p95"),
    )
    # Mergeable path: all three partial sketches in ONE per-(type, day)
    # aggregate, then ONE rollup merge to event_type (HLL/theta union aggs;
    # KLL folded with the higher-order reduce — #days entries per group).
    partials = ev.groupBy(_jk, F.to_date("ts").alias("_day")).agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), 12).alias("_hs"),
        F.theta_sketch_agg(F.col("user_id").cast("string"), 12).alias("_ts"),
        F.kll_sketch_agg_double(F.col("value").cast("double"), F.lit(200)).alias(
            "_ks"
        ),
    )
    from ..functions.sketches import _fold_binary

    merged = partials.groupBy("_jk").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_hs", True)).alias("_hll_d"),
        F.theta_sketch_estimate(F.theta_union_agg("_ts", 12)).alias("_theta_d"),
        # the ONE KLL fold idiom (functions.sketches) — no inline copy
        _fold_binary("_ks", "kll_sketch_merge_double").alias("_kll_m"),
    )
    # an all-NULL-value group folds to an EMPTY sketch buffer and
    # get_quantile on it RAISES (KLL_INVALID_INPUT_SKETCH_BUFFER) rather
    # than returning NULL — same guard as kll_rollup_quantiles; inlined
    # into the final select (a withColumn+drop pair re-analyzed the
    # whole tree twice, r16).
    kll_p50 = F.expr(
        "CASE WHEN _kll_m IS NULL OR kll_sketch_get_n_double(_kll_m) = 0 "
        "THEN NULL ELSE kll_sketch_get_quantile_double(_kll_m, 0.5) END"
    )

    g = exact.join(sk, "_jk").join(merged, "_jk")
    # 3 sigma of the requested 5% relative standard deviation, floored for
    # tiny groups where one-off error dominates the relative bound.
    tol = F.greatest(F.col("_exact_d") * 0.15, F.lit(2.0))
    # Percentile bands are VACUOUSLY TRUE on zero non-NULL measures (the
    # oracle asserts literal TRUE); distinct bands need no guard.
    vac = lambda c: F.coalesce(c, F.lit(True))  # noqa: E731
    nv = F.size("_vals")

    def band(q_lo: float, q_hi: float) -> tuple:
        # data values at the band's rank endpoints; an empty value set
        # (all-NULL group) yields NULL bounds -> vacuously-true check
        lo = (F.floor(F.lit(q_lo) * (nv - 1)) + 1).cast("int")
        hi = (F.ceil(F.lit(q_hi) * (nv - 1)) + 1).cast("int")
        pick = lambda i: F.when(nv > 0, F.try_element_at("_vals", i))  # noqa: E731
        return pick(lo), pick(hi)

    p50_lo, p50_hi = band(0.47, 0.53)
    p95_lo, p95_hi = band(0.92, 0.98)
    bands = g.select(
        F.lit("sketch_bands").alias("variant"),
        # recover event_type from the bijective sentinel key
        F.nullif(F.col("_jk"), F.lit("\x00null")).alias("key"),
        "n",
        (F.abs(F.col("_approx_d") - F.col("_exact_d")) <= tol).alias("distinct_ok"),
        vac(F.col("_p50").between(p50_lo, p50_hi)).alias("p50_ok"),
        vac(F.col("_p95").between(p95_lo, p95_hi)).alias("p95_ok"),
        (F.abs(F.col("_hll_d") - F.col("_exact_d")) <= tol).alias("hll_merge_ok"),
        (F.abs(F.col("_theta_d") - F.col("_exact_d")) <= tol).alias(
            "theta_merge_ok"
        ),
        vac(kll_p50.between(p50_lo, p50_hi)).alias("kll_merge_ok"),
    )
    # CMS heavy-hitter branch: NULL keys are excluded on BOTH sides — the
    # semi-join refine would drop the NULL group SQL GROUP BY keeps.
    from ..functions.sketches import cms_build, cms_estimate

    hh_ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    cms = cms_build(hh_ev, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    keys = hh_ev.select("user_id").distinct()
    candidates = cms_estimate(
        cms, keys, "user_id", depth=_CMS_DEPTH, width=_CMS_WIDTH
    ).filter(F.col("est") >= _HH_MIN)
    # No pinned broadcast: a saturated sketch degrades candidates to ~all
    # keys, so AQE must pick the strategy from MEASURED size — a hint
    # OOMs exactly when the sketch is weakest.
    hh = (
        hh_ev.join(candidates.select("user_id"), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _HH_MIN)
        .select(
            F.lit("cms_hh").alias("variant"),
            F.col("user_id").cast("string").alias("key"),
            "n",
            *[F.lit(True).alias(c) for c in _OK_COLS],
        )
    )
    return bands.unionByName(hh)

