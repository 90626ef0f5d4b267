"""Join operators (SURVEY.md §2.3 J1-J4). Reference surface: left
equi-joins on facility_number (nh-etl-provider-transform.py:84-88,
104-108), a driver-side manifest anti-join (sync-drive-to-s3.py:47-48,
109-111), Snowflake MERGE procedures (README.md:238-269) — all here as
DataFrame compositions plus the general join surface. left_enrich
broadcasts a declared-dimension side (fact side never shuffles);
merge_scd1 is one full-shuffle PK join + overwrite — bucket both sides
by PK to co-locate it."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .asof import _is_orderable
from .projections import drop_columns_if_present

#: Denormalized columns dropped from enrich sides before joining
#: (provider-transform.py:31,85,105).
DEFAULT_DENORM_COLS = ("facility_name", "facility_address", "city_town", "zip_code")


def left_enrich(
    df: DataFrame,
    other: DataFrame,
    on: str | Sequence[str],
    drop_from_other: Sequence[str] = (),
    broadcast_other: bool = True,
    drop_overlap: bool = False,
) -> DataFrame:
    """J1/J2: left equi-join against an enrichment table, dropping the enrich
    side's denormalized duplicates first (provider-transform.py:84-88).
    Design notes: docs/DESIGN.md#joins-left-enrich"""
    other = drop_columns_if_present(other, drop_from_other)
    if drop_overlap:
        keys = {on.lower()} if isinstance(on, str) else {k.lower() for k in on}
        left_names = {c.lower() for c in df.columns}
        overlap = [
            c for c in other.columns
            if c.lower() in left_names and c.lower() not in keys
        ]
        other = drop_columns_if_present(other, overlap)
    if broadcast_other:
        other = F.broadcast(other)
    return df.join(other, on=on, how="left")


def anti_join(df: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J3: rows of ``df`` with no match in ``other`` (NOT EXISTS).

    The relational form of the reference's manifest dedup: files whose
    ``file_id`` is not in the ingest ledger (sync-drive-to-s3.py:109-111).
    """
    return df.join(other, on=on, how="left_anti")


def merge_scd1(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """J4: SCD-type-1 upsert on plain Parquet — source rows win, unmatched
    target rows survive. Replaces the Snowflake ``SP_MERGE_DIM_*``
    procedures (reference README.md:238-269) without requiring a MERGE-
    capable format. Design notes: docs/DESIGN.md#joins-merge-scd1"""
    keys = list(keys)
    updates = source.select(*target.columns)
    keep = target.join(source.select(*keys), on=keys, how="left_anti")
    return updates.unionByName(keep)


def ordering_struct(df: DataFrame, cols: Sequence[str]):
    """Deterministic tiebreak struct over ``cols``: orderable columns
    as-is; top-level orderable-entry maps canonicalized as sorted entry
    arrays; deeper non-orderable shapes excluded (those ties stay
    documented-arbitrary). Shared by latest_per_key's two modes so they
    cannot drift. Design notes: docs/DESIGN.md#joins-ordering-struct"""
    from pyspark.sql import types as T

    types = {f.name: f.dataType for f in df.schema.fields}
    parts = []
    for c in cols:
        dt = types[c]
        if (
            isinstance(dt, T.MapType)
            and _is_orderable(dt.keyType)
            and _is_orderable(dt.valueType)
        ):
            parts.append(F.array_sort(F.map_entries(F.col(c))).alias(c))
        elif _is_orderable(dt):
            parts.append(F.col(c).alias(c))
    return F.struct(*parts)


def latest_per_key(
    df: DataFrame, keys: Sequence[str], order_col: str | None,
    prefer_col: str | None = None,
) -> DataFrame:
    """Resolve multi-row-per-key sources to one row per key: the latest by
    ``order_col``, or — with ``order_col`` None/empty — the tiebreak-
    struct-max row (no version column; deterministic given the frame's
    content, unlike dropDuplicates, whose survivor depends on
    partitioning). max_by keeps both modes a single hash aggregate — no
    window sort needed. Design notes: docs/DESIGN.md#joins-latest-per-key"""
    keys = list(keys)
    others = [c for c in df.columns if c not in keys]
    # ONE max_by over the whole row struct (per-column max_by would TEAR
    # columns across tied rows); the ordering struct makes ties
    # deterministic — this feeds MERGE, so reruns must agree
    # (:func:`ordering_struct` covers map columns).
    row = F.struct(*[F.col(c).alias(c) for c in others])
    tiebreak = ordering_struct(df, others)
    # Truthiness, not `is not None`: an empty-string order_col (e.g. an
    # unset config value threaded through) means "no version column".
    parts = [F.col(order_col)] if order_col else []
    if prefer_col:
        parts.append(F.col(prefer_col))
    ordering = F.struct(*parts, tiebreak) if parts else tiebreak
    picked = df.groupBy(*keys).agg(F.max_by(row, ordering).alias("_r"))
    return picked.select(
        *keys, *[F.col("_r").getField(c).alias(c) for c in others]
    ).select(*df.columns)


def merge_scd2(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    batch_date: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """SCD-type-2 merge on plain Parquet: instead of overwriting changed
    attributes (:func:`merge_scd1`), close the current version row
    (``valid_to = batch_date``, ``is_current = false``) and append a new
    one (``valid_from = batch_date``, open-ended). History rows and
    unchanged current rows pass through untouched; brand-new keys insert
    an open row. Extends the reference's Snowflake SP_MERGE_DIM_* surface
    (README.md:238-269) with the history-keeping variant those procedures
    lack. Design notes: docs/DESIGN.md#joins-merge-scd2"""
    keys = list(keys)
    scd_cols = [valid_from, valid_to, is_current]
    attrs = [c for c in target.columns if c not in keys + scd_cols]
    missing = [c for c in attrs if c not in source.columns]
    if missing:
        raise ValueError(
            f"source is missing tracked attribute column(s) {missing}: "
            "merging would silently narrow the dimension schema (history "
            "included) — project/rename the source upstream or drop the "
            "columns from the target explicitly"
        )
    tracked = attrs
    clash = {"_pm_t", "_pm_s"} & (set(target.columns) | set(source.columns))
    if clash:
        raise ValueError(f"input columns collide with merge internals: {clash}")
    batch = F.to_date(F.lit(batch_date))

    # NULL is_current counts as CURRENT (a dim bootstrapped from legacy
    # data): filter(~col) and filter(col) would BOTH exclude such rows,
    # silently dropping them from the merge output.
    is_cur = F.coalesce(F.col(is_current), F.lit(True))
    history = target.filter(~is_cur)
    current = target.filter(is_cur).withColumn("_pm_t", F.lit(True))

    t_payload = F.struct(
        *[F.col(f"t.{c}").alias(c) for c in target.columns]
    ).alias("_t")
    s_row = F.struct(
        *[F.col(f"s.{c}").alias(c) for c in keys + tracked],
    ).alias("_s")
    # Presence comes from marker columns, not keys[0] IS NOT NULL: a source
    # row with a NULL (first) key is genuinely present — the key-based test
    # classified it as target-only, dropped its payload, and emitted an
    # all-NULL phantom current row.
    joined = (
        current.alias("t")
        .join(
            source.withColumn("_pm_s", F.lit(True)).alias("s"),
            keys,
            "full_outer",
        )
        .select(
            F.col("t._pm_t").isNotNull().alias("_has_t"),
            F.col("s._pm_s").isNotNull().alias("_has_s"),
            t_payload,
            s_row,
        )
    )
    # Spark comparators reject MapType: canonicalize top-level maps to
    # sorted entry arrays (order-insensitive equality); struct-nested maps
    # still fail analysis loudly rather than being silently skipped.
    t_types = {f.name: f.dataType for f in target.schema.fields}

    from pyspark.sql import types as T

    def _comparable(side: str, c: str):
        col = F.col(f"{side}.{c}")
        if isinstance(t_types[c], T.MapType):
            return F.array_sort(F.map_entries(col))
        return col

    changed = ~F.struct(*[_comparable("_t", c) for c in tracked]).eqNullSafe(
        F.struct(*[_comparable("_s", c) for c in tracked])
    )

    def _closed_t():  # current version closed at this batch
        return F.struct(
            *[F.col(f"_t.{c}") for c in keys + tracked],
            F.col(f"_t.{valid_from}").alias(valid_from),
            batch.alias(valid_to),
            F.lit(False).alias(is_current),
        )

    def _open_t():  # current version carried forward unchanged
        return F.struct(
            *[F.col(f"_t.{c}") for c in keys + tracked],
            F.col(f"_t.{valid_from}").alias(valid_from),
            F.col(f"_t.{valid_to}").cast("date").alias(valid_to),
            F.lit(True).alias(is_current),
        )

    def _new_s():  # fresh version from the source
        return F.struct(
            *[F.col(f"_s.{c}") for c in keys + tracked],
            batch.alias(valid_from),
            F.lit(None).cast("date").alias(valid_to),
            F.lit(True).alias(is_current),
        )

    out_rows = (
        F.when(~F.col("_has_s"), F.array(_open_t()))
        .when(~F.col("_has_t"), F.array(_new_s()))
        .when(changed, F.array(_closed_t(), _new_s()))
        .otherwise(F.array(_open_t()))
    )
    exploded = joined.select(F.explode(out_rows).alias("_r")).select("_r.*")
    ordered = keys + tracked + scd_cols
    return exploded.select(*ordered).unionByName(history.select(*ordered))
