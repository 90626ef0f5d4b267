"""Universal cleaning operators (SURVEY.md §2.2 P1-P3, §2.6 F1-F3):
column-name normalization (``nh-etl-universal-cleaning.py:35-39``),
case-insensitive semantic rename map (:23-30,46-52), whole-row trim
(:41-44). Deliberate difference (reference bug B7): the reference loops
withColumnRenamed per column — O(columns) nested plan nodes; every
operator here emits ONE select/toDF — constant-depth plan at any width."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def col_exact(name: str):
    """Column reference by exact name — backtick-quoted so raw headers
    containing ``.`` (or other specials) are not parsed as struct access."""
    return F.col("`" + name.replace("`", "``") + "`")


#: CMS source name -> warehouse name, as in nh-etl-universal-cleaning.py:23-30.
DEFAULT_RENAME_MAP: dict[str, str] = {
    "cms_certification_number_ccn": "facility_number",
    "provider_name": "facility_name",
    "provider_address": "facility_address",
    "provider_type": "facility_type",
    "deficiency_tag_number": "deficiency_tag",
    "scope_severity_code": "severity_level",
}


def normalize_name(name: str) -> str:
    """Normalize one column name — exact reference semantics
    (nh-etl-universal-cleaning.py:37): strip, lower, ``" " / - .`` each
    become ``_``, parentheses are REMOVED (not replaced)."""
    out = name.strip().lower()
    out = out.replace("(", "").replace(")", "")
    for ch in (" ", "/", "-", "."):
        out = out.replace(ch, "_")
    # Final strip: paren removal can re-expose trailing whitespace the
    # initial strip couldn't see (e.g. "0\r)" -> "0\r"). The reference
    # stops after the first strip and would keep the dirty tail.
    return out.strip()


def normalize_column_names(df: DataFrame) -> DataFrame:
    """P1: rename every column to its normalized form (single plan node).

    Raises on post-normalization collisions (e.g. ``"a b"`` and ``"a_b"``)
    instead of silently producing a duplicate-name frame.
    """
    cleaned = [normalize_name(c) for c in df.columns]
    dupes = {c for c in cleaned if cleaned.count(c) > 1}
    if dupes:
        raise ValueError(f"column-name normalization collides on {sorted(dupes)}")
    return df.toDF(*cleaned)


def rename_columns(df: DataFrame, rename_map: dict[str, str] | None = None) -> DataFrame:
    """P2: case-insensitive semantic rename (nh-etl-universal-cleaning.py:46-52).

    Keys are matched against ``lower(strip(col))``; absent keys are ignored.
    """
    rename_map = DEFAULT_RENAME_MAP if rename_map is None else rename_map
    wanted = {k.lower().strip(): v for k, v in rename_map.items()}
    new_names = [wanted.get(c.lower().strip(), c) for c in df.columns]
    dupes = {c for c in new_names if new_names.count(c) > 1}
    if dupes:
        # e.g. both 'provider_name' and 'facility_name' present while the
        # map renames provider_name -> facility_name: toDF would silently
        # build a duplicate-name frame that fails with AMBIGUOUS_REFERENCE
        # (or worse, picks positionally) far from the cause.
        raise ValueError(f"rename produces duplicate column name(s) {sorted(dupes)}")
    if new_names == df.columns:
        return df
    return df.toDF(*new_names)


def trim_all(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """P3/F1: trim whitespace on every (or the given) string column —
    StringType ONLY (the reference's all-string ingest trims everything,
    nh-etl-universal-cleaning.py:41-44; F.trim would cast typed columns).
    Explicit non-string names are left untouched; absent names RAISE
    instead of silently trimming nothing. One Project node."""
    string_cols = {
        f.name for f in df.schema.fields if f.dataType.typeName() == "string"
    }
    if columns is not None:
        missing = set(columns) - set(df.columns)
        if missing:
            raise ValueError(f"trim_all: columns not in frame: {sorted(missing)}")
        targets = set(columns) & string_cols
    else:
        targets = string_cols
    return df.select(
        *[
            F.trim(col_exact(c)).alias(c) if c in targets else col_exact(c).alias(c)
            for c in df.columns
        ]
    )


def cast_all_to_string(df: DataFrame) -> DataFrame:
    """Untyped-ingest parity: the reference reads CSV with no inferSchema so
    every source column is StringType (nh-etl-universal-cleaning.py:75).
    Casting a typed frame to all-string reproduces that data model.
    """
    return df.select(*[col_exact(c).cast("string").alias(c) for c in df.columns])


def cast_columns(df: DataFrame, casts: dict[str, str]) -> DataFrame:
    """F3: typed-cast escape hatch (column -> Spark SQL type name) —
    promotes string staging columns to native types for aggregation and
    pushdown. Absent cast keys RAISE (trim_all's contract): a typo'd name
    must fail here at the cause, not downstream as string aggregation."""
    missing = set(casts) - set(df.columns)
    if missing:
        raise ValueError(f"cast_columns: columns not in frame: {sorted(missing)}")
    return df.select(
        *[
            col_exact(c).cast(casts[c]).alias(c) if c in casts else col_exact(c).alias(c)
            for c in df.columns
        ]
    )


def clean_table(
    df: DataFrame,
    rename_map: dict[str, str] | None = None,
) -> DataFrame:
    """The full universal-cleaning transform: normalize names -> semantic
    rename -> trim values (nh-etl-universal-cleaning.py:81-83). Metadata
    stamping (row_id/etl_date) is separate — see :mod:`.ids`.
    """
    return trim_all(rename_columns(normalize_column_names(df), rename_map))
