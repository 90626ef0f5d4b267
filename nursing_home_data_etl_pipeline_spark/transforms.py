"""Domain transforms — the reference's three Glue jobs as library
functions: universal_cleaning <- nh-etl-universal-cleaning.py,
provider_transform <- nh-etl-provider-transform.py, quality_transform <-
nh-etl-quality-transform.py. Deltas (SURVEY.md §2.9): error sink gets the
real frame + exception (B1/B2), no no-op renames (B3) or dead drops (B4),
the provider scan is CACHED before the five-output fan-out (the reference
re-read staging per output, §3.3), single-select cleaning (B7). Domains and
the five provider writes run concurrently on the one session
(session.map_concurrently); a failing one quarantines its own frame."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.cleaning import clean_table
from .operators.ids import with_etl_metadata
from .operators.joins import DEFAULT_DENORM_COLS, left_enrich
from .operators.projections import (
    RATING_KEYWORDS,
    STAFFING_KEYWORDS,
    SURVEY_KEYWORDS,
    drop_columns_if_present,
    select_columns,
    select_columns_matching,
)
from .session import map_concurrently
from .sources.readers import data_files_exist, is_empty, read_csv_untyped, read_parquet
from .sources.writers import write_error, write_parquet
from .zones import ZoneLayout

PK = "facility_number"

#: Per-file recency stamp threaded staging -> transforms so the warehouse
#: merge's "latest per key" means NEWEST DROP, not attribute-struct max
#: (two same-run drops once installed the stale month, ADVICE round 6).
RECENCY_COL = "synced_at"

#: The facility dimension's canonical projection
#: (nh-etl-provider-transform.py:36-61). Applied non-strictly: the
#: reference's schema is dynamic-by-header, so absent columns are skipped.
FACILITY_COLUMNS: tuple[str, ...] = (
    PK,
    "facility_name",
    "facility_address",
    "city_town",
    "state",
    "zip_code",
    "telephone_number",
    "provider_ssa_county_code",
    "county_parish",
    "ownership_type",
    "number_of_certified_beds",
    "average_number_of_residents_per_day",
    "average_number_of_residents_per_day_footnote",
    "facility_type",
    "provider_resides_in_hospital",
    "legal_business_name",
    "date_first_approved_to_provide_medicare_and_medicaid_services",
    "affiliated_entity_name",
    "affiliated_entity_id",
    "continuing_care_retirement_community",
    "special_focus_status",
    "abuse_icon",
)

#: Quality-measures projection (nh-etl-quality-transform.py:38-47).
QUALITY_COLUMNS: tuple[str, ...] = (
    PK,
    "measure_code",
    "measure_description",
    "resident_type",
    "q1_measure_score",
    "footnote_for_q1_measure_score",
    "q2_measure_score",
    "footnote_for_q2_measure_score",
    "q3_measure_score",
    "footnote_for_q3_measure_score",
    "q4_measure_score",
    "footnote_for_q4_measure_score",
    "four_quarter_average_score",
    "footnote_for_four_quarter_average_score",
    "used_in_quality_measure_five_star_rating",
    "measure_period",
    "location",
    "processing_date",
)

#: Penalty-summary projection (nh-etl-provider-transform.py:93-102).
PENALTY_COLUMNS: tuple[str, ...] = (
    PK,
    "number_of_facility_reported_incidents",
    "number_of_substantiated_complaints",
    "number_of_citations_from_infection_control_inspections",
    "number_of_fines",
    "total_amount_of_fines_in_dollars",
    "number_of_payment_denials",
    "total_number_of_penalties",
)


def universal_cleaning(
    spark: SparkSession, zones: ZoneLayout, domains: Sequence[str] | None = None
) -> list[str]:
    """Per source-zone domain: CSV -> clean -> stamp -> staging Parquet.

    Returns the list of domains staged, in domain order. Empty domains are
    skipped (the reference's empty-folder guard, cleaning:77-79); a failing
    domain quarantines its in-flight frame to the error zone, and the first
    failure in domain order is re-raised once every domain has finished.
    """
    def clean_one(domain: str) -> str | None:
        df = None
        try:
            # Probe BEFORE the read: inference on an existing-but-empty
            # dir raises UNABLE_TO_INFER_SCHEMA and would wedge every
            # later run (round-8 IO hunt) — same missing-vs-broken
            # helper the ledger uses.
            if not data_files_exist(spark, zones.source(domain)):
                return None
            df = read_csv_untyped(spark, zones.source(domain))
            if is_empty(df):
                return None
            # Per-file recency from _metadata (file mtime IS sync time);
            # added pre-clean so normalizing headers collide loudly; an
            # exact 'synced_at' header is refused (withColumn would
            # silently replace it).
            clash = [c for c in df.columns if c.lower() == RECENCY_COL]
            if clash:
                raise ValueError(
                    f"source domain {domain!r} carries a column {clash} that "
                    f"collides with the engine's recency stamp {RECENCY_COL!r}; "
                    "rename it upstream (a CSV export re-landing its own "
                    "stamp must not silently lose the source values)"
                )
            df = df.withColumn(
                RECENCY_COL, F.col("_metadata.file_modification_time")
            )
            cleaned = with_etl_metadata(clean_table(df))
            write_parquet(cleaned, zones.staging(domain))
            return domain
        except Exception as exc:
            write_error(
                spark, df, zones.error(f"cleaning_{domain}"), f"cleaning:{domain}", exc
            )
            raise

    domains = domains or zones.list_domains("source", spark)
    return [d for d in map_concurrently(spark, clean_one, domains) if d is not None]


def provider_transform(spark: SparkSession, zones: ZoneLayout) -> dict[str, str]:
    """The multi-output provider query: one staged scan fans out to five
    dimension outputs (facility, staffing, rating, surveys, penalties) with
    two broadcast left-join enrichments. Returns {output: path}.
    """
    provider = read_parquet(spark, zones.staging("provider_info")).cache()
    outputs: dict[str, DataFrame] = {}

    # Every output carries the recency stamp (non-strict: absent on
    # pre-upgrade staging); enrich sides drop theirs so the join stays
    # unambiguous — the entity row's drop time is the one that matters.
    keep_recency = (*FACILITY_COLUMNS, RECENCY_COL)
    outputs["facility"] = select_columns(provider, keep_recency, strict=False)

    trimmed = drop_columns_if_present(provider, DEFAULT_DENORM_COLS)
    outputs["staffing"] = select_columns_matching(
        trimmed, STAFFING_KEYWORDS, always_include=(PK, RECENCY_COL)
    )
    outputs["rating"] = select_columns_matching(
        trimmed, RATING_KEYWORDS, always_include=(PK, RECENCY_COL)
    )
    # OPTIONAL enrich inputs: absence (incl. empty dirs) probed via the
    # filesystem so a present-but-broken input fails loudly instead of
    # silently dropping the enrich (a bare except swallowed real errors
    # until round 6).
    surveys = select_columns_matching(
        trimmed, SURVEY_KEYWORDS, always_include=(PK, RECENCY_COL)
    )
    survey_path = zones.staging("survey_summary")
    if data_files_exist(spark, survey_path):
        surveys = left_enrich(
            surveys,
            read_parquet(spark, survey_path),
            on=PK,
            drop_from_other=(*DEFAULT_DENORM_COLS, RECENCY_COL),
            drop_overlap=True,
        )
    outputs["surveys"] = surveys

    penalties_dim = select_columns(
        trimmed, (*PENALTY_COLUMNS, RECENCY_COL), strict=False
    )
    penalties_path = zones.staging("penalties")
    if data_files_exist(spark, penalties_path):
        penalties_dim = left_enrich(
            penalties_dim,
            read_parquet(spark, penalties_path),
            on=PK,
            drop_from_other=(*DEFAULT_DENORM_COLS, RECENCY_COL),
            drop_overlap=True,
        )
    outputs["penalties"] = penalties_dim

    def write_one(name: str) -> str:
        path, df = zones.transform(name), outputs[name]
        try:
            write_parquet(with_etl_metadata(df, order_by=[PK]), path)
        except Exception as exc:
            write_error(
                spark, df, zones.error(f"transform_{name}"), f"provider:{name}", exc
            )
            raise
        return path

    try:
        provider.count()  # materialize once, not once per concurrent write
        return dict(zip(outputs, map_concurrently(spark, write_one, outputs)))
    finally:
        # after every write finished, also on failure: a leaked cache would
        # pin executor storage memory across this stage's retries and every
        # later stage in the session
        provider.unpersist()


def quality_transform(spark: SparkSession, zones: ZoneLayout) -> dict[str, str]:
    """Quality-measures transform: projection + stamp -> transform zone."""
    df = None
    try:
        df = read_parquet(spark, zones.staging("qualitymsr_mds"))
        out = select_columns(df, (*QUALITY_COLUMNS, RECENCY_COL), strict=False)
        path = zones.transform("quality")
        write_parquet(with_etl_metadata(out, order_by=[PK, "measure_code"]), path)
        return {"quality": path}
    except Exception as exc:
        write_error(spark, df, zones.error("transform_quality"), "quality", exc)
        raise
