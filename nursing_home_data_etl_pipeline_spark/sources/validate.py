"""Validation gate (SURVEY.md §2.4 A2, §5): the reference checks all four
staging prefixes non-empty (``validate_staging.py:15-47``) but its error
RETURN never failed the Step Function (§3.1 step 5 — only thrown errors
trigger Catch); :func:`require_staged` RAISES instead, making driver
control flow the gate."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from ..session import map_concurrently
from ..zones import ZoneLayout

#: The reference's required staging inputs
#: (cloudformation/01_lambda-s3-move-cleaned.yml:176).
DEFAULT_REQUIRED_DOMAINS = (
    "provider_info",
    "penalties",
    "survey_summary",
    "qualitymsr_mds",
)


class ValidationError(RuntimeError):
    pass


@dataclass(frozen=True)
class DomainStatus:
    domain: str
    exists: bool
    non_empty: bool


def staging_status(
    spark: SparkSession, zones: ZoneLayout, domains: tuple[str, ...]
) -> list[DomainStatus]:
    from .readers import data_files_exist

    def status(d: str) -> DomainStatus:
        path = zones.staging(d)
        # Absence is a filesystem probe; a dir that HAS data files but
        # cannot be read raises instead of masquerading as "not staged" —
        # report the real failure, not a missing-domain message.
        if not data_files_exist(spark, path):
            return DomainStatus(d, False, False)
        # LIMIT-1 existence probe — never a full count at scale.
        return DomainStatus(d, True, not spark.read.parquet(path).isEmpty())

    return map_concurrently(spark, status, domains)


def require_staged(
    spark: SparkSession,
    zones: ZoneLayout,
    domains: tuple[str, ...] = DEFAULT_REQUIRED_DOMAINS,
) -> list[DomainStatus]:
    """Raise ValidationError unless every required domain is staged and
    non-empty; returns the per-domain status for the run log."""
    statuses = staging_status(spark, zones, domains)
    bad = [s.domain for s in statuses if not s.non_empty]
    if bad:
        raise ValidationError(f"staging validation failed for domains: {bad}")
    return statuses
