"""Five-zone (medallion) layout: the reference's five S3 buckets —
source/staging/transform/processed/error
(cloudformation/00_glue-iam-buckets.yml:13-36) — kept as a path
convention ``{root}/{zone}/{domain}/`` over any Hadoop-compatible
filesystem; nothing here is S3-specific."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession

#: The reference's five buckets plus a ``warehouse`` zone — the engine
#: replaces the out-of-Spark Snowflake star schema (reference README.md
#: :183-282) with merged Parquet dims, so the warehouse becomes a sixth
#: path zone instead of an external system.
ZONES = ("source", "staging", "transform", "processed", "error", "warehouse")


@dataclass(frozen=True)
class ZoneLayout:
    """Path layout for one deployment root."""

    root: str
    zones: tuple[str, ...] = field(default=ZONES)

    def path(self, zone: str, domain: str | None = None) -> str:
        if zone not in self.zones:
            raise ValueError(f"unknown zone {zone!r}; expected one of {self.zones}")
        return f"{self.root}/{zone}/{domain}" if domain else f"{self.root}/{zone}"

    # Zone shorthands -----------------------------------------------------
    def source(self, domain: str | None = None) -> str:
        return self.path("source", domain)

    def staging(self, domain: str | None = None) -> str:
        return self.path("staging", domain)

    def transform(self, domain: str | None = None) -> str:
        return self.path("transform", domain)

    def processed(self, domain: str | None = None) -> str:
        return self.path("processed", domain)

    def error(self, domain: str | None = None) -> str:
        return self.path("error", domain)

    def warehouse(self, domain: str | None = None) -> str:
        return self.path("warehouse", domain)

    def list_domains(self, zone: str, spark: SparkSession) -> list[str]:
        """Enumerate immediate child domains of a zone. Design notes:
        docs/DESIGN.md#zones-list-domains"""
        jvm = spark._jvm
        base = jvm.org.apache.hadoop.fs.Path(self.path(zone))
        fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(base):
            return []
        return sorted(
            s.getPath().getName() for s in fs.listStatus(base) if s.isDirectory()
        )

    def ensure(self, spark: SparkSession) -> None:
        """Create every zone directory through the Hadoop FS API (same
        scheme rule as :meth:`list_domains`)."""
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        for z in self.zones:
            p = jvm.org.apache.hadoop.fs.Path(self.path(z))
            p.getFileSystem(conf).mkdirs(p)
