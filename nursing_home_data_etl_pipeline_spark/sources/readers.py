"""Scan operators (SURVEY.md §2.1 S1, S2, S10).

Reference reads: header CSV with no schema inference — every column string
(``nh-etl-universal-cleaning.py:75``) — and staged Parquet
(``nh-etl-provider-transform.py:27,84,104``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv_untyped(spark: SparkSession, path: str) -> DataFrame:
    """S1: folder of CSVs -> one DataFrame, first row = header, all columns
    StringType. Deliberately no ``inferSchema`` — matching the reference's
    dynamic/positional-by-header data model AND avoiding the extra full pass
    over the data that inference costs at scale.
    """
    return spark.read.option("header", True).csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2/S10: columnar scan with predicate pushdown + column pruning."""
    return spark.read.parquet(path)


#: Per-process schema memo for read_table: every bare read.parquet runs a
#: footer-inference JOB on the driver (~50-100 ms), and one bench pass
#: issues ~100 such reads over the same ten immutable tables. Keyed by
#: (application, path, path mtime) so a rewritten path can never serve a
#: stale schema; metadata only — never rows — so every query still
#: computes from the parquet inputs (round 15, guide §6 listing/metadata
#: reuse).
_SCHEMA_MEMO: dict = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str):
    """Memoized footer-inferred schema of one test table (metadata only;
    see _SCHEMA_MEMO). Shared by read_table and the streaming ts probe."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (spark.sparkContext.applicationId, path, os.path.getmtime(path))
    except OSError:
        key = None
    schema = _SCHEMA_MEMO.get(key) if key else None
    if schema is None:
        schema = spark.read.parquet(path).schema
        if key:
            _SCHEMA_MEMO[key] = schema
    return schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Convenience scan for the driver test tables (TESTDATA.md). Design
    notes: docs/DESIGN.md#readers-read-table"""
    if name == "events":
        pin_events_time_confs(spark)
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        return normalize_events_ts(df, dict(df.dtypes).get("ts"))
    return df


def pin_events_time_confs(spark: SparkSession) -> None:
    """The two session confs the events encoding depends on. NTZ -> LTZ
    interprets the wall clock in the session timezone; pin it to UTC
    UNCONDITIONALLY (session.py already does at build time; re-pinning
    keeps any read order-independent for sessions built without that pin)
    so epoch math is deterministic regardless of the host default. Design
    notes: docs/DESIGN.md#readers-pin-events-time-confs"""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_events_ts(df: DataFrame, ts_type: str | None) -> DataFrame:
    """Normalize the probed on-disk ``ts`` encoding (bigint nanos /
    TIMESTAMP_NTZ / plain timestamp) to one canonical TimestampType (LTZ)
    column — the batch/stream-shared half of the contract above."""
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — works for any
    scheme the session can read (local, HDFS, object stores). Used to make
    bootstrap-vs-merge decisions explicit instead of inferring 'first run'
    from a read failure (which silently converts transient errors into
    data loss — ADVICE round 1)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def data_files_exist(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists AND holds at least one non-hidden data file
    (names starting with ``_`` or ``.`` — _SUCCESS, _temporary — don't
    count). The 'missing' side of a missing-vs-broken decision: a directory
    created but never committed (interrupted write) is MISSING, not broken;
    a dir with data files that then fails to read is BROKEN and should
    raise. One FileSystem listing, no Spark job."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def path_is_dir(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and is a directory — through the Hadoop FS
    API, so any readable scheme answers (driver-local os.path.isdir would
    be wrong on hdfs://, s3a://)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath)) and bool(fs.getFileStatus(jpath).isDirectory())


def is_empty(df: DataFrame) -> bool:
    """A1: emptiness guard. The reference uses ``df.rdd.isEmpty()``
    (nh-etl-universal-cleaning.py:77) which forces RDD conversion and kills
    the vectorized parquet fast path; ``df.isEmpty()`` plans a LIMIT 1.
    """
    return df.isEmpty()

