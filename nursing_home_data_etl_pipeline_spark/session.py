"""SparkSession factory, scale-aware defaults. The reference delegates
tuning to Glue 3.0 defaults (cloudformation/03_glue-jobs.yml:31-37); here
we own the session: AQE (runtime coalescing + skew-join splitting), UTC
session timezone (deterministic timestamps; required against UTC-naive
oracles), Arrow for any Python<->JVM exchange. Local runs use local[N];
on a cluster only the master/memory lines change."""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from contextvars import ContextVar, copy_context

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "nursing_home_data_etl_pipeline_spark"

#: The running pipeline stage's ``{item: wall seconds}`` (pipeline.run_stage).
ITEM_S: ContextVar[dict | None] = ContextVar("item_s", default=None)


def default_parallelism() -> int:
    """Shuffle-partition default: match local cores (not Spark's 200).

    On a 1000-executor cluster you'd instead size shuffle partitions to
    ~2-3x total cores or rely on AQE coalescing from a high initial count;
    AQE is enabled so the initial number mostly sets an upper bound.
    """
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def map_concurrently(spark: SparkSession, fn: Callable, items: Iterable) -> list:
    """Run ``fn(item)`` on one thread per item over ONE session, wait for
    every branch, and return the results in item order; if any branch
    failed, raise the first failure in item order. Each branch inherits the
    caller's job group (so a stage timeout cancels its jobs) and ITEM_S.
    Design notes: docs/DESIGN.md#pipeline-module"""
    item_s, items = ITEM_S.get(), list(items)

    def timed(item):
        t0 = time.time()
        try:
            return fn(item)
        finally:
            if item_s is not None:
                item_s[getattr(item, "__name__", str(item))] = round(time.time() - t0, 3)

    branch = inheritable_thread_target(spark)(timed)
    with ThreadPoolExecutor(max_workers=max(len(items), 1)) as pool:
        futures = [pool.submit(copy_context().run, branch, i) for i in items]
    return [f.result() for f in futures]
