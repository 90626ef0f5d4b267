"""Streaming upsert sink: ``foreachBatch`` hands each micro-batch to the
SAME :func:`operators.joins.merge_scd1` the batch pipeline uses — a
continuously-maintained SCD1 dim with the file source's exactly-once
ledger, one merge implementation for both paths."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from pyspark.sql import functions as F

from ..operators.joins import latest_per_key, merge_scd1
from ..sources.readers import path_exists, read_parquet
from ..sources.writers import recover_dir, replace_dir


def start_upsert_sink(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    order_col: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Merge every micro-batch into the Parquet dim at ``target_path``.
    Design notes: docs/DESIGN.md#upsert-start-upsert-sink"""
    spark = stream.sparkSession

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        # Unique-per-key merge input (see docstring for both modes)
        source = latest_per_key(batch, keys, order_col)
        # A crashed prior swap can leave the dim parked at __old with the
        # target missing; restore it BEFORE the bootstrap probe, or this
        # batch would re-bootstrap over the accumulated dim.
        recover_dir(spark, target_path)
        # Bootstrap ONLY when the target verifiably does not exist — a
        # broad except would treat a transient merge error as "first
        # batch" and wipe the dim (ADVICE r1).
        if path_exists(spark, target_path):
            target = read_parquet(spark, target_path)
            if order_col:
                # max(order_col) wins across target AND source; on a tie
                # the SOURCE row wins, matching the no-version path —
                # docs/DESIGN.md#upsert-start-upsert-sink.
                result = latest_per_key(
                    target.withColumn("_prio", F.lit(0)).unionByName(
                        source.select(*target.columns).withColumn(
                            "_prio", F.lit(1)
                        )
                    ),
                    keys,
                    order_col,
                    prefer_col="_prio",
                ).drop("_prio")
            else:
                result = merge_scd1(target, source.select(*target.columns), keys)
        else:
            result = source  # first batch bootstraps the dim
        replace_dir(result, target_path)

    w = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()

