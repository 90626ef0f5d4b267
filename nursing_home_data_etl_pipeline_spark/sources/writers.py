"""Sink operators (SURVEY.md §2.1 S3, S4): full-refresh Parquet overwrite
per domain (``nh-etl-universal-cleaning.py:89``;
``nh-etl-provider-transform.py:62,123``) and the error-zone dump
(``nh-etl-universal-cleaning.py:95-102``). Fixes reference bug B1 (error
sink wrote the TRANSFORMED frame, or raised NameError when the read
failed — here it takes the frame explicitly and tolerates None) and drops
the no-op parquet header option (cleaning:89)."""

from __future__ import annotations

import json
import os
import traceback
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    """S3: Parquet sink. ``partition_by`` is the 100 TB lever the reference
    lacks (SURVEY.md §4.3) — partitioned layout gives downstream readers
    partition pruning; AQE coalescing keeps file counts sane. Design
    notes: docs/DESIGN.md#writers-write-parquet"""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def replace_dir(df: DataFrame, target_path: str) -> None:
    """Overwrite ``target_path`` with ``df`` when the plan READS the
    target (self-referential merge): stage, then swap via atomic Hadoop FS
    renames. On rename-less object stores this degrades to copy — front a
    table format there. Design notes: docs/DESIGN.md#writers-replace-dir"""
    spark = df.sparkSession
    staging = target_path + "__staging"
    df.write.mode("overwrite").parquet(staging)
    jvm = spark._jvm
    src = jvm.org.apache.hadoop.fs.Path(staging)
    dst = jvm.org.apache.hadoop.fs.Path(target_path)
    old = jvm.org.apache.hadoop.fs.Path(target_path + "__old")
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(old):
        if fs.exists(dst):
            # stale backup from a crash AFTER a successful swap — safe to drop
            fs.delete(old, True)
        else:
            # crash BETWEEN the two renames: __old is the only full copy and
            # df was computed against a missing target (bootstrap) — deleting
            # the backup here would replace the accumulated table with that
            # single-batch frame. Refuse; recover_dir restores service.
            raise IOError(
                f"{target_path} is missing but {target_path}__old exists — a "
                "prior swap crashed mid-rename; run recover_dir() before "
                "reading/merging so the accumulated data is not lost"
            )
    had_target = fs.exists(dst)
    if had_target and not fs.rename(dst, old):
        raise IOError(f"backup rename {target_path} -> {target_path}__old failed")
    if not fs.rename(src, dst):
        # put the previous version back before failing — the target must
        # never be the thing that's missing
        if had_target:
            fs.rename(old, dst)
        raise IOError(f"rename {staging} -> {target_path} failed")
    if had_target:
        fs.delete(old, True)


def recover_dir(spark, target_path: str) -> bool:
    """Restore a :func:`replace_dir` target from its ``__old`` backup after
    a crash between the two swap renames (target missing, backup present).
    Returns True if a restore happened. Idempotent and cheap (one exists
    probe) — callers that maintain a target across restarts run this
    before every read of it."""
    jvm = spark._jvm
    dst = jvm.org.apache.hadoop.fs.Path(target_path)
    old = jvm.org.apache.hadoop.fs.Path(target_path + "__old")
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(dst) or not fs.exists(old):
        return False
    if not fs.rename(old, dst):
        raise IOError(f"recovery rename {target_path}__old -> {target_path} failed")
    return True


def write_error(
    spark: SparkSession,
    df: DataFrame | None,
    error_path: str,
    context: str,
    exc: BaseException | None = None,
) -> None:
    """S4: quarantine the failing input frame (if any) plus a diagnostics
    sidecar; never references an unbound frame (reference bug B1), renders
    THE passed exception (format_exception(exc), not ambient format_exc()),
    and writes the sidecar via ``spark``'s Hadoop FS so it lands next to the
    parquet on ANY scheme. Design notes: docs/DESIGN.md#writers-write-error"""
    diag = {
        "context": context,
        "error": repr(exc) if exc else None,
        "traceback": "".join(traceback.format_exception(exc)) if exc else None,
    }

    def put_diagnostics() -> None:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(error_path, "_diagnostics.json")
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(json.dumps(diag, indent=2), "utf-8"))
        finally:
            out.close()

    put_diagnostics()
    if df is not None:
        try:
            df.write.mode("overwrite").parquet(os.path.join(error_path, "data"))
        except Exception as exc2:
            # The frame itself may be the unreadable thing — swallowing is
            # right (the error sink must not mask the ORIGINAL failure),
            # but a doubly-failed dump must not be silent: rewrite the
            # sidecar carrying the secondary failure too.
            diag["quarantine_error"] = repr(exc2)
            diag["quarantine_traceback"] = "".join(traceback.format_exception(exc2))
            put_diagnostics()

