"""Table maintenance: TTL, OPTIMIZE, mutations (SURVEY §2.11).

Reference semantics:

- TTL expression per table drops expired rows during merges
  (src/Storages/TTLDescription.h:37, TTLBlockInputStream.cpp);
- ``OPTIMIZE TABLE [FINAL]`` forces a merge — compacts parts and applies
  engine merge semantics (src/Interpreters/InterpreterOptimizeQuery.cpp);
- mutations ``ALTER TABLE ... DELETE / UPDATE`` rewrite affected parts
  asynchronously (src/Interpreters/MutationsInterpreter.cpp).

Spark-first: a table is a directory of immutable parquet partitions, so
all three are REWRITES — read, transform, write back.  Each operates
partition-directory-at-a-time where possible (TTL on a time-partitioned
table prunes whole partitions without reading them — the exact analog of
the reference dropping whole parts past TTL).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from daisy_spark.catalog import read_parquet, recording_write
from daisy_spark.streaming import PARTITION_COL


@dataclass
class MaintenanceResult:
    rows_before: int
    rows_after: int
    partitions_dropped: int = 0


def _atomic_rewrite(spark: SparkSession, path: str, df: DataFrame) -> int:
    """Rewrite a parquet table directory via a staging dir + swap; returns
    the rows written, from an ``Observation`` at the root of the write
    (so a caller needs no count of the rewritten table).

    Spark cannot overwrite a path it is reading; staging keeps the table
    readable until the swap and makes a crashed rewrite recoverable (the
    original is intact until the final rename).  The ingest partitioning
    column, when present, is preserved as directory partitioning.  The
    swap is recorded with the session's schema resolver, so the next read
    of ``path`` reuses its schema when the column types did not change."""
    staging = path.rstrip("/") + ".__rewrite__"
    backup = path.rstrip("/") + ".__old__"
    written = Observation()
    writer = df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    )
    parts = ()
    if PARTITION_COL in df.columns:
        writer = writer.partitionBy(PARTITION_COL)
        parts = (PARTITION_COL,)
    with recording_write(spark, path, df.schema, parts):
        writer.parquet(staging)
        os.rename(path, backup)
        os.rename(staging, path)
    shutil.rmtree(backup)
    return written.get["rows"]


#: ``_part`` digit count -> (format, period length) of the granularities
#: in streaming.GRANULARITY_EXPRS; a month (None) has no fixed length
_PART_PERIODS = {
    6: ("%Y%m", None),
    8: ("%Y%m%d", dt.timedelta(days=1)),
    10: ("%Y%m%d%H", dt.timedelta(hours=1)),
    12: ("%Y%m%d%H%M", dt.timedelta(minutes=1)),
}


def _partition_end(value: str) -> dt.datetime | None:
    """End (exclusive, session wall clock) of the period a ``_part``
    value covers; None for a value no granularity writes (e.g. the null
    partition)."""
    fmt, step = _PART_PERIODS.get(len(value), (None, None))
    if fmt is None or not value.isdigit():
        return None
    try:
        start = dt.datetime.strptime(value, fmt)
    except ValueError:
        return None
    if step is None:
        return start.replace(
            year=start.year + start.month // 12, month=start.month % 12 + 1
        )
    return start + step


def apply_ttl(
    spark: SparkSession,
    path: str,
    time_col: str,
    older_than: str,
) -> MaintenanceResult:
    """Drop rows whose ``time_col`` is older than the cutoff.

    When the table is partitioned on the ingest granularity column
    (streaming.PARTITION_COL, any of M/D/H/m), a partition DIRECTORY
    whose whole period ends on or before the cutoff is deleted without
    reading a row — the scan+rewrite fallback only runs for the
    partition the cutoff falls in.  One aggregate over what is left
    counts its rows and its expired rows; a rewrite reports the rows it
    wrote.
    """
    df = read_parquet(spark, path)
    cutoff = F.lit(older_than).cast("timestamp")
    # the cutoff on the wall clock the partition values were formatted in
    # (the session time zone), truncated to the second; a foldable column
    # beside the count, so Spark's cast stays the one reader of the string
    before, wall = df.agg(
        F.count(F.lit(1)), F.date_format(cutoff, "yyyyMMddHHmmss")
    ).first()

    dropped_dirs = 0
    if PARTITION_COL in df.columns:
        if wall is None:
            raise ValueError(f"not a timestamp: {older_than!r}")
        cutoff_wall = dt.datetime.strptime(wall, "%Y%m%d%H%M%S")
        kept = 0
        for entry in list(os.listdir(path)):
            if entry.startswith(f"{PARTITION_COL}="):
                end = _partition_end(entry.split("=", 1)[1])
                if end is not None and end <= cutoff_wall:
                    shutil.rmtree(os.path.join(path, entry))
                    dropped_dirs += 1
                else:
                    kept += 1
        if not kept:
            return MaintenanceResult(before, 0, dropped_dirs)
        df = read_parquet(spark, path)

    after, expired = df.agg(
        F.count(F.lit(1)), F.count_if(F.col(time_col) < cutoff)
    ).first()
    if expired:
        after = _atomic_rewrite(spark, path, df.filter(F.col(time_col) >= cutoff))
    return MaintenanceResult(before, after, dropped_dirs)


def mutate_delete(
    spark: SparkSession, path: str, predicate: Column
) -> MaintenanceResult:
    """ALTER TABLE ... DELETE WHERE predicate — rewrite without matches."""
    df = read_parquet(spark, path)
    before = df.count()
    after = _atomic_rewrite(spark, path, df.filter(~predicate))
    return MaintenanceResult(before, after)


def mutate_update(
    spark: SparkSession,
    path: str,
    assignments: dict[str, Column],
    predicate: Column,
) -> MaintenanceResult:
    """ALTER TABLE ... UPDATE col = expr WHERE predicate — conditional
    rewrite of the assigned columns."""
    df = read_parquet(spark, path)
    before = df.count()
    out = df
    for col, expr in assignments.items():
        out = out.withColumn(col, F.when(predicate, expr).otherwise(F.col(col)))
    _atomic_rewrite(spark, path, out)
    return MaintenanceResult(before, before)


def optimize(
    spark: SparkSession,
    path: str,
    target_partitions: int | None = None,
    final_spec=None,
) -> MaintenanceResult:
    """OPTIMIZE TABLE [FINAL]: compact small files (coalesce to
    ``target_partitions``, default = max(1, bytes/128MB)) and, with a
    TableSpec, apply engine merge semantics so reads no longer need
    FINAL."""
    df = read_parquet(spark, path)
    before = df.count()
    if final_spec is not None:
        from daisy_spark.operators.final import read_final

        df = read_final(df, final_spec)
    if target_partitions is None:
        total_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
        )
        target_partitions = max(1, total_bytes // (128 << 20))
    after = _atomic_rewrite(spark, path, df.coalesce(int(target_partitions)))
    return MaintenanceResult(before, after)
