"""Ingest: batch + Structured Streaming with idempotent-key dedup.

The reference is a "streaming warehouse": rows arrive via REST/Kafka, get
a ``_time`` column defaulted to now (rawstore schema —
src/Server/RestRouterHandlers/RawstoreTableRestRouterHandler.cpp:87-92),
land in granularity-partitioned storage (partition exprs ``toYYYYMMDD
(_time)`` etc — TableRestRouterHandler.cpp:55-58), and are committed
idempotently: each block carries an idempotent key and replays of
already-seen keys are dropped (StorageDistributedMergeTree.cpp:1080-1196,
buildIdempotentKeysIndex).

Spark-first mapping:

- batch ingest      = DataFrame -> partitioned parquet append, with an
                      anti-join against already-ingested ``_idem`` keys
                      (exactly-once on replay, the reference's contract),
                      in two Spark actions: a count per partition (the
                      partitions to read keys from, and rows in) and the
                      write, whose rows appended come from an
                      ``Observation`` of the written plan, as Structured
                      Streaming reports what a write did from the
                      execution itself;
- streaming ingest  = readStream -> withWatermark + dropDuplicates on the
                      idempotent key (Spark's state store plays the role
                      of the reference's in-memory key index, with the
                      watermark as its ``max_idempotent_ids`` retention
                      analog) -> foreachBatch partitioned append with
                      checkpointing (restart-safe offsets).

Partition columns follow the reference granularities: M/D/H/m.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from daisy_spark.catalog import read_parquet, recording_write

#: reference granularity -> partition column expression over _time
#: (TableRestRouterHandler.cpp:55-58); thunks because building a Column
#: requires an active SparkSession
GRANULARITY_EXPRS = {
    "M": lambda: F.date_format("_time", "yyyyMM").cast("int"),
    "D": lambda: F.date_format("_time", "yyyyMMdd").cast("int"),
    "H": lambda: F.date_format("_time", "yyyyMMddHH"),
    "m": lambda: F.date_format("_time", "yyyyMMddHHmm"),
}

IDEM_COL = "_idem"
TIME_COL = "_time"
PARTITION_COL = "_part"


def with_ingest_columns(
    df: DataFrame,
    time_col: str | None = None,
    idem_col: str | None = None,
    granularity: str = "D",
) -> DataFrame:
    """Attach the ingest conventions: ``_time`` (defaulted to
    current_timestamp when absent, like the rawstore DEFAULT now64(3)),
    ``_idem`` (defaulted to a content hash when absent), and the
    granularity partition column.

    The content hash covers only the caller's columns: a defaulted
    ``_time`` differs on every call, so hashing it would give a replayed
    row a new key and break exactly-once."""
    if granularity not in GRANULARITY_EXPRS:
        raise ValueError(f"granularity must be one of M/D/H/m, got {granularity!r}")
    content = df.columns
    if time_col and time_col != TIME_COL:
        df = df.withColumn(TIME_COL, F.col(time_col).cast("timestamp"))
    elif TIME_COL not in df.columns:
        df = df.withColumn(TIME_COL, F.current_timestamp())
    if idem_col and idem_col != IDEM_COL:
        df = df.withColumn(IDEM_COL, F.col(idem_col).cast("string"))
    elif IDEM_COL not in df.columns:
        df = df.withColumn(
            IDEM_COL, F.sha2(F.to_json(F.struct(*content)), 256)
        )
    return df.withColumn(PARTITION_COL, GRANULARITY_EXPRS[granularity]())


@dataclass
class IngestResult:
    appended: int
    deduped: int
    #: the sorted ``_part`` values the batch touched, replays included
    partitions: list


def partition_counts(staged: DataFrame) -> DataFrame:
    """Rows per ``_part`` of a staged batch: the first of an ingest's two
    actions.  Only ``_part`` is read, so Catalyst prunes what the key
    needs (the rawstore occurrence-number window) out of this plan."""
    return staged.groupBy(PARTITION_COL).count()


def ingest_batch(
    df: DataFrame,
    path: str,
    time_col: str | None = None,
    idem_col: str | None = None,
    granularity: str = "D",
) -> IngestResult:
    """Exactly-once batch append: drop rows whose ``_idem`` key is already
    present in the sink (replay-safe, the reference's idempotent-commit
    contract), dedup within the batch, then append partitioned parquet.

    Two Spark actions:

    - a count per ``_part`` (:func:`partition_counts`) gives the
      partitions the batch touches, which prune the existing-key read,
      and rows in, their sum;
    - the write: in-batch dedup, an anti-join on the key against the
      existing keys of those partitions (no full-sink scan), and the
      partitioned append.  An ``Observation`` at the root of the written
      plan counts the rows appended.  It must stay at the root: one below
      an exchange is lost when AQE cuts out an empty branch (a full
      replay), and ``Observation.get`` then fails.

    Every append writes its columns in the staged order, and the append
    is recorded with the session's schema resolver, so the searches that
    follow an ingest read the sink without a schema-inference job.
    """
    spark = df.sparkSession
    staged = with_ingest_columns(df, time_col, idem_col, granularity)
    counts = partition_counts(staged).collect()
    # a null _time gives a null partition: sort it last
    parts = sorted((r[0] for r in counts), key=lambda p: (p is None, p))
    out = staged.dropDuplicates([IDEM_COL])
    if os.path.exists(path):
        existing = (
            read_parquet(spark, path)
            .filter(F.col(PARTITION_COL).isin(parts))
            .select(IDEM_COL)
        )
        # the join moves its key to the front: select the staged order
        # back, or each append after the first writes a different order
        out = out.join(existing, on=IDEM_COL, how="left_anti").select(
            *staged.columns
        )
    written = Observation()
    out = out.observe(written, F.count(F.lit(1)).alias("rows"))
    with recording_write(spark, path, staged.schema, (PARTITION_COL,)):
        out.write.mode("append").partitionBy(PARTITION_COL).parquet(path)
    appended = written.get["rows"]
    rows_in = sum(r[1] for r in counts)
    return IngestResult(
        appended=appended, deduped=rows_in - appended, partitions=parts
    )


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, path)


# ---------------------------------------------------------------------------
# Rawstore — Splunk-like raw event tables
# ---------------------------------------------------------------------------

#: fixed rawstore schema (RawstoreTableRestRouterHandler.cpp:87-92):
#: _raw + event/index times + source coordinates
RAWSTORE_COLUMNS = ["_raw", "_time", "_index_time", "sourcetype", "source", "host"]


def to_rawstore(
    lines: DataFrame,
    raw_col: str = "value",
    time_col: str | None = None,
    sourcetype: str = "generic_single_line",
    source: str = "",
    host: str = "",
) -> DataFrame:
    """Shape arbitrary line data into the rawstore schema: ``_raw`` is
    the untouched event text, ``_time`` the event time (defaulted to
    ingest time, like the rawstore column DEFAULT now64(3)),
    ``_index_time`` always ingest time.  An ``_idem`` column of
    ``lines`` is carried through."""
    out = lines.withColumn("_raw", F.col(raw_col).cast("string"))
    if time_col and time_col in lines.columns:
        out = out.withColumn(TIME_COL, F.col(time_col).cast("timestamp"))
    else:
        out = out.withColumn(TIME_COL, F.current_timestamp())
    return out.select(
        "_raw",
        TIME_COL,
        F.current_timestamp().alias("_index_time"),
        F.lit(sourcetype).alias("sourcetype"),
        F.lit(source).alias("source"),
        F.lit(host).alias("host"),
        *([IDEM_COL] if IDEM_COL in lines.columns else []),
    )


def ingest_rawstore(
    lines: DataFrame,
    path: str,
    raw_col: str = "value",
    time_col: str | None = None,
    granularity: str = "D",
    idem_col: str | None = None,
    **source_coords,
) -> IngestResult:
    """Rawstore ingest = shape to the fixed schema + the standard
    idempotent partitioned append (:func:`ingest_batch`, whose two
    actions give the counts).

    The idempotent key is the caller's ``idem_col`` when given, as the
    reference takes one from the client per block
    (StorageDistributedMergeTree.cpp:1080-1196).  Without one it hashes
    ``_raw``, the caller's event time when ``time_col`` is given, and the
    line's occurrence number among equal lines in the batch: identical
    lines in one batch are separate events and all land, and a replay of
    the batch appends nothing.  A defaulted ``_time`` and ``_index_time``
    are not hashed, because both are the ingest time and differ on every
    replay; the source coordinates are not either, so a replay through
    another source or host is still a replay.

    Limits of the content key: an equal line sent again in a later batch
    counts as a replay, and the existing-key check reads only the
    partitions the batch touches, so a replay whose defaulted ``_time``
    lands in a later partition than the first send (past midnight for
    ``D``) is appended again.  A caller key avoids the first.

    The occurrence-number window runs once, in the write: the count per
    partition reads only ``_part``, and Catalyst prunes the window out of
    that plan."""
    if idem_col:
        lines = lines.withColumn(IDEM_COL, F.col(idem_col).cast("string"))
    shaped = to_rawstore(lines, raw_col, time_col, **source_coords)
    if not idem_col:
        event_time = time_col and time_col in lines.columns
        content = ["_raw"] + ([TIME_COL] if event_time else [])
        nth = F.row_number().over(Window.partitionBy(*content).orderBy("_raw"))
        key = F.struct(*content, nth.alias("n"))
        shaped = shaped.withColumn(IDEM_COL, F.sha2(F.to_json(key), 256))
    return ingest_batch(shaped, path, granularity=granularity)


def search_rawstore(
    spark: SparkSession,
    path: str,
    pattern: str | None = None,
    start_time=None,
    end_time=None,
) -> DataFrame:
    """Time-bounded regex search over a rawstore — the REST search
    contract (`_time` predicate injection, AddTimeParamVisitor.cpp:84-119)
    applied to raw events. The ``_part`` partition filter prunes files
    before the ``_raw`` scan."""
    df = read_parquet(spark, path)
    if start_time is not None:
        df = df.filter(F.col(TIME_COL) >= F.lit(start_time).cast("timestamp"))
    if end_time is not None:
        df = df.filter(F.col(TIME_COL) < F.lit(end_time).cast("timestamp"))
    if pattern:
        df = df.filter(F.col("_raw").rlike(pattern))
    return df.select(*RAWSTORE_COLUMNS)


def ingest_stream(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    time_col: str | None = None,
    idem_col: str | None = None,
    granularity: str = "D",
    watermark: str = "1 hour",
    trigger_once: bool = False,
):
    """Structured Streaming ingest with idempotent-key dedup.

    ``withWatermark(_time) + dropDuplicates(_idem)`` keeps the key index
    bounded (state older than the watermark ages out — the Spark analog of
    the reference's max_idempotent_ids ring); ``foreachBatch`` appends
    partitioned parquet; the checkpoint makes source offsets + dedup state
    restart-safe.  Returns the StreamingQuery.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.write.mode("append").partitionBy(PARTITION_COL).parquet(path)

    staged = with_ingest_columns(stream_df, time_col, idem_col, granularity)
    staged = staged.withWatermark(TIME_COL, watermark).dropDuplicates([IDEM_COL])
    writer = (
        staged.writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(write_batch)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def live_view(
    spark: SparkSession,
    path: str,
    schema: str,
    query_fn,
    name: str,
    trigger_seconds: float | None = None,
):
    """LiveView / WATCH (reference: src/Storages/LiveView/StorageLiveView —
    a continuously refreshed materialized query; WATCH streams its
    updates).

    Spark-first: a Structured Streaming query over the table directory
    (new parquet files picked up incrementally), re-aggregated in
    complete mode into an in-memory sink; ``SELECT * FROM <name>`` always
    reads the freshest result — the LiveView contract.  Returns the
    StreamingQuery (``.processAllAvailable()`` = synchronous WATCH tick;
    ``.stop()`` = DROP VIEW).
    """
    src = spark.readStream.schema(schema).parquet(path)
    out = query_fn(src)
    writer = (
        out.writeStream.outputMode("complete").format("memory").queryName(name)
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def json_lines_source(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int = 10,
) -> DataFrame:
    """File-based JSONEachRow streaming source (the reference's most
    common ingest format — src/Formats/registerFormats.cpp JSONEachRow).
    On a real deployment the same pipeline reads ``spark.readStream
    .format('kafka')`` + ``from_json``; file source keeps tests hermetic.
    """
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )
