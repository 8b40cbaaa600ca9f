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

- batch ingest      = DataFrame -> partitioned parquet append, exactly
                      once on replay (the reference's contract), in two
                      flat Spark queries (:func:`_append`): an observed
                      scan of ``_part`` into the noop sink gives rows in
                      and the partitions touched, and the write dedups
                      the batch on ``_idem`` and anti-joins it against
                      the existing keys of those partitions.  An
                      ``Observation`` at the root of the written plan
                      gives the rows appended, as Structured Streaming
                      reports what a write did from the execution itself;
- streaming ingest  = readStream -> withWatermark +
                      dropDuplicatesWithinWatermark on the idempotent key
                      (Spark's state store plays the reference's
                      in-memory key index; it holds a key for the
                      watermark delay, the analog of its
                      ``max_idempotent_ids`` retention) -> foreachBatch
                      through the batch append, whose anti-join against
                      the sink drops later replays and a re-run
                      micro-batch; checkpointing makes offsets
                      restart-safe.

Partition columns follow the reference granularities: M/D/H/m.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from daisy_spark.catalog import read_parquet, recording_write

#: reference granularity -> partition column expression over the
#: ``_time`` column (TableRestRouterHandler.cpp:55-58)
GRANULARITY_EXPRS = {
    "M": lambda t: F.date_format(t, "yyyyMM").cast("int"),
    "D": lambda t: F.date_format(t, "yyyyMMdd").cast("int"),
    "H": lambda t: F.date_format(t, "yyyyMMddHH"),
    "m": lambda t: F.date_format(t, "yyyyMMddHHmm"),
}

IDEM_COL = "_idem"
TIME_COL = "_time"
PARTITION_COL = "_part"


def _clock() -> dt.datetime:
    """The engine's clock: a batch ingest reads it once per call for a
    defaulted ``_time`` and ``_index_time``, so both of the call's
    queries see one instant (``current_timestamp()`` would be taken
    again by each query, and a call across a period boundary would count
    one partition and write another)."""
    return dt.datetime.now(dt.timezone.utc)


def _ingest_time(now: dt.datetime | None) -> Column:
    # a stream has no call-wide instant: Spark fixes current_timestamp()
    # per micro-batch
    return F.current_timestamp() if now is None else F.lit(now)


def _partition_expr(granularity: str, time: Column) -> Column:
    if granularity not in GRANULARITY_EXPRS:
        raise ValueError(f"granularity must be one of M/D/H/m, got {granularity!r}")
    return GRANULARITY_EXPRS[granularity](time)


def with_ingest_columns(
    df: DataFrame,
    time_col: str | None = None,
    idem_col: str | None = None,
    granularity: str = "D",
    now: dt.datetime | None = None,
) -> DataFrame:
    """Attach the ingest conventions in one projection: ``_time``
    (defaulted to ``now``, or ``current_timestamp()`` when None, like the
    rawstore DEFAULT now64(3)), ``_idem`` (defaulted to a content hash
    when absent), and the granularity partition column.

    The content hash covers only the caller's columns: a defaulted
    ``_time`` differs on every call, so hashing it would give a replayed
    row a new key and break exactly-once."""
    new = {}
    if time_col and time_col != TIME_COL:
        new[TIME_COL] = F.col(time_col).cast("timestamp")
    elif TIME_COL not in df.columns:
        new[TIME_COL] = _ingest_time(now)
    if idem_col and idem_col != IDEM_COL:
        new[IDEM_COL] = F.col(idem_col).cast("string")
    elif IDEM_COL not in df.columns:
        content = (new[c].alias(c) if c in new else c for c in df.columns)
        new[IDEM_COL] = F.sha2(F.to_json(F.struct(*content)), 256)
    new[PARTITION_COL] = _partition_expr(
        granularity, new.get(TIME_COL, F.col(TIME_COL))
    )
    return df.withColumns(new)


@dataclass
class IngestResult:
    appended: int
    deduped: int
    #: the sorted ``_part`` values the batch touched, replays included
    partitions: list


def partition_counts(staged: DataFrame, seen: Observation) -> DataFrame:
    """The first of an ingest's two queries: ``_part`` of a staged batch,
    observed into ``seen`` as ``rows`` (rows in), ``dated`` (rows with a
    partition) and ``parts`` (the partitions), for the noop sink.  A
    scan with no exchange, one Spark job; only ``_part`` is read, so
    Catalyst prunes what the key needs (the rawstore occurrence-number
    window) out of this plan."""
    return staged.select(PARTITION_COL).observe(
        seen,
        F.count(F.lit(1)).alias("rows"),
        F.count(PARTITION_COL).alias("dated"),
        F.collect_set(PARTITION_COL).alias("parts"),
    )


def _in_partitions(parts: list) -> Column:
    known = F.col(PARTITION_COL).isin([p for p in parts if p is not None])
    # IN never matches a null: the null partition needs its own test
    return known | F.col(PARTITION_COL).isNull() if None in parts else known


def _append(staged: DataFrame, path: str, dedup: bool = True) -> IngestResult:
    """Exactly-once partitioned append of a staged batch (one carrying
    ``_time``, ``_idem`` and ``_part``): the one append path of batch,
    rawstore and streaming ingest.  Two Spark queries:

    - the count (:func:`partition_counts`) gives rows in and the
      partitions the batch touches, which prune the existing-key read;
      an empty batch stops here;
    - the write: in-batch dedup on ``_idem`` (skipped with ``dedup=False``
      for a batch whose keys are unique by construction), an anti-join
      against the existing keys of those partitions (no full-sink scan),
      and the partitioned append.  An ``Observation`` at the root of the
      written plan counts the rows appended.  It must stay at the root:
      one below an exchange is lost when AQE cuts out an empty branch (a
      full replay), and ``Observation.get`` then fails.

    The columns are written in the staged order, and the append is
    recorded with the session's schema resolver, so the searches and
    ingests that follow read the sink without a schema-inference job."""
    seen = Observation()
    partition_counts(staged, seen).write.format("noop").mode("overwrite").save()
    stats = seen.get
    rows_in = stats["rows"]
    parts = sorted(stats["parts"])
    if stats["dated"] < rows_in:
        parts.append(None)  # a null _time gives a null partition: last
    if not rows_in:
        return IngestResult(appended=0, deduped=0, partitions=parts)
    spark = staged.sparkSession
    out = staged.dropDuplicates([IDEM_COL]) if dedup else staged
    if os.path.exists(path):
        existing = (
            read_parquet(spark, path).filter(_in_partitions(parts)).select(IDEM_COL)
        )
        if dedup:
            # a shuffled hash join, where Spark would broadcast the small
            # key set and push the anti-join below the dedup aggregate, so
            # that the batch's map stage waits for the broadcast.  Hinted,
            # the join stays above the aggregate: the sink's keys shuffle
            # while the batch's map stage runs, and the batch's one
            # exchange on _idem serves the dedup and the join.  Without
            # the dedup the broadcast already runs beside the batch's
            # map stage (the rawstore window's).
            existing = existing.hint("shuffle_hash")
        out = out.join(existing, out[IDEM_COL] == existing[IDEM_COL], "left_anti")
    written = Observation()
    out = out.observe(written, F.count(F.lit(1)).alias("rows"))
    with recording_write(spark, path, staged.schema, (PARTITION_COL,)):
        out.write.mode("append").partitionBy(PARTITION_COL).parquet(path)
    appended = written.get["rows"]
    return IngestResult(
        appended=appended, deduped=rows_in - appended, partitions=parts
    )


def ingest_batch(
    df: DataFrame,
    path: str,
    time_col: str | None = None,
    idem_col: str | None = None,
    granularity: str = "D",
) -> IngestResult:
    """Exactly-once batch append: drop rows whose ``_idem`` key is already
    present in the sink (replay-safe, the reference's idempotent-commit
    contract), dedup within the batch, then append partitioned parquet,
    in two Spark queries (:func:`_append`).  A defaulted ``_time`` is
    the engine's clock read once for the call."""
    staged = with_ingest_columns(df, time_col, idem_col, granularity, now=_clock())
    return _append(staged, path)


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
    now: dt.datetime | None = None,
) -> DataFrame:
    """Shape arbitrary line data into the rawstore schema: ``_raw`` is
    the untouched event text, ``_time`` the event time (defaulted to
    ingest time, like the rawstore column DEFAULT now64(3)),
    ``_index_time`` always ingest time: ``now``, or
    ``current_timestamp()`` when None.  An ``_idem`` column of ``lines``
    is carried through."""
    ingest_time = _ingest_time(now)
    if time_col and time_col in lines.columns:
        event_time = F.col(time_col).cast("timestamp")
    else:
        event_time = ingest_time
    return lines.select(
        F.col(raw_col).cast("string").alias("_raw"),
        event_time.alias(TIME_COL),
        ingest_time.alias("_index_time"),
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
    """Rawstore ingest = shape to the fixed schema + the idempotent
    partitioned append of :func:`ingest_batch` (:func:`_append`, whose
    two queries give the counts).  A defaulted ``_time`` and
    ``_index_time`` are the engine's clock read once for the call.

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

    The occurrence-number window runs once, in the write: the count
    reads only ``_part``, and Catalyst prunes the window out of that
    plan.  Content keys are unique within the batch by construction, so
    the write skips the in-batch dedup and the window's is the only
    exchange on the batch side before the join; a caller key is still
    deduped."""
    if idem_col:
        lines = lines.withColumn(IDEM_COL, F.col(idem_col).cast("string"))
    shaped = to_rawstore(lines, raw_col, time_col, now=_clock(), **source_coords)
    new = {PARTITION_COL: _partition_expr(granularity, F.col(TIME_COL))}
    if not idem_col:
        event_time = time_col and time_col in lines.columns
        content = ["_raw"] + ([TIME_COL] if event_time else [])
        nth = F.row_number().over(Window.partitionBy(*content).orderBy("_raw"))
        key = F.struct(*content, nth.alias("n"))
        new = {IDEM_COL: F.sha2(F.to_json(key), 256), **new}
    return _append(shaped.withColumns(new), path, dedup=bool(idem_col))


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

    ``withWatermark(_time) + dropDuplicatesWithinWatermark(_idem)`` drops
    a key seen again within the watermark delay and holds each key in
    state for that delay only (the Spark analog of the reference's
    max_idempotent_ids ring), so the state stays bounded as event time
    advances.  ``foreachBatch`` appends each micro-batch through the
    batch ingest's append (:func:`_append`): its anti-join against the
    sink drops a replay that comes after the state let the key go, keys
    a batch ingest already wrote, and a micro-batch that Spark runs
    again after a crash between the sink write and the commit.  The
    checkpoint makes source offsets + dedup state restart-safe.  Returns
    the StreamingQuery.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the append reads the micro-batch twice (count and write): cache
        # it, or each read runs the source and the dedup state again
        batch_df.persist()
        try:
            _append(batch_df, path)
        finally:
            batch_df.unpersist()

    staged = with_ingest_columns(stream_df, time_col, idem_col, granularity)
    staged = staged.withWatermark(TIME_COL, watermark).dropDuplicatesWithinWatermark(
        [IDEM_COL]
    )
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
