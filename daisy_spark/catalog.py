"""Table specs, test-table loading, and the per-session parquet schema resolver.

The reference's tables are IStorage implementations whose engine choice
(MergeTree / ReplacingMergeTree / SummingMergeTree / ...) carries
*merge-time semantics* (reference: src/Storages/MergeTree/
registerStorageMergeTree.cpp:943-960).  In a Spark-first design the data
lives in partitioned Parquet and the engine semantics become *read-time
normalization rules* applied by :mod:`daisy_spark.operators.final` when a
query asks for ``FINAL``.

A :class:`TableSpec` records what the CREATE TABLE would have said:
engine kind, ORDER BY key (the dedup/merge key), version column,
sign column, partition expression, and TTL.  The Daisy conventions
(`_time DateTime64(3)` auto-column, time-granularity partitioning —
reference: src/Server/RestRouterHandlers/TableRestRouterHandler.cpp:55-58,
309-333) are captured by ``time_column`` / ``partition_granularity``.

Every parquet read of a table or sink goes through :func:`read_parquet`,
which infers a path's schema once per session and reuses it while the
path's files are unchanged; :func:`recording_write` keeps that schema
valid across the engine's own writes.
"""

from __future__ import annotations

import os
import stat
import weakref
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: tables the test-data driver generates (TESTDATA.md)
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class TableSpec:
    name: str
    path: str
    fmt: str = "parquet"
    # engine semantics (read-time normalization under FINAL)
    engine: str = "MergeTree"  # MergeTree|Replacing|Summing|Aggregating|Collapsing|VersionedCollapsing
    order_by: tuple[str, ...] = ()  # dedup/merge key
    version_column: str | None = None  # ReplacingMergeTree(version)
    sign_column: str | None = None  # CollapsingMergeTree(sign)
    summed_columns: tuple[str, ...] = ()  # SummingMergeTree cols ((), = all numeric)
    # AggregatingMergeTree: column -> declared AggregateFunction name
    # (e.g. "sum", "anyIf"); None = declarations unknown, use the
    # shape heuristic.  Ordinary (undeclared) columns merge as FIRST
    # per the reference (AggregatingSortedAlgorithm::startGroup).
    agg_columns: dict[str, str] | None = None
    # Daisy time conventions
    time_column: str | None = None  # `_time`-equivalent event-time column
    partition_granularity: str | None = None  # M | D | H | m (TableRestRouterHandler.cpp:55-58)
    ttl: str | None = None  # e.g. "30 days" on time_column
    options: dict[str, str] = field(default_factory=dict)


#: columns stored as TIMESTAMP(NANOS) in the driver's parquet, which Spark
#: reads as long (spark.sql.legacy.parquet.nanosAsLong) — normalized to
#: µs-precision timestamps here, matching DuckDB's read of the same files.
NANOS_TS_COLUMNS = {"events": ("ts",)}


def _ensure_nanos_readable(spark: SparkSession) -> None:
    """Make TIMESTAMP(NANOS) parquet columns readable on ANY session.

    Spark has no nanosecond timestamp type; without this conf a read of the
    driver's ``events.parquet`` dies with PARQUET_TYPE_ILLEGAL.  The conf is
    runtime-settable, so set it here rather than relying on the caller's
    session factory (the correctness driver builds a vanilla session).
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # already set read-only / unsupported build — reads will tell


def normalize_nanos(name: str, df: DataFrame) -> DataFrame:
    for col in NANOS_TS_COLUMNS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, T.LongType):
            # integer division: epoch-ns ~1.7e18 exceeds double's exact range,
            # float division would land ~12% of timestamps 1µs off the
            # oracle's exact truncation
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
    return df


# ---------------------------------------------------------------------------
# Schema resolver: one inferred schema per (session, path), like the
# reference's CatalogService keeping table schemas as metadata
# (src/DistributedMetadata/) instead of deriving them for every query.
# ---------------------------------------------------------------------------

#: SparkSession -> {absolute path: (fingerprint, inferred StructType)}.
#: Weak keys: a map dies with its session object, and a new session
#: (``newSession()``, or a rebuilt one after ``stop()``) starts empty
#: even if Python hands it a recycled ``id``.
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _fingerprint(path: str) -> tuple | None:
    """Names, sizes and ``mtime_ns`` of the top-level entries of a
    directory, or the stat of a file; None when the path cannot be
    stat'ed (missing, a glob, a non-local URI) and so is never cached.

    A Spark write into a directory table always changes this: an append
    adds files inside partition directories (changing their mtime) and
    rewrites ``_SUCCESS``; a rename-swap rewrite replaces every entry.
    Not detected: a file rewritten in place inside a partition directory
    (the directory's own stat does not change), which Spark never does."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        with os.scandir(path) as it:
            stats = [(e.name, e.stat()) for e in it]
        return tuple(sorted((n, s.st_size, s.st_mtime_ns) for n, s in stats))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A parquet read of ``path`` with the schema inferred once per
    session: the only parquet reader of the engine's tables and sinks.

    Inference runs a Spark job over the parquet footers (~80-120 ms);
    a read with a known schema (``spark.read.schema(s)``) runs none.  The
    cached schema is reused while the path's :func:`_fingerprint` is
    unchanged; any change re-infers.  Sets the conf that TIMESTAMP(NANOS)
    columns need (:func:`_ensure_nanos_readable`), so callers do not."""
    _ensure_nanos_readable(spark)
    key = os.path.abspath(path)
    fp = _fingerprint(key)
    if fp is None:
        return spark.read.parquet(path)
    cache = _SCHEMAS.setdefault(spark, {})
    hit = cache.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    cache[key] = (fp, df.schema)
    return df


@contextmanager
def recording_write(
    spark: SparkSession,
    path: str,
    written: T.StructType,
    partition_by: tuple[str, ...] = (),
) -> Iterator[None]:
    """Around a write of data with schema ``written`` to ``path``: keep
    the session's cached schema of ``path`` valid across the write, so
    the next :func:`read_parquet` starts no job (the writer records what
    it wrote, as Structured Streaming's file-sink log does).

    A write that creates ``path`` records the schema of a read with the
    written data columns given (``partition_by`` left out): Spark then
    types the partition columns from the directory names, as inference
    does, and reads no footer.  On an existing path, the cached entry
    survives only if it was current before the write (nothing else
    changed the path since it was last read) and the written data
    columns, compared by name with ``partition_by`` left out, have the
    cached types; otherwise it is dropped.  The entry keeps the schema
    Spark inferred, not the writer's: partition values are typed on read
    (an ``H``-granularity ``_part`` is written as a string and read back
    as long), and the column order is the one read back.  Not detected: a
    write from outside the engine to the same path that runs while this
    one does."""
    key = os.path.abspath(path)
    cache = _SCHEMAS.setdefault(spark, {})
    created = not os.path.exists(key)
    entry = cache.get(key)
    current = entry is not None and entry[0] == _fingerprint(key)
    yield
    if created:
        data = T.StructType(
            [T.StructField(f.name, f.dataType) for f in written.fields
             if f.name not in partition_by]
        )
        fp = _fingerprint(key)
        if fp is not None:
            cache[key] = (fp, spark.read.schema(data).parquet(path).schema)
        return
    if entry is None:
        return
    if current and _column_types(written, partition_by) == _column_types(
        entry[1], partition_by
    ):
        cache[key] = (_fingerprint(key), entry[1])
    else:
        cache.pop(key, None)


def _column_types(schema: T.StructType, skip: tuple[str, ...]) -> dict[str, str]:
    # simpleString leaves out nullability, which a parquet round trip
    # does not keep
    return {
        f.name: f.dataType.simpleString() for f in schema.fields if f.name not in skip
    }


#: bucketed mirrors built by :func:`build_bucketed_mirror`:
#: (abs sf_dir, table) -> managed-table name.  Session-local — bucket
#: metadata lives in the in-memory catalog of the session that built it.
BUCKETED_MIRRORS: dict[tuple[str, str], str] = {}

#: the big-join tables and their co-location keys (SURVEY §4.3: the
#: reference sorts by ORDER BY key at insert; bucketing-by-join-key at
#: write is the Spark equivalent — the l⋈o join then needs NO shuffle).
#: customer is bucketed by custkey so the o⋈c join reads the customer
#: side with no shuffle at any scale: at 100x data the customer
#: broadcast stops being free, and the probe side (orders) shuffles
#: into customer's bucket distribution instead of materializing a
#: multi-GB broadcast per executor.
BUCKET_SPECS = (
    ("lineitem", "l_orderkey"),
    ("orders", "o_orderkey"),
    ("customer", "c_custkey"),
)


def build_bucketed_mirror(
    spark: SparkSession,
    sf_dir: str,
    specs: tuple[tuple[str, str], ...] = BUCKET_SPECS,
    buckets: int = 32,
) -> None:
    """Write bucketed + sorted managed-table mirrors of the big join
    tables, so orderkey-equi-joins read co-located sorted buckets and
    skip both the shuffle AND the sort (storage-side preparation, the
    analogue of the reference's MergeTree insert-time sort).

    At 100-TB scale this is exactly the layout a production deployment
    would write once at ingest: bucket count scales with cluster cores,
    and every orderkey join/aggregation downstream rides the layout."""
    import hashlib

    key_dir = os.path.abspath(sf_dir)
    tag = hashlib.md5(key_dir.encode()).hexdigest()[:8]
    for name, key in specs:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        # bucket count is part of the identity: re-attaching files
        # written with a different count would declare a false
        # co-location and let Spark elide shuffles incorrectly
        tbl = f"{name}_bkt{buckets}_{tag}"
        try:
            if not spark.catalog.tableExists(tbl):
                # a PREVIOUS session's mirror survives as files in the
                # warehouse dir (the in-memory catalog does not) — and
                # managed saveAsTable refuses an existing location.
                # Re-attach those files as an EXTERNAL bucketed table:
                # same bucket layout, zero rewrite cost per session.
                wh = spark.conf.get(
                    "spark.sql.warehouse.dir", "spark-warehouse"
                ).removeprefix("file:")
                loc = os.path.join(wh, tbl)
                if os.path.exists(os.path.join(loc, "_SUCCESS")):
                    df = load_table(spark, sf_dir, name)
                    cols = ", ".join(
                        f"`{f.name}` {f.dataType.simpleString()}"
                        for f in df.schema.fields
                    )
                    spark.sql(
                        f"CREATE TABLE `{tbl}` ({cols}) USING PARQUET "
                        f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
                        f"INTO {buckets} BUCKETS "
                        f"LOCATION '{loc}'"
                    )
                else:
                    import shutil

                    shutil.rmtree(loc, ignore_errors=True)  # partial write
                    df = load_table(spark, sf_dir, name)
                    (
                        df.write.mode("overwrite")
                        .bucketBy(buckets, key)
                        .sortBy(key)
                        .saveAsTable(tbl)
                    )
            BUCKETED_MIRRORS[(key_dir, name)] = tbl
        except Exception:  # noqa: BLE001
            # bucketing is an optimization only — never break a query
            BUCKETED_MIRRORS.pop((key_dir, name), None)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, plain: bool = False
) -> DataFrame:
    """Test table ``name`` of ``sf_dir``: its bucketed mirror when one is
    registered, else the parquet file through :func:`read_parquet`, so a
    second build in the same session starts no schema-inference job.

    ``plain=True`` skips the bucketed mirror: a BROADCAST build side
    gains nothing from bucket co-location and pays for it (32 small
    bucket files to open + schedule vs one parquet — measured ~0.1-0.2s
    on the sf1 region_revenue broadcast of customer)."""
    tbl = (
        None if plain
        else BUCKETED_MIRRORS.get((os.path.abspath(sf_dir), name))
    )
    if tbl is not None:
        try:
            return spark.table(tbl)
        except Exception:  # noqa: BLE001
            pass  # other session / dropped — fall back to parquet
    path = os.path.join(sf_dir, f"{name}.parquet")
    return normalize_nanos(name, read_parquet(spark, path))
