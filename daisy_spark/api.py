"""Search / query API with the reference's `_time` conventions.

The reference's REST search endpoint takes a query plus optional
``start_time`` / ``end_time`` / ``offset`` / ``page_size`` params
(src/Server/RestRouterHandlers/SearchHandler.cpp:25) and injects
``_time >= start AND _time < end`` into the WHERE of every SELECT that
reads a `_time`-bearing table (src/Interpreters/AddTimeParamVisitor.cpp:
84-119).

Spark-first: rather than rewriting SQL text, the time predicate is
applied AT THE SCAN — ``search`` registers time-bounded temp views for
every `_time`-bearing table, then runs the (dialect-translated) query
against them.  Tables are read through ``catalog.read_parquet``, which
keeps each path's inferred schema for the session, so building a search
starts no Spark job.  Catalyst pushes the bound into the parquet scan, and for
the driver's nanosecond-timestamp events table the bound is applied to
the RAW int64 column *before* the µs conversion, so it lands in
``PushedFilters`` (a filter on the derived timestamp column would not).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from daisy_spark.catalog import TESTDATA_TABLES, normalize_nanos, read_parquet

#: time column per test table (events uses `ts` as its `_time`)
TIME_COLUMNS = {"events": "ts"}


def _to_epoch_ns(t: str | _dt.datetime) -> int:
    if isinstance(t, str):
        t = _dt.datetime.fromisoformat(t)
    if t.tzinfo is None:
        t = t.replace(tzinfo=_dt.timezone.utc)
    return int(t.timestamp() * 1_000_000) * 1000


def load_time_bounded(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    start_time: str | _dt.datetime | None = None,
    end_time: str | _dt.datetime | None = None,
) -> DataFrame:
    """Load a table with the `_time` bound applied where the scan can use
    it.  For nanos-encoded columns the filter runs on the raw int64 BEFORE
    conversion — visible as PushedFilters in the parquet scan node.

    The table is read through :func:`catalog.read_parquet`, so its stored
    schema (which the bound branches on) is inferred once per session and
    a repeated search builds without starting a Spark job."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_parquet(spark, path)
    tcol = TIME_COLUMNS.get(name)
    if tcol is None:
        return normalize_nanos(name, df)
    # branch on the ACTUAL stored type: the driver has shipped events.ts both
    # as raw int64 nanos and as timestamp[us] parquet across rounds
    if isinstance(df.schema[tcol].dataType, T.LongType):
        if start_time is not None:
            df = df.filter(F.col(tcol) >= F.lit(_to_epoch_ns(start_time)))
        if end_time is not None:
            df = df.filter(F.col(tcol) < F.lit(_to_epoch_ns(end_time)))
        return normalize_nanos(name, df)
    ttype = df.schema[tcol].dataType  # timestamp or timestamp_ntz
    if start_time is not None:
        df = df.filter(F.col(tcol) >= F.lit(str(start_time)).cast(ttype))
    if end_time is not None:
        df = df.filter(F.col(tcol) < F.lit(str(end_time)).cast(ttype))
    return df


def search(
    spark: SparkSession,
    query: str,
    sf_dir: str,
    start_time: str | _dt.datetime | None = None,
    end_time: str | _dt.datetime | None = None,
    offset: int = 0,
    page_size: int | None = None,
) -> DataFrame:
    """Run a reference-dialect query with `_time` bounds + pagination
    (the REST search contract, minus HTTP)."""
    from daisy_spark.plans import sql as dsql

    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            load_time_bounded(
                spark, sf_dir, t, start_time, end_time
            ).createOrReplaceTempView(t)
    out = dsql(spark, query)
    if offset:
        out = out.offset(offset)
    if page_size is not None:
        out = out.limit(page_size)
    return out
