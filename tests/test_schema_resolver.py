"""The per-session schema resolver (catalog.read_parquet): a cached schema
serves reads with no Spark job, and never outlives a change to the path."""

from __future__ import annotations

import ast
import os
import re
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from daisy_spark import streaming as ST
from daisy_spark.catalog import read_parquet

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "daisy_spark")


def _rows(spark, n0: int, n: int, day: str = "2024-01-01"):
    return spark.range(n0, n0 + n).select(
        F.col("id").alias("event_id"),
        F.lit(f"{day} 00:00:00").cast("timestamp").alias("ts"),
        (F.col("id") * 1.5).alias("v"),
    )


def test_cached_schema_reads_without_a_job(spark, tmp_path, spark_jobs):
    path = str(tmp_path / "t.parquet")
    _rows(spark, 0, 10).write.parquet(path)
    first, n1 = spark_jobs(lambda: read_parquet(spark, path).schema)
    second, n2 = spark_jobs(lambda: read_parquet(spark, path).schema)
    assert n1 >= 1 and n2 == 0
    assert first == second
    assert read_parquet(spark, path).count() == 10


def test_overwrite_out_of_band_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _rows(spark, 0, 10).write.parquet(path)
    assert read_parquet(spark, path).columns == ["event_id", "ts", "v"]
    spark.range(3).select(F.col("id").alias("k"), F.lit("x").alias("s")).write.mode(
        "overwrite"
    ).parquet(path)
    got = read_parquet(spark, path)
    assert got.columns == ["k", "s"]
    assert sorted(r.k for r in got.collect()) == [0, 1, 2]


def test_delete_and_rewrite_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _rows(spark, 0, 10).write.parquet(path)
    assert "v" in read_parquet(spark, path).columns
    shutil.rmtree(path)
    spark.range(4).select(F.col("id").cast("string").alias("v")).write.parquet(path)
    got = read_parquet(spark, path)
    assert got.columns == ["v"] and dict(got.dtypes)["v"] == "string"
    assert got.count() == 4


def test_new_session_infers_its_own_schema(spark, tmp_path, spark_jobs):
    path = str(tmp_path / "t.parquet")
    _rows(spark, 0, 10).write.parquet(path)
    read_parquet(spark, path)
    other = spark.newSession()
    _, n = spark_jobs(lambda: read_parquet(other, path).schema)
    assert n >= 1


def test_ingest_append_leaves_next_read_without_a_job(spark, tmp_path, spark_jobs):
    sink = str(tmp_path / "sink")
    ST.ingest_batch(_rows(spark, 0, 10), sink, time_col="ts", idem_col="event_id")
    # the second ingest reads the sink's keys (inferring once) and
    # records its append
    ST.ingest_batch(_rows(spark, 10, 10, "2024-01-02"), sink, time_col="ts",
                    idem_col="event_id")
    df, n = spark_jobs(lambda: ST.read_table(spark, sink))
    assert n == 0
    assert df.count() == 20
    assert df.schema == spark.read.parquet(sink).schema


def test_new_sink_schema_is_recorded_at_its_first_write(spark, tmp_path, spark_jobs):
    # the write that creates a sink records its schema: the next ingest's
    # existing-key read and the searches start no inference job
    for granularity in "DH":
        sink = str(tmp_path / f"sink_{granularity}")
        ST.ingest_batch(_rows(spark, 0, 10), sink, time_col="ts",
                        idem_col="event_id", granularity=granularity)
        schema, n = spark_jobs(lambda: read_parquet(spark, sink).schema)
        assert n == 0
        assert schema == spark.newSession().read.parquet(sink).schema


def test_second_ingest_into_new_sink_infers_nothing(spark, tmp_path, spark_jobs):
    # a schema inference is a Spark job of its own: without the schema
    # recorded at the first write, the second ingest would run one more
    # job than the third
    sink = str(tmp_path / "sink")
    ST.ingest_batch(_rows(spark, 0, 10), sink, time_col="ts", idem_col="event_id")
    jobs = [
        spark_jobs(lambda: ST.ingest_batch(
            _rows(spark, n0, 10), sink, time_col="ts", idem_col="event_id"
        ))[1]
        for n0 in (10, 20)
    ]
    assert jobs[0] == jobs[1], jobs


def test_ingest_append_with_extra_column_matches_uncached_read(spark, tmp_path):
    sink = str(tmp_path / "sink")
    ST.ingest_batch(_rows(spark, 0, 10), sink, time_col="ts", idem_col="event_id")
    ST.read_table(spark, sink)
    wider = _rows(spark, 10, 10).withColumn("extra", F.lit("e"))
    ST.ingest_batch(wider, sink, time_col="ts", idem_col="event_id")
    assert ST.read_table(spark, sink).schema == spark.read.parquet(sink).schema


def test_sink_column_order_is_stable_across_appends(spark, tmp_path):
    sink = str(tmp_path / "sink")
    ST.ingest_batch(_rows(spark, 0, 10), sink, time_col="ts", idem_col="event_id")
    ST.ingest_batch(_rows(spark, 10, 10, "2024-01-02"), sink, time_col="ts",
                    idem_col="event_id")
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(sink) for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) >= 2
    orders = {tuple(pq.read_schema(f).names) for f in files}
    assert len(orders) == 1, orders


def test_read_parquet_is_the_only_parquet_reader():
    """Every `.read.parquet(` in the package lies inside
    catalog.read_parquet, so no reader bypasses the resolver."""
    with open(os.path.join(PKG, "catalog.py")) as f:
        tree = ast.parse(f.read())
    (fn,) = [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "read_parquet"
    ]
    stray = []
    for d, _, fs in os.walk(PKG):
        for name in fs:
            if not name.endswith(".py"):
                continue
            path = os.path.join(d, name)
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if not re.search(r"\.read\.parquet\(", line):
                        continue
                    inside = (
                        path == os.path.join(PKG, "catalog.py")
                        and fn.lineno <= i <= fn.end_lineno
                    )
                    if not inside:
                        stray.append(f"{os.path.relpath(path, PKG)}:{i}")
    assert not stray, stray
