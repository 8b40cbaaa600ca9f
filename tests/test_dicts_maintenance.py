"""dictGet/StorageJoin enrichment, TTL/OPTIMIZE/mutations, EXPLAIN."""

from __future__ import annotations

from pyspark.sql import functions as F

from daisy_spark import maintenance as MNT
from daisy_spark import streaming as ST
from daisy_spark.catalog import read_parquet
from daisy_spark.operators.dicts import Dictionary, join_get
from daisy_spark.plans import sql as dsql


def _dim(spark):
    return spark.createDataFrame(
        [(1, "US", 0), (2, "DE", 1), (3, "BY", 2)],
        ["id", "name", "parent"],
    )


def test_dict_get_with_defaults(spark):
    d = Dictionary(_dim(spark), "id")
    facts = spark.createDataFrame([(1, 10), (9, 20)], ["geo", "v"])
    out = d.get(
        facts, {"name": "geo_name"}, "geo", defaults={"name": "??"}
    ).orderBy("v")
    assert [r.geo_name for r in out.collect()] == ["US", "??"]
    # broadcast hash join in the plan, not a shuffle join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dict_has_and_hierarchy(spark):
    d = Dictionary(_dim(spark), "id")
    facts = spark.createDataFrame([(3,), (7,)], ["geo"])
    out = d.has(facts, "geo").orderBy("geo")
    assert [r.has for r in out.collect()] == [True, False]
    h = d.get_hierarchy(facts.filter("geo = 3"), "parent", "geo")
    assert h.collect()[0].hierarchy == [3, 2, 1]


def test_join_get_any_semantics(spark):
    jt = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["k", "v"])
    facts = spark.createDataFrame([(1,), (2,), (5,)], ["k"])
    out = join_get(facts, jt, "k", "v", "k", out_col="got").orderBy("k")
    got = [r.got for r in out.collect()]
    assert got[0] in ("a", "b") and got[1] == "c" and got[2] is None


def test_ttl_drops_partitions_without_scan(spark, tmp_path):
    sink = str(tmp_path / "t")
    rows = [
        {"_idem": f"k{i}", "v": i, "_time": f"2024-01-0{d} 12:00:00"}
        for i, d in enumerate([1, 1, 2, 3, 3, 3], start=1)
    ]
    df = spark.createDataFrame(rows).withColumn("_time", F.col("_time").cast("timestamp"))
    ST.ingest_batch(df, sink)
    res = MNT.apply_ttl(spark, sink, "_time", "2024-01-03 00:00:00")
    assert res.partitions_dropped == 2  # 0101 and 0102 whole dirs
    assert res.rows_before == 6 and res.rows_after == 3


def _ttl_sink(spark, tmp_path, times, granularity):
    sink = str(tmp_path / f"t_{granularity}")
    rows = [
        {"_idem": f"k{i}", "v": i, "_time": t} for i, t in enumerate(times)
    ]
    df = spark.createDataFrame(rows).withColumn(
        "_time", F.col("_time").cast("timestamp")
    )
    ST.ingest_batch(df, sink, granularity=granularity)
    return sink


def test_ttl_month_sink_keeps_live_partition(spark, tmp_path):
    sink = _ttl_sink(spark, tmp_path, [
        "2024-01-10 00:00:00", "2024-01-20 00:00:00", "2024-03-05 00:00:00",
    ], "M")
    res = MNT.apply_ttl(spark, sink, "_time", "2024-02-01 00:00:00")
    assert res.partitions_dropped == 1  # 202401 ends at the cutoff
    assert res.rows_before == 3 and res.rows_after == 1
    left = [r.v for r in read_parquet(spark, sink).collect()]
    assert left == [2]


def test_ttl_hour_sink_drops_whole_hours(spark, tmp_path):
    sink = _ttl_sink(spark, tmp_path, [
        "2024-01-03 10:15:00", "2024-01-03 11:59:59",
        "2024-01-03 12:10:00", "2024-01-03 12:40:00",
    ], "H")
    res = MNT.apply_ttl(spark, sink, "_time", "2024-01-03 12:30:00")
    # 10h and 11h end on or before 12:30; 12h holds the cutoff and is
    # rewritten, keeping only its 12:40 row
    assert res.partitions_dropped == 2
    assert res.rows_before == 4 and res.rows_after == 1


def test_ttl_every_partition_expired(spark, tmp_path):
    sink = _ttl_sink(spark, tmp_path, [
        "2024-01-01 12:00:00", "2024-01-02 12:00:00",
    ], "D")
    res = MNT.apply_ttl(spark, sink, "_time", "2024-02-01 00:00:00")
    assert res.partitions_dropped == 2
    assert res.rows_before == 2 and res.rows_after == 0


def test_mutations(spark, tmp_path):
    sink = str(tmp_path / "m")
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], ["id", "v"])
    df.write.parquet(sink)
    MNT.mutate_update(spark, sink, {"v": F.lit(-1.0)}, F.col("id") >= 8)
    got = spark.read.parquet(sink)
    assert got.filter("v = -1.0").count() == 2
    MNT.mutate_delete(spark, sink, F.col("id") < 5)
    assert spark.read.parquet(sink).count() == 5


def test_optimize_compacts_files(spark, tmp_path):
    import os

    sink = str(tmp_path / "o")
    spark.range(1000).repartition(16).write.parquet(sink)
    n_before = sum(f.endswith(".parquet") for f in os.listdir(sink))
    res = MNT.optimize(spark, sink, target_partitions=1)
    n_after = sum(f.endswith(".parquet") for f in os.listdir(sink))
    assert n_before == 16 and n_after == 1
    assert res.rows_before == res.rows_after == 1000


def test_explain_modes(spark):
    spark.createDataFrame([(1,)], ["x"]).createOrReplaceTempView("tiny")
    plan = dsql(spark, "EXPLAIN SELECT x FROM tiny WHERE x > 0").collect()[0][0]
    assert "Physical Plan" in plan
    syn = dsql(spark, "EXPLAIN SYNTAX SELECT toStartOfHour(now()) AS h").collect()[0][0]
    assert "date_trunc" in syn


def test_optimize_runs_at_most_three_jobs(spark, tmp_path, spark_jobs):
    # the count before and the write: the rows after come from an
    # observation of the write, not from a count of the rewritten table;
    # the table's schema is already known to the session
    sink = str(tmp_path / "o")
    spark.range(100).repartition(4).write.parquet(sink)
    read_parquet(spark, sink)
    res, n = spark_jobs(lambda: MNT.optimize(spark, sink))
    assert res.rows_before == res.rows_after == 100
    assert n <= 3, n


def test_rewrite_of_every_row_reports_zero(spark, tmp_path):
    sink = str(tmp_path / "m")
    spark.range(10).write.parquet(sink)
    res = MNT.mutate_delete(spark, sink, F.col("id") >= 0)
    assert (res.rows_before, res.rows_after) == (10, 0)
    assert read_parquet(spark, sink).count() == 0


def test_ttl_runs_at_most_six_jobs(spark, tmp_path, spark_jobs):
    # two aggregates of two jobs each (a map stage, then the result): the
    # count before, which also formats the cutoff, and the count and
    # expired count of what is left; then the rewrite of the cutoff's
    # hour, whose observation gives the rows after
    sink = _ttl_sink(spark, tmp_path, [
        "2024-01-03 10:15:00", "2024-01-03 12:10:00", "2024-01-03 12:40:00",
    ], "H")
    res, n = spark_jobs(
        lambda: MNT.apply_ttl(spark, sink, "_time", "2024-01-03 12:30:00")
    )
    assert (res.partitions_dropped, res.rows_before, res.rows_after) == (1, 3, 1)
    assert n <= 6, n
