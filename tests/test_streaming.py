"""Ingest contract: replayed batches with duplicate idempotent keys land
exactly once; streaming ingest dedups across micro-batches and survives
checkpointed restart."""

from __future__ import annotations

import datetime as dt
import json
import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from daisy_spark import streaming as ST


def test_batch_ingest_idempotent_replay(spark, tmp_path):
    sink = str(tmp_path / "tbl")
    rows = [
        {"_idem": "a", "v": 1, "_time": "2024-01-01 00:00:00"},
        {"_idem": "b", "v": 2, "_time": "2024-01-02 00:00:00"},
    ]
    df = spark.createDataFrame(rows).withColumn("_time", F.col("_time").cast("timestamp"))
    r1 = ST.ingest_batch(df, sink)
    assert r1.appended == 2 and r1.deduped == 0

    # replay the same block + one new row -> only the new row lands
    rows2 = rows + [{"_idem": "c", "v": 3, "_time": "2024-01-02 05:00:00"}]
    df2 = spark.createDataFrame(rows2).withColumn("_time", F.col("_time").cast("timestamp"))
    r2 = ST.ingest_batch(df2, sink)
    assert r2.appended == 1 and r2.deduped == 2

    got = ST.read_table(spark, sink)
    assert sorted(r["_idem"] for r in got.collect()) == ["a", "b", "c"]
    # granularity partitioning materialized (D -> yyyymmdd ints)
    assert sorted(r._part for r in got.select("_part").distinct().collect()) == [
        20240101, 20240102,
    ]


def test_batch_ingest_defaults_time_and_idem(spark, tmp_path):
    sink = str(tmp_path / "tbl2")
    df = spark.createDataFrame([{"v": 1}, {"v": 1}, {"v": 2}])
    r = ST.ingest_batch(df, sink)
    # identical rows share the content-hash idem key -> in-batch dedup
    assert r.appended == 2 and r.deduped == 1
    got = ST.read_table(spark, sink)
    assert {c for c in got.columns} >= {"v", "_time", "_idem", "_part"}


def test_batch_ingest_replay_without_time_column(spark, tmp_path):
    # the defaulted _time differs per call; the content key must not
    sink = str(tmp_path / "tbl3")
    df = spark.createDataFrame([{"v": 1}, {"v": 2}])
    r1 = ST.ingest_batch(df, sink)
    assert r1.appended == 2 and r1.deduped == 0
    time.sleep(1.5)
    r2 = ST.ingest_batch(df, sink)
    assert r2.appended == 0 and r2.deduped == 2
    assert ST.read_table(spark, sink).count() == 2


def test_rawstore_replay_without_time_column(spark, tmp_path):
    # _time defaults to the ingest time, so the key must leave it out
    sink = str(tmp_path / "raw")
    lines = spark.createDataFrame([("a=1",), ("b=2",)], "value STRING")
    r1 = ST.ingest_rawstore(lines, sink)
    assert r1.appended == 2 and r1.deduped == 0
    time.sleep(1.1)
    r2 = ST.ingest_rawstore(lines, sink)
    assert r2.appended == 0 and r2.deduped == 2
    assert ST.read_table(spark, sink).count() == 2


def test_rawstore_identical_lines_in_one_batch_all_land(spark, tmp_path):
    sink = str(tmp_path / "raw")
    lines = spark.createDataFrame([("x",), ("x",), ("y",)], "value STRING")
    r1 = ST.ingest_rawstore(lines, sink)
    assert r1.appended == 3 and r1.deduped == 0
    got = sorted(r._raw for r in ST.search_rawstore(spark, sink).collect())
    assert got == ["x", "x", "y"]
    # a replay adds nothing; one more copy of a line is a new event
    assert ST.ingest_rawstore(lines, sink).appended == 0
    more = spark.createDataFrame([("x",), ("x",), ("x",)], "value STRING")
    assert ST.ingest_rawstore(more, sink).appended == 1


def test_rawstore_caller_key(spark, tmp_path):
    sink = str(tmp_path / "raw")
    lines = spark.createDataFrame([(1, "x"), (2, "x")], "id LONG, value STRING")
    assert ST.ingest_rawstore(lines, sink, idem_col="id").appended == 2
    again = spark.createDataFrame([(2, "x"), (3, "z")], "id LONG, value STRING")
    assert ST.ingest_rawstore(again, sink, idem_col="id").appended == 1
    assert sorted(r._idem for r in ST.read_table(spark, sink).collect()) == ["1", "2", "3"]


def test_stream_ingest_dedup_and_restart(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = "_idem STRING, v LONG, _time TIMESTAMP"

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write_file("f1.json", [
        {"_idem": "a", "v": 1, "_time": "2024-01-01 00:00:00"},
        {"_idem": "a", "v": 1, "_time": "2024-01-01 00:00:00"},
        {"_idem": "b", "v": 2, "_time": "2024-01-01 01:00:00"},
    ])

    stream = ST.json_lines_source(spark, str(src), schema)
    q = ST.ingest_stream(stream, sink, ckpt, trigger_once=True)
    q.awaitTermination(120)

    got = sorted(r["_idem"] for r in ST.read_table(spark, sink).collect())
    assert got == ["a", "b"]

    # restart from checkpoint with a new file: old keys within watermark
    # state are deduped, new key lands
    write_file("f2.json", [
        {"_idem": "b", "v": 2, "_time": "2024-01-01 01:00:00"},
        {"_idem": "c", "v": 3, "_time": "2024-01-01 02:00:00"},
    ])
    stream2 = ST.json_lines_source(spark, str(src), schema)
    q2 = ST.ingest_stream(stream2, sink, ckpt, trigger_once=True)
    q2.awaitTermination(120)

    got2 = sorted(r["_idem"] for r in ST.read_table(spark, sink).collect())
    assert got2 == ["a", "b", "c"]


def test_live_view_refreshes(spark, tmp_path):
    sink = str(tmp_path / "lv")
    df1 = spark.createDataFrame(
        [{"_idem": "a", "v": 1, "_time": "2024-01-01 00:00:00"}]
    ).withColumn("_time", F.col("_time").cast("timestamp"))
    ST.ingest_batch(df1, sink)

    q = ST.live_view(
        spark,
        sink,
        "v LONG, _time TIMESTAMP, _idem STRING, _part INT",
        lambda s: s.groupBy().agg(F.sum("v").alias("total")),
        name="lv_totals",
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT total FROM lv_totals").collect()[0].total == 1

        df2 = spark.createDataFrame(
            [{"_idem": "b", "v": 41, "_time": "2024-01-01 01:00:00"}]
        ).withColumn("_time", F.col("_time").cast("timestamp"))
        ST.ingest_batch(df2, sink)
        q.processAllAvailable()
        assert spark.sql("SELECT total FROM lv_totals").collect()[0].total == 42
    finally:
        q.stop()


def test_rawstore_ingest_and_search(spark, tmp_path):
    sink = str(tmp_path / "raw")
    lines = spark.createDataFrame(
        [("2024-03-01 10:00:00", "ERROR disk full on /dev/sda1"),
         ("2024-03-01 11:00:00", "INFO backup completed"),
         ("2024-03-02 09:30:00", "ERROR timeout talking to db")],
        "ts string, value string",
    )
    r = ST.ingest_rawstore(
        lines, sink, time_col="ts", sourcetype="syslog", source="unit", host="h1"
    )
    assert r.appended == 3
    # replaying the same lines is a no-op (idempotent key = content+time)
    r2 = ST.ingest_rawstore(lines, sink, time_col="ts", sourcetype="syslog")
    assert r2.appended == 0 and r2.deduped == 3

    hits = ST.search_rawstore(
        spark, sink, pattern="ERROR",
        start_time="2024-03-01", end_time="2024-03-02",
    ).collect()
    assert len(hits) == 1 and "disk full" in hits[0]["_raw"]
    assert hits[0]["sourcetype"] == "syslog" and hits[0]["host"] == "h1"
    all_err = ST.search_rawstore(spark, sink, pattern="ERROR").collect()
    assert len(all_err) == 2


# ---------------------------------------------------------------------------
# Counts from the two ingest queries: the observed count gives rows in and
# the partitions, the Observation at the root of the write gives rows
# appended.  These inputs empty a branch of the written plan, where an
# observation below an exchange would be lost.
# ---------------------------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "_idem STRING, v LONG, _time STRING"
    ).withColumn("_time", F.col("_time").cast("timestamp"))


_ROWS = [
    ("a", 1, "2024-01-01 00:00:00"),
    ("b", 2, "2024-01-02 00:00:00"),
    ("c", 3, "2024-01-02 05:00:00"),
]


def test_full_replay_counts(spark, tmp_path):
    sink = str(tmp_path / "tbl")
    df = _events(spark, _ROWS)
    r1 = ST.ingest_batch(df, sink)
    assert (r1.appended, r1.deduped) == (3, 0)
    assert r1.partitions == [20240101, 20240102]
    r2 = ST.ingest_batch(df, sink)
    assert (r2.appended, r2.deduped) == (0, 3)
    assert r2.partitions == [20240101, 20240102]
    assert ST.read_table(spark, sink).count() == 3


def test_empty_batch_counts(spark, tmp_path):
    sink = str(tmp_path / "tbl")
    ST.ingest_batch(_events(spark, _ROWS), sink)
    empty = _events(spark, [])
    into_existing = ST.ingest_batch(empty, sink)
    assert (into_existing.appended, into_existing.deduped) == (0, 0)
    assert into_existing.partitions == []
    into_new = ST.ingest_batch(empty, str(tmp_path / "new"))
    assert (into_new.appended, into_new.deduped) == (0, 0)
    assert into_new.partitions == []
    assert ST.read_table(spark, sink).count() == 3


def test_in_batch_duplicates_with_replayed_keys(spark, tmp_path):
    sink = str(tmp_path / "tbl")
    ST.ingest_batch(_events(spark, _ROWS), sink)
    mixed = _events(spark, [
        ("a", 1, "2024-01-01 00:00:00"),   # replayed
        ("d", 4, "2024-01-03 00:00:00"),   # new, sent twice
        ("d", 4, "2024-01-03 00:00:00"),
        ("e", 5, "2024-01-03 01:00:00"),   # new
    ])
    r = ST.ingest_batch(mixed, sink)
    assert (r.appended, r.deduped) == (2, 2)
    assert r.partitions == [20240101, 20240103]
    got = sorted(row._idem for row in ST.read_table(spark, sink).collect())
    assert got == ["a", "b", "c", "d", "e"]


def test_null_time_partition_sorts_last(spark, tmp_path):
    sink = str(tmp_path / "tbl")
    df = _events(spark, [("a", 1, "2024-01-01 00:00:00"), ("b", 2, None)])
    r = ST.ingest_batch(df, sink)
    assert (r.appended, r.deduped) == (2, 0)
    assert r.partitions == [20240101, None]


def test_rawstore_full_replay_counts(spark, tmp_path):
    sink = str(tmp_path / "raw")
    lines = spark.createDataFrame(
        [("2024-03-01 10:00:00", "x"), ("2024-03-01 10:00:00", "x"),
         ("2024-03-02 09:30:00", "y")],
        "ts STRING, value STRING",
    )
    r1 = ST.ingest_rawstore(lines, sink, time_col="ts")
    assert (r1.appended, r1.deduped) == (3, 0)
    r2 = ST.ingest_rawstore(lines, sink, time_col="ts")
    assert (r2.appended, r2.deduped) == (0, 3)
    assert r2.partitions == [20240301, 20240302]


def test_rawstore_count_plan_has_no_window(spark, tmp_path, monkeypatch):
    # the occurrence-number window only feeds _idem: the count must not
    # pay its exchange, only the write does
    plans = []
    real = ST.partition_counts

    def recording(staged, *args):
        counts = real(staged, *args)
        plans.append((staged, counts))
        return counts

    monkeypatch.setattr(ST, "partition_counts", recording)
    lines = spark.createDataFrame([("x",), ("x",), ("y",)], "value STRING")
    assert ST.ingest_rawstore(lines, str(tmp_path / "raw")).appended == 3
    [(staged, counts)] = plans

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "Window" in optimized(staged)
    assert "Window" not in optimized(counts)


def test_ingest_into_existing_sink_runs_at_most_four_jobs(spark, tmp_path, spark_jobs):
    # two flat queries: the observed count (one job) and the write, whose
    # map stages run side by side; the sink's schema is already known to
    # the session, as after a search
    sink, raw = str(tmp_path / "tbl"), str(tmp_path / "raw")
    ST.ingest_batch(_events(spark, _ROWS[:2]), sink)
    ST.read_table(spark, sink)
    lines = spark.createDataFrame([("x",), ("y",)], "value STRING")
    ST.ingest_rawstore(lines, raw)
    ST.read_table(spark, raw)

    _, batch = spark_jobs(lambda: ST.ingest_batch(_events(spark, _ROWS), sink))
    more = spark.createDataFrame([("x",), ("x",), ("z",)], "value STRING")
    _, rawstore = spark_jobs(lambda: ST.ingest_rawstore(more, raw))
    assert 0 < batch <= 4 and 0 < rawstore <= 4, (batch, rawstore)


def test_count_is_one_job(spark, spark_jobs):
    seen = Observation()
    staged = ST.with_ingest_columns(_events(spark, _ROWS), granularity="H")
    _, n = spark_jobs(lambda: ST.partition_counts(staged, seen).write.format(
        "noop").mode("overwrite").save())
    assert n == 1
    stats = seen.get
    assert (stats["rows"], stats["dated"]) == (3, 3)
    assert sorted(stats["parts"]) == ["2024010100", "2024010200", "2024010205"]


def test_null_time_replay_is_dropped(spark, tmp_path):
    # the existing-key read covers the null partition too
    sink = str(tmp_path / "tbl")
    df = _events(spark, [("a", 1, None), ("b", 2, "2024-01-01 00:00:00")])
    assert ST.ingest_batch(df, sink).appended == 2
    again = ST.ingest_batch(df, sink)
    assert (again.appended, again.deduped) == (0, 2)
    assert again.partitions == [20240101, None]
    assert ST.read_table(spark, sink).count() == 2


_BOUNDARY = dt.datetime(2024, 5, 5, 10, 59, 59, 999_999, tzinfo=dt.timezone.utc)


def _pin_clock(monkeypatch):
    # each read of the clock moves it a minute on: a call that read it
    # twice would count one partition and write another
    ticks = (_BOUNDARY + dt.timedelta(minutes=k) for k in range(100))
    monkeypatch.setattr(ST, "_clock", lambda: next(ticks))


def _assert_one_minute(result, path):
    # the partitions reported are the directories written: the minute
    # before the boundary, in the session time zone
    dirs = sorted(
        e.split("=", 1)[1] for e in os.listdir(path) if e.startswith("_part=")
    )
    assert result.partitions == dirs and len(dirs) == 1, (result.partitions, dirs)
    assert dirs[0].endswith("59")


def test_defaulted_time_is_read_once_per_call(spark, tmp_path, monkeypatch):
    _pin_clock(monkeypatch)
    sink = str(tmp_path / "tbl")
    df = spark.createDataFrame([{"v": 1}, {"v": 2}])
    r = ST.ingest_batch(df, sink, granularity="m")
    _assert_one_minute(r, sink)
    times = {row._time.timestamp() for row in ST.read_table(spark, sink).collect()}
    assert times == {_BOUNDARY.timestamp()}


def test_rawstore_defaulted_time_is_read_once_per_call(spark, tmp_path, monkeypatch):
    _pin_clock(monkeypatch)
    sink = str(tmp_path / "raw")
    lines = spark.createDataFrame([("x",), ("y",)], "value STRING")
    r = ST.ingest_rawstore(lines, sink, granularity="m")
    _assert_one_minute(r, sink)
    rows = ST.read_table(spark, sink).collect()
    assert {(row._time.timestamp(), row._index_time.timestamp()) for row in rows} == {
        (_BOUNDARY.timestamp(),) * 2
    }


# ---------------------------------------------------------------------------
# Streaming ingest appends through the batch path: the sink anti-join
# catches what the watermark-bounded state no longer holds.
# ---------------------------------------------------------------------------

_SCHEMA = "_idem STRING, v LONG, _time TIMESTAMP"


def _write_json(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _stream_once(spark, src, sink, ckpt):
    q = ST.ingest_stream(ST.json_lines_source(spark, src, _SCHEMA), sink, ckpt,
                         trigger_once=True)
    q.awaitTermination(120)
    assert q.exception() is None
    return q


def test_stream_replay_of_batch_ingested_keys_appends_nothing(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ST.ingest_batch(_events(spark, _ROWS[:2]), sink)
    _write_json(src / "f1.json", [
        {"_idem": k, "v": v, "_time": t} for k, v, t in _ROWS
    ])
    _stream_once(spark, str(src), sink, str(tmp_path / "ckpt"))
    got = sorted(r._idem for r in ST.read_table(spark, sink).collect())
    assert got == ["a", "b", "c"]


def test_rerun_micro_batch_appends_nothing(spark, tmp_path):
    # a crash after the sink write and before the commit: Spark runs the
    # micro-batch again from its offsets on restart
    src = tmp_path / "src"
    src.mkdir()
    sink, ckpt = str(tmp_path / "sink"), tmp_path / "ckpt"
    _write_json(src / "f1.json", [
        {"_idem": k, "v": v, "_time": t} for k, v, t in _ROWS
    ])
    _stream_once(spark, str(src), sink, str(ckpt))
    assert ST.read_table(spark, sink).count() == 3
    for d, keep in (("commits", ()), ("offsets", ("0", ".0.crc"))):
        for f in os.listdir(ckpt / d):
            if f not in keep:
                os.remove(ckpt / d / f)
    q = _stream_once(spark, str(src), sink, str(ckpt))
    assert [p["batchId"] for p in q.recentProgress if p["numInputRows"]] == [0]
    assert ST.read_table(spark, sink).count() == 3


def test_stream_state_stays_within_one_watermark_window(spark, tmp_path):
    # 6 files of 20 new keys, a day apart, watermark 1 hour: a key leaves
    # the state once the watermark passes it, so the state never holds
    # more than the last two files' keys
    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    q = ST.ingest_stream(ST.json_lines_source(spark, str(src), _SCHEMA), sink,
                         str(tmp_path / "ckpt"))
    try:
        for day in range(1, 7):
            _write_json(src / f"f{day}.json", [
                {"_idem": f"{day}-{i}", "v": i, "_time": f"2024-01-0{day} 12:00:00"}
                for i in range(20)
            ])
            q.processAllAvailable()
    finally:
        q.stop()
    state = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress if p["stateOperators"]
    ]
    assert len(state) >= 6 and max(state) <= 40, state
    assert ST.read_table(spark, sink).count() == 120
