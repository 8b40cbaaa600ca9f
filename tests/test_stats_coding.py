"""Unit tests for round-2 function families: stat tests, map aggregates,
moving windows, bitmap/geo/coding scalars (SURVEY §2.4 + §2.8)."""

import math

from pyspark.sql import functions as F

from daisy_spark.functions import aggregates as A
from daisy_spark.functions import scalar as S
from daisy_spark.functions import stats as ST
from daisy_spark.plans import sql


def test_geohash_known_vector(spark):
    # canonical geohash test point: (42.605, -5.603) -> ezs42
    r = spark.range(1).select(
        S.geohash_encode(F.lit(-5.60302734375), F.lit(42.60498046875), 5).alias("g"),
        S.geohash_encode(F.lit(-0.1278), F.lit(51.5074), 7).alias("lon7"),
    ).collect()[0]
    assert r["g"] == "ezs42"
    assert r["lon7"].startswith("gcpv")  # London cell


def test_coding_scalars(spark):
    r = spark.range(1).select(
        S.mac_num_to_string(F.lit(0x0A1B2C3D4E5F)).alias("mac"),
        S.bitmask_to_list(F.lit(50)).alias("bits"),
        S.ipv6_num_to_string(F.lit(bytes(range(16)))).alias("ip6"),
    ).collect()[0]
    macn = sql(spark, "SELECT MACStringToNum('0a:1b:2c:3d:4e:5f') AS macn")
    assert r["mac"] == "0a:1b:2c:3d:4e:5f"
    assert macn.collect()[0]["macn"] == 0x0A1B2C3D4E5F
    assert r["bits"] == "2,16,32"
    assert r["ip6"] == "1:203:405:607:809:a0b:c0d:e0f"


def test_bitmap_ops(spark):
    r = sql(
        spark,
        "SELECT"
        " bitmapToArray(bitmapAnd(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4]))) AS a,"
        " bitmapToArray(bitmapOr(bitmapBuild([1, 2]), bitmapBuild([2, 3]))) AS o,"
        " bitmapToArray(bitmapXor(bitmapBuild([1, 2]), bitmapBuild([2, 3]))) AS x,"
        " bitmapCardinality(bitmapBuild([1, 1, 2])) AS c,"
        " bitmapHasAll(bitmapBuild([1, 2, 3]), bitmapBuild([1, 3])) AS all_",
    ).collect()[0]
    assert sorted(r["a"]) == [2, 3] and sorted(r["o"]) == [1, 2, 3]
    assert sorted(r["x"]) == [1, 3] and r["c"] == 2 and r["all_"]


def test_point_in_polygon(spark):
    sq = "[(0., 0.), (2., 0.), (2., 2.), (0., 2.)]"
    r = sql(
        spark,
        f"SELECT pointInPolygon((1., 1.), {sq}) AS in_,"
        f" pointInPolygon((3., 1.), {sq}) AS out",
    ).collect()[0]
    assert r["in_"] and not r["out"]


def test_great_circle_distance(spark):
    # Paris -> London ~ 343 km
    r = spark.range(1).select(
        S.great_circle_distance(
            F.lit(2.3522), F.lit(48.8566), F.lit(-0.1278), F.lit(51.5074)
        ).alias("d")
    ).collect()[0]
    assert abs(r["d"] / 1000.0 - 343.5) < 2.0


def test_ngram_distance(spark):
    r = spark.range(1).select(
        S.ngram_distance(F.lit("hello world"), F.lit("hello world")).alias("same"),
        S.ngram_distance(F.lit("hello world"), F.lit("zzzzzzz")).alias("diff"),
    ).collect()[0]
    assert r["same"] == 0.0 and r["diff"] == 1.0


def _g(spark):
    return spark.createDataFrame(
        [("a", i, float(v), i % 2) for i, v in enumerate([3, 1, 4, 1, 5, 9, 2, 6, 5, 3])],
        "g string, i int, v double, s int",
    )


def test_ttests_match_closed_form(spark):
    out = _g(spark).groupBy("g").agg(
        A.welch_ttest("v", "s").alias("w"), A.student_ttest("v", "s").alias("t")
    ).collect()[0]
    v = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    v0, v1 = v[0::2], v[1::2]
    def var(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)
    se2 = var(v0) / 5 + var(v1) / 5
    t_expected = (sum(v0) / 5 - sum(v1) / 5) / math.sqrt(se2)
    assert abs(out["w"]["t_stat"] - t_expected) < 1e-12
    assert out["t"]["df"] == 8.0


def test_map_and_moving_aggs(spark):
    _g(spark).createOrReplaceTempView("stats_g")
    maps = sql(
        spark,
        "SELECT minMap([1], [v]) AS mn, maxMap([1], [v]) AS mx"
        " FROM stats_g GROUP BY g",
    ).collect()[0]
    # the reference returns the (keys, values) tuple
    assert tuple(maps["mn"]) == ([1], [1.0]) and tuple(maps["mx"]) == ([1], [9.0])
    out = _g(spark).groupBy("g").agg(
        A.group_array_moving_sum("v", F.col("i"), 3).alias("mv"),
        A.group_array_moving_avg("v", F.col("i"), 2).alias("ma"),
        A.group_array_insert_at(F.col("v"), F.col("i")).alias("ins"),
    ).collect()[0]
    assert out["mv"][:4] == [3.0, 4.0, 8.0, 6.0]
    # reference semantics: divide by window size even for partial prefixes
    assert out["ma"][0] == 1.5 and out["ma"][1] == 2.0
    assert out["ins"] == [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0]


def test_max_intersections(spark):
    df = spark.createDataFrame(
        [(1.0, 3.0), (2.0, 4.0), (2.5, 2.6), (10.0, 11.0)], "s double, e double"
    )
    out = df.agg(A.max_intersections("s", "e").alias("mi")).collect()[0]
    assert out["mi"] == 3


def test_mann_whitney_and_rank_corr(spark):
    g = _g(spark)
    mw = ST.mann_whitney_u_test_df(g, "v", "s", ["g"]).collect()[0]
    # U0 + U1 == n0*n1 invariant
    assert abs(mw["u0"] + mw["u1"] - 25.0) < 1e-9
    rc = ST.rank_corr_df(g, "v", "v", ["g"]).collect()[0]
    assert abs(rc["rank_corr"] - 1.0) < 1e-9  # self-correlation == 1
    # the reference takes one 0/1 flag per category and returns one IV
    # term per flag: the flags of both values of (v > 3) sum to the IV
    g.createOrReplaceTempView("stats_g")
    civ_sql = sql(
        spark,
        "SELECT categoricalInformationValue(v > 3, v <= 3, s) AS civ"
        " FROM stats_g GROUP BY g",
    ).collect()[0]["civ"]
    civ_df = ST.categorical_information_value_df(
        g.withColumn("c", F.col("v") > 3), "c", "s", ["g"]
    ).collect()[0]["information_value"]
    assert abs(sum(civ_sql) - civ_df) < 1e-12


def test_registry_resolves(spark):
    """One executed call per name: through the script engine where the
    dialect serves the name, else through its Column builder."""
    from daisy_spark.plans.script import ScriptRunner

    calls = {
        "minMap": "minMap([number % 2], [number])",
        "maxMap": "maxMap([number % 2], [number])",
        "groupBitmap": "groupBitmap(number)",
        "welchTTest": "welchTTest(toFloat64(number), number % 2)",
        "studentTTest": "studentTTest(toFloat64(number), number % 2)",
        "topKWeighted": "topKWeighted(3)(number % 4, number)",
        "anyHeavy": "anyHeavy(number % 3)",
        "maxIntersections": "maxIntersections(number, number + 2)",
        "windowFunnel": (
            "windowFunnel(3)(toDateTime(number), number = 1, number = 2)"
        ),
        "deltaSumTimestamp": "deltaSumTimestamp(number, number)",
        "categoricalInformationValue": (
            "categoricalInformationValue(number > 3, number % 2)"
        ),
        "IPv6NumToString": (
            "IPv6NumToString(unhex('000102030405060708090A0B0C0D0E0F'))"
        ),
        "MACNumToString": "MACNumToString(number)",
        "bitmaskToList": "bitmaskToList(number)",
        "bitmapBuild": "bitmapToArray(bitmapBuild([number, 1]))",
        "bitmapXor": (
            "bitmapToArray(bitmapXor(bitmapBuild([1, 2]), bitmapBuild([2, 3])))"
        ),
        "greatCircleDistance": (
            "greatCircleDistance(2.3522, 48.8566, -0.1278, 51.5074)"
        ),
        "pointInPolygon": (
            "pointInPolygon((1., 1.), [(0., 0.), (2., 0.), (2., 2.), (0., 2.)])"
        ),
        "geohashEncode": "geohashEncode(-5.60302734375, 42.60498046875, 5)",
        "neighbor": "neighbor(number, 1)",
        "runningDifference": "runningDifference(number)",
        "hostName": "hostName()",
        "version": "version()",
    }
    queries = {
        name: f"SELECT {call} AS v FROM numbers(10)" for name, call in calls.items()
    }
    queries["runningAccumulate"] = (
        "SELECT runningAccumulate(s) AS v FROM (SELECT sumState(number) AS s"
        " FROM numbers(10) GROUP BY number ORDER BY number)"
    )
    runner = ScriptRunner(spark)
    try:
        for name, q in queries.items():
            assert runner.execute(q).collect()[0]["v"] is not None, name
    finally:
        runner.close()
    # names the dialect passes through unresolved
    g = _g(spark)
    aggs = g.agg(
        A.group_array_moving_sum("v", F.col("i")).alias("groupArrayMovingSum"),
        A.group_array_insert_at(F.col("v"), F.col("i")).alias("groupArrayInsertAt"),
        A.uniq_theta("v").alias("uniqTheta"),
    ).collect()[0]
    ngram = g.select(
        S.ngram_distance(F.col("g"), F.lit("a")).alias("ngramDistance")
    ).collect()[0]
    for row in (aggs, ngram):
        for name, value in row.asDict().items():
            assert value is not None, name


def test_logistic_regression_learns_separable_boundary(spark):
    from daisy_spark.functions import stats as ST
    import pyspark.sql.functions as F

    df = spark.range(400).select(
        (F.col("id") % 100).cast("double").alias("x"),
        ((F.col("id") % 100) >= 50).cast("int").alias("y"),
    )
    w, b = ST.logistic_regression_df(df, ["x"], "y")
    p = ST.logistic_predict(w, b, ["x"])
    acc = df.agg(
        F.avg(((p > 0.5).cast("int") == F.col("y")).cast("double"))
    ).collect()[0][0]
    assert acc > 0.95
    assert w[0] > 0  # increasing x must raise the probability


def test_ipv6_v4_mapped_and_compatible_forms():
    # formatIPv6.cpp:139-149: dotted-quad tails for the leading-zero
    # run classes; IPv6StringToNum parses bare IPv4 as ::ffff:a.b.c.d
    from daisy_spark.functions.chcoding import ipv6_ntos, ipv6_ston

    mapped = b"\0" * 10 + b"\xff\xff" + bytes([192, 168, 0, 1])
    assert ipv6_ston("192.168.0.1") == mapped
    assert ipv6_ntos(mapped) == "::ffff:192.168.0.1"
    assert ipv6_ntos(b"\0" * 12 + bytes([1, 2, 3, 4])) == "::1.2.3.4"
    # non-v4 classes keep the RFC 5952 compressed form
    assert ipv6_ntos(b"\0" * 16) == "::"
    assert ipv6_ntos(b"\0" * 15 + b"\x01") == "::1"
    assert ipv6_ntos(bytes(range(16))) == "1:203:405:607:809:a0b:c0d:e0f"
    assert ipv6_ston("not-an-ip") == b"\0" * 16


def test_crc64_decimal_prints_unsigned(spark):
    from daisy_spark.functions.chcoding import crc64
    from daisy_spark.plans.script import ScriptRunner

    runner = ScriptRunner(spark)
    try:
        df = runner.execute("SELECT CRC64('s') AS c, hex(CRC64('s')) AS h")
        r = df.collect()[0]
        want = crc64(b"s")
        assert int(r["c"]) == want  # unsigned UInt64, not signed long
        assert r["h"] == format(want, "016X")
    finally:
        runner.close()


def test_json_extract_bool_targets(spark):
    from daisy_spark.plans.script import ScriptRunner

    runner = ScriptRunner(spark)
    try:
        df = runner.execute(
            "SELECT JSONExtract('{\"a\": true, \"b\": false}', 'a', 'UInt8') AS t,"
            " JSONExtract('{\"a\": true, \"b\": false}', 'b', 'UInt8') AS f,"
            " JSONExtract('{\"a\": true}', 'a', 'Nullable(Int64)') AS n"
        )
        r = df.collect()[0]
        assert (r["t"], r["f"], r["n"]) == (1, 0, 1)
    finally:
        runner.close()


def test_limit_with_ties_requires_order_by():
    import pytest

    from daisy_spark.plans.dialect import DialectError, translate

    with pytest.raises(DialectError):
        translate("SELECT number FROM numbers(10) LIMIT 3 WITH TIES")
