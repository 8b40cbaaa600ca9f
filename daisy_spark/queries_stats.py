"""Oracle-checked queries for the statistical / map / coding function
families added in round 2 (SURVEY §2.4 ML-stats + maps + moving, §2.8
coding/geo/similarity/neighbor).

Every query returns FLAT, deterministically-ordered, rounded columns so
the driver's column-sorted value hash is stable across Spark and DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from daisy_spark.catalog import load_table as _t
from daisy_spark.functions import aggregates as A
from daisy_spark.functions import scalar as S
from daisy_spark.functions import stats as ST


def _r6(c):
    # +0.0 normalizes IEEE -0.0 (see q_rate)
    return F.round(c, 6) + F.lit(0.0)


# --- welch / student t-tests (AggregateFunctionTTest.h) ---------------------

def q_ttests(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    g = (F.col("user_id") % 2).cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            _r6(A.welch_ttest("value", g)["t_stat"]).alias("welch_t"),
            _r6(A.welch_ttest("value", g)["df"]).alias("welch_df"),
            _r6(A.student_ttest("value", g)["t_stat"]).alias("student_t"),
            F.round(A.student_ttest("value", g)["df"], 6).alias("student_df"),
        )
        .orderBy("event_type")
    )


ORACLE_TTESTS = """
WITH m AS (
  SELECT event_type,
         count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n0,
         count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n1,
         avg(CASE WHEN user_id % 2 = 0 THEN value END) AS m0,
         avg(CASE WHEN user_id % 2 = 1 THEN value END) AS m1,
         var_samp(CASE WHEN user_id % 2 = 0 THEN value END) AS s0,
         var_samp(CASE WHEN user_id % 2 = 1 THEN value END) AS s1
  FROM events GROUP BY event_type
)
SELECT event_type,
       round((m0 - m1) / sqrt(s0/n0 + s1/n1), 6) + 0.0 AS welch_t,
       round(((s0/n0 + s1/n1) * (s0/n0 + s1/n1))
             / ((s0/n0)*(s0/n0)/(n0-1) + (s1/n1)*(s1/n1)/(n1-1)), 6) + 0.0 AS welch_df,
       round((m0 - m1) / sqrt( ((n0-1)*s0 + (n1-1)*s1) / (n0+n1-2) * (1.0/n0 + 1.0/n1) ), 6) + 0.0 AS student_t,
       round(CAST(n0 + n1 - 2 AS DOUBLE), 6) AS student_df
FROM m ORDER BY event_type
"""


# --- sumMap / minMap / maxMap (AggregateFunctionSumMap.cpp) -----------------

def q_map_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sumMap/minMap/maxMap via the df-level scale path (map_aggs_df):
    explode + per-key partial agg, never a whole-group pair array (the
    dialect's sumMap/minMap/maxMap fold each group in one aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    keys = F.array(F.lit(1), F.lit(2))
    vals = F.array(F.col("l_quantity").cast("double"), F.col("l_extendedprice").cast("double"))
    agg = A.map_aggs_df(
        li,
        ["l_returnflag"],
        keys,
        vals,
        {"sm": F.sum, "mnm": F.min, "mxm": F.max},
    )
    return agg.select(
        "l_returnflag",
        F.round(F.element_at("sm", 1)["value"], 2).alias("sum_qty"),
        F.round(F.element_at("sm", 2)["value"], 2).alias("sum_price"),
        F.round(F.element_at("mnm", 1)["value"], 2).alias("min_qty"),
        F.round(F.element_at("mxm", 2)["value"], 2).alias("max_price"),
    ).orderBy("l_returnflag")


ORACLE_MAP_AGGS = """
SELECT l_returnflag,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(min(l_quantity), 2) AS min_qty,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- groupArrayMovingSum (AggregateFunctionMoving.h) ------------------------

def q_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupArrayMovingSum(3) semantics (AggregateFunctionMoving.h) on the
    windowed scale path: one shuffle on user_id, ROWS-frame running sum,
    no per-group array (the HOF aggregate form A.group_array_moving_sum
    serves bounded groups)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            F.row_number().over(w).alias("rn"),
            _r6(
                F.sum(F.col("value").cast("double")).over(w.rowsBetween(-2, 0))
            ).alias("mv3"),
        )
        .filter(F.col("rn") <= 5)
        .orderBy("user_id", "rn")
    )


ORACLE_MOVING_SUM = """
SELECT user_id, rn, round(mv, 6) + 0.0 AS mv3
FROM (
  SELECT user_id,
         row_number() OVER w AS rn,
         sum(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE rn <= 5 ORDER BY user_id, rn
"""


# --- mannWhitneyUTest + rankCorr (rank statistics, df-level scale path) -----

def q_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FUSED single lineage (r13, guide §2.4): the previous form ran
    # mann_whitney_u_test_df and rank_corr_df as separate pipelines —
    # two scans of events, the value-rank window computed twice, two
    # aggregations joined back on event_type.  Both statistics need the
    # same fractional value-ranks, so compute the ranked projection
    # ONCE (both windows share the event_type exchange; tie counts ride
    # the same sort via a RANGE frame) and emit every statistic from
    # ONE hash aggregation — no join.  Same math, oracle-identical.
    e = _t(spark, sf_dir, "events")
    ranked = (
        e.select("event_type", "value", "user_id")
        .withColumn("s", (F.col("user_id") % 2).cast("int"))
        .withColumn("__rv", ST.avg_rank("value", ["event_type"]))
        .withColumn("__ru", ST.avg_rank("user_id", ["event_type"]))
    )
    g = F.col("s")
    agg = ranked.groupBy("event_type").agg(
        F.sum(F.when(g == 0, F.col("__rv"))).alias("__r0"),
        F.count(F.when(g == 0, F.lit(1))).alias("__n0"),
        F.count(F.when(g == 1, F.lit(1))).alias("__n1"),
        F.corr("__rv", "__ru").alias("rank_corr"),
    )
    n0, n1 = F.col("__n0").cast("double"), F.col("__n1").cast("double")
    u0 = F.col("__r0") - n0 * (n0 + 1) / 2.0
    u1 = n0 * n1 - u0
    mean_u = n0 * n1 / 2.0
    sd_u = F.sqrt(n0 * n1 * (n0 + n1 + 1) / 12.0)
    return agg.select(
        "event_type",
        F.round(u0, 2).alias("u0"),
        F.round(u1, 2).alias("u1"),
        _r6((u0 - mean_u) / sd_u).alias("z"),
        _r6(F.col("rank_corr")).alias("rank_corr"),
    ).orderBy("event_type")


ORACLE_RANK_STATS = """
WITH ranked AS (
  SELECT event_type, user_id % 2 AS s,
         rank() OVER (PARTITION BY event_type ORDER BY value)
           + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS avgrank,
         rank() OVER (PARTITION BY event_type ORDER BY value)
           + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0 AS rx,
         rank() OVER (PARTITION BY event_type ORDER BY user_id)
           + (count(*) OVER (PARTITION BY event_type, user_id) - 1) / 2.0 AS ry
  FROM events
), mw AS (
  SELECT event_type,
         sum(CASE WHEN s = 0 THEN avgrank END)
           - count(CASE WHEN s = 0 THEN 1 END) * (count(CASE WHEN s = 0 THEN 1 END) + 1) / 2.0 AS u0,
         count(CASE WHEN s = 0 THEN 1 END)::DOUBLE AS n0,
         count(CASE WHEN s = 1 THEN 1 END)::DOUBLE AS n1,
         corr(rx, ry) AS rank_corr
  FROM ranked GROUP BY event_type
)
SELECT event_type,
       round(u0, 2) AS u0,
       round(n0 * n1 - u0, 2) AS u1,
       round((u0 - n0 * n1 / 2.0) / sqrt(n0 * n1 * (n0 + n1 + 1) / 12.0), 6) + 0.0 AS z,
       round(rank_corr, 6) + 0.0 AS rank_corr
FROM mw ORDER BY event_type
"""


# --- neighbor / runningDifference / runningAccumulate (§2.8 misc) -----------

def q_running_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    order = F.struct(F.col("ts"), F.col("event_id"))
    w = Window.partitionBy("user_id").orderBy(order)
    out = e.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        _r6(
            F.coalesce(
                S.running_difference(F.col("value"), order, ["user_id"]), F.lit(0.0)
            )
        ).alias("rdiff"),
        _r6(S.neighbor(F.col("value"), 1, order, ["user_id"], 0.0)).alias("next_v"),
        _r6(S.running_accumulate(F.col("value"), order, ["user_id"])).alias("racc"),
    )
    return out.filter(F.col("rn") <= 3).orderBy("user_id", "rn")


ORACLE_RUNNING_DIFF = """
SELECT user_id, rn, rdiff, next_v, racc
FROM (
  SELECT user_id,
         row_number() OVER w AS rn,
         round(coalesce(value - lag(value) OVER w, 0), 6) + 0.0 AS rdiff,
         round(coalesce(lead(value) OVER w, 0), 6) + 0.0 AS next_v,
         round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0 AS racc
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
WHERE rn <= 3 ORDER BY user_id, rn
"""


# --- maxIntersections (AggregateFunctionMaxIntersections.h) -----------------

def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # grouped by user_id: bounded per-user groups are the Column-agg's
    # documented domain (the sweep state is a per-key array; an unbounded
    # group would need the window-sweep form the oracle uses)
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            A.max_intersections(F.col("value"), F.col("value") + 10.0).alias(
                "max_overlap"
            )
        )
        .orderBy("user_id")
    )


ORACLE_INTERVAL_OVERLAP = """
WITH pts AS (
  SELECT user_id, value AS p, 1 AS d FROM events
  UNION ALL
  SELECT user_id, value + 10.0 AS p, -1 AS d FROM events
), swept AS (
  SELECT user_id,
         sum(d) OVER (PARTITION BY user_id ORDER BY p, d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
  FROM pts
)
SELECT user_id, CAST(max(cur) AS INT) AS max_overlap
FROM swept GROUP BY user_id ORDER BY user_id
"""


# --- categoricalInformationValue + groupBitmap + anyHeavy -------------------

def q_civ(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    civ = ST.categorical_information_value_df(
        e.withColumn("o", (F.col("user_id") % 2).cast("int")), "event_type", "o"
    )
    bitm = e.agg(A.group_bitmap("user_id").alias("n_users"))
    return civ.crossJoin(bitm).select(
        _r6(F.col("information_value")).alias("iv"),
        "n_users",
    )


ORACLE_CIV = """
WITH per_cat AS (
  SELECT event_type,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::DOUBLE AS g,
         sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::DOUBLE AS b
  FROM events GROUP BY event_type
), tot AS (
  SELECT sum(g) AS gt, sum(b) AS bt FROM per_cat
)
SELECT round(sum((g/gt - b/bt) * (ln(g/gt) - ln(b/bt))), 6) + 0.0 AS iv,
       (SELECT count(DISTINCT user_id) FROM events) AS n_users
FROM per_cat, tot
"""


# --- coding / geo / ngram scalar showcase (§2.8) ----------------------------

def q_scalar_coding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 20)
    ip = (F.col("user_id") * 7919 + F.col("event_id")) % F.lit(4294967296)
    mac = (F.col("user_id") * 104729 + F.col("event_id")) % F.lit(281474976710656)
    lon1 = (F.col("value") % 360) - 180
    lat1 = (F.col("value") % 170) - 85
    lon2 = ((F.col("value") * 3) % 360) - 180
    lat2 = ((F.col("value") * 3) % 170) - 85
    return e.select(
        "event_id",
        S.ipv4_num_to_string(ip).alias("ip4"),
        S.mac_num_to_string(mac).alias("mac"),
        S.bitmask_to_list(F.col("event_id") % 256).alias("bits"),
        _r6(S.great_circle_distance(lon1, lat1, lon2, lat2) / 1000.0).alias("dist_km"),
        _r6(S.ngram_distance(F.col("event_type"), F.lit("purchase"))).alias("ngd"),
    ).orderBy("event_id")


ORACLE_SCALAR_CODING = """
WITH base AS (
  SELECT event_id,
         (user_id * 7919 + event_id) % 4294967296 AS ip,
         (user_id * 104729 + event_id) % 281474976710656 AS mac,
         fmod(value, 360) - 180 AS lon1, fmod(value, 170) - 85 AS lat1,
         fmod(value * 3, 360) - 180 AS lon2, fmod(value * 3, 170) - 85 AS lat2,
         event_type
  FROM events WHERE event_id < 20
), grams AS (
  SELECT event_id,
         list_distinct([substr(event_type, i, 4)
                        FOR i IN range(1, greatest(length(event_type) - 3, 0) + 1)]) AS ga,
         list_distinct([substr('purchase', i, 4) FOR i IN range(1, 6)]) AS gb
  FROM base
)
SELECT b.event_id,
       concat_ws('.', (ip // 16777216) % 256, (ip // 65536) % 256,
                 (ip // 256) % 256, ip % 256) AS ip4,
       concat_ws(':', substr(lpad(lower(hex(mac)), 12, '0'), 1, 2),
                      substr(lpad(lower(hex(mac)), 12, '0'), 3, 2),
                      substr(lpad(lower(hex(mac)), 12, '0'), 5, 2),
                      substr(lpad(lower(hex(mac)), 12, '0'), 7, 2),
                      substr(lpad(lower(hex(mac)), 12, '0'), 9, 2),
                      substr(lpad(lower(hex(mac)), 12, '0'), 11, 2)) AS mac,
       coalesce(array_to_string(list_filter([(2**i)::BIGINT FOR i IN range(0, 63)],
                                   b2 -> ((b.event_id % 256) & b2) <> 0), ','), '') AS bits,
       round(2.0 * 6371.0 * asin(sqrt(
           sin(radians(lat2 - lat1) / 2) ^ 2
           + cos(radians(lat1)) * cos(radians(lat2)) * sin(radians(lon2 - lon1) / 2) ^ 2
       )), 6) + 0.0 AS dist_km,
       round(CASE WHEN len(g.ga) + len(g.gb) = 0 THEN 0.0
                  ELSE 1.0 - 2.0 * len(list_intersect(g.ga, g.gb))
                        / (len(g.ga) + len(g.gb)) END, 6) + 0.0 AS ngd
FROM base b JOIN grams g ON b.event_id = g.event_id
ORDER BY b.event_id
"""


# --- GROUPS window frame (emulated; SURVEY §2.5) ----------------------------

def q_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum(value) OVER (PARTITION BY event_type ORDER BY user_id
    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) via the dense_rank→RANGE
    remap (operators.modifiers.groups_frame_agg). One output row per
    peer group (every row of a group carries the same frame sum)."""
    from daisy_spark.operators.modifiers import groups_frame_agg

    e = _t(spark, sf_dir, "events")
    framed = groups_frame_agg(
        e,
        F.sum("value"),
        ["event_type"],
        ["user_id"],
        -1,
        1,
        "frame_sum",
    )
    return (
        framed.select("event_type", "user_id", _r6(F.col("frame_sum")).alias("frame_sum"))
        .distinct()
        .orderBy("event_type", "user_id")
    )


ORACLE_GROUPS_FRAME = """
WITH g AS (
  SELECT event_type, user_id, sum(value) AS gs
  FROM events GROUP BY event_type, user_id
)
SELECT event_type, user_id,
       round(gs + coalesce(lag(gs) OVER w, 0) + coalesce(lead(gs) OVER w, 0), 6)
         + 0.0 AS frame_sum
FROM g
WINDOW w AS (PARTITION BY event_type ORDER BY user_id)
ORDER BY event_type, user_id
"""


def q_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stochasticLogisticRegression: train on a planted separable target
    (value > 500) with two distributed passes in total (value range,
    then a binned histogram), then report sample count and whether
    held-in accuracy clears 0.95 — a float-order-robust invariant the
    oracle mirrors."""
    e = _t(spark, sf_dir, "events").select(
        F.col("value").cast("double").alias("x"),
        (F.col("value") > 500).cast("int").alias("y"),
    )
    # histogram-compressed trainer: two distributed passes total
    # (range + binned cells), Newton runs driver-side on ≤4096 cells
    w, b = ST.logistic_regression_df(e, ["x"], "y")
    p = ST.logistic_predict(w, b, ["x"])
    return e.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.avg(((p > 0.5).cast("int") == F.col("y")).cast("double")) > 0.95
        ).alias("separates"),
    )


ORACLE_LOGISTIC = """
SELECT count(*) AS n, TRUE AS separates FROM events
"""


QUERIES_STATS: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "logistic_regression": q_logistic,
    "groups_frame": q_groups_frame,
    "ttests": q_ttests,
    "map_aggs": q_map_aggs,
    "moving_sum": q_moving_sum,
    "rank_stats": q_rank_stats,
    "running_diff": q_running_diff,
    "interval_overlap": q_interval_overlap,
    "civ": q_civ,
    "scalar_coding": q_scalar_coding,
}

ORACLE_SQL_STATS: dict[str, str] = {
    "logistic_regression": ORACLE_LOGISTIC,
    "groups_frame": ORACLE_GROUPS_FRAME,
    "ttests": ORACLE_TTESTS,
    "map_aggs": ORACLE_MAP_AGGS,
    "moving_sum": ORACLE_MOVING_SUM,
    "rank_stats": ORACLE_RANK_STATS,
    "running_diff": ORACLE_RUNNING_DIFF,
    "interval_overlap": ORACLE_INTERVAL_OVERLAP,
    "civ": ORACLE_CIV,
    "scalar_coding": ORACLE_SCALAR_CODING,
}
