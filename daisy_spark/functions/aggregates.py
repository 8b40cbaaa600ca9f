"""Aggregate function library incl. combinators (SURVEY §2.4).

Reference registration: src/AggregateFunctions/registerAggregateFunctions.cpp.
Spark's groupBy().agg() already gives partial/final split, spill, and AQE —
this module only supplies *semantics*: each builder returns a Column
aggregate expression usable inside ``df.groupBy(...).agg(...)`` or over a
Window.

Exact-first policy (SURVEY §7.3): ``uniq``/``quantile`` etc. default to
their exact forms so the DuckDB oracle matches; approx variants are exposed
under explicit names (``uniq_approx``/``quantile_approx``) for the 100 TB
path where a sketch is the right answer.

Combinators (reference src/AggregateFunctions/Combinators):
-If    -> agg_if(f, cond, ...)
-Array -> aggregate over exploded/HOF form (array_* helpers)
-Distinct -> f(distinct col)
-OrNull -> or_null(...) wrap
-State/-Merge -> struct-based partial states in ``state.py`` (deferred)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


# --- basic -------------------------------------------------------------------

def count(x=None):
    return F.count(_c(x)) if x is not None else F.count(F.lit(1))


def sum_(x):
    return F.sum(_c(x))


def avg(x):
    return F.avg(_c(x))


def min_(x):
    return F.min(_c(x))


def max_(x):
    return F.max(_c(x))


def any_(x):
    """First encountered value (reference `any`, AggregateFunctionMinMaxAny.cpp).

    Block order is nondeterministic in both engines; Spark's first() with
    ignorenulls matches the contract."""
    return F.first(_c(x), ignorenulls=True)


def any_last(x):
    return F.last(_c(x), ignorenulls=True)


def arg_min(arg, val):
    """Value of ``arg`` at minimal ``val`` (AggregateFunctionArgMinMax)."""
    return F.min_by(_c(arg), _c(val))


def arg_max(arg, val):
    return F.max_by(_c(arg), _c(val))


def avg_weighted(x, w):
    return F.sum(_c(x) * _c(w)) / F.sum(_c(w))


def sum_count(x):
    return F.struct(F.sum(_c(x)).alias("sum"), F.count(_c(x)).alias("count"))


# --- distinct counting ---------------------------------------------------------

def uniq_exact(x):
    return F.countDistinct(_c(x))


def uniq(x):
    """Reference `uniq` is approximate; exact-first for oracle parity."""
    return F.countDistinct(_c(x))


def uniq_approx(x, rsd: float = 0.05):
    return F.approx_count_distinct(_c(x), rsd)


def uniq_up_to(n: int, x):
    """Counts exact distinct up to n, returns n+1 beyond (AggregateFunctionUniqUpTo.h)."""
    return F.least(F.countDistinct(_c(x)), F.lit(n + 1))


# --- quantiles -----------------------------------------------------------------

def quantile_exact(x, q: float = 0.5):
    return F.percentile(_c(x), F.lit(q))


def quantile(x, q: float = 0.5):
    return F.percentile(_c(x), F.lit(q))


def quantiles_exact(x, *qs: float):
    return F.percentile(_c(x), F.array(*[F.lit(q) for q in qs]))


def quantile_approx(x, q: float = 0.5, accuracy: int = 10000):
    """TDigest-style approximate quantile -> percentile_approx."""
    return F.percentile_approx(_c(x), F.lit(q), F.lit(accuracy))


def median(x):
    return F.median(_c(x))


# --- arrays / groups -------------------------------------------------------------

def group_array(x, max_size: int | None = None):
    out = F.collect_list(_c(x))
    if max_size is not None:
        out = F.slice(out, 1, max_size)
    return out


def group_uniq_array(x):
    return F.collect_set(_c(x))


def group_bit_and(x):
    return F.bit_and(_c(x))


def group_bit_or(x):
    return F.bit_or(_c(x))


def group_bit_xor(x):
    return F.bit_xor(_c(x))


# --- maps (AggregateFunctionSumMap.cpp) -------------------------------------------

def sum_map(keys, values):
    """sumMap(k_arr, v_arr): per-key sums as a sorted entries array.

    Collects all (k, v) pairs of the group, then folds per distinct key
    with HOFs — all JVM-side. For very wide groups prefer the
    explode+groupBy form (operators level), which keeps map-side combine.
    """
    pairs = F.flatten(F.collect_list(F.arrays_zip(_c(keys).alias("k"), _c(values).alias("v"))))
    ks = F.array_sort(F.array_distinct(F.transform(pairs, lambda p: p["k"])))
    return F.transform(
        ks,
        lambda k: F.struct(
            k.alias("key"),
            F.aggregate(
                F.filter(pairs, lambda p: p["k"] == k),
                F.lit(0.0),
                lambda a, p: a + p["v"].cast("double"),
            ).alias("value"),
        ),
    )


def map_aggs_df(df, group_cols, keys, values, aggs):
    """df-level sumMap/minMap/maxMap — the scale path: explode the parallel
    key/value arrays to narrow (group, k, v) rows, aggregate per
    (group, key) with full map-side partial aggregation, then re-assemble
    the reference's key-sorted entries arrays (one ``collect_list`` per
    output, bounded by the distinct-key count, not the group size).

    Two shuffles total and no whole-group pair array ever materializes —
    use this instead of the expression-level ``sum_map``/``min_map``/
    ``max_map`` whenever groups can be large.

    ``aggs``: {out_col: callable(Column) -> Column}, e.g. {"sm": F.sum}.
    """
    z = df.select(
        *group_cols,
        F.explode(F.arrays_zip(_c(keys).alias("k"), _c(values).alias("v"))).alias("p"),
    )
    per_key = z.groupBy(*group_cols, F.col("p.k").alias("__k")).agg(
        *[
            fn(F.col("p.v").cast("double")).alias(f"__{name}")
            for name, fn in aggs.items()
        ]
    )
    entries = [
        F.array_sort(
            F.collect_list(
                F.struct(F.col("__k").alias("key"), F.col(f"__{name}").alias("value"))
            )
        ).alias(name)
        for name in aggs
    ]
    return per_key.groupBy(*group_cols).agg(*entries)


def _map_agg(keys, values, seed, combine):
    """Shared builder for sumMap/minMap/maxMap: per-key fold of all (k, v)
    pairs of the group, returned as a key-sorted entries array."""
    pairs = F.flatten(F.collect_list(F.arrays_zip(_c(keys).alias("k"), _c(values).alias("v"))))
    ks = F.array_sort(F.array_distinct(F.transform(pairs, lambda p: p["k"])))
    return F.transform(
        ks,
        lambda k: F.struct(
            k.alias("key"),
            F.aggregate(
                F.filter(pairs, lambda p: p["k"] == k),
                seed,
                combine,
            ).alias("value"),
        ),
    )


def min_map(keys, values):
    """minMap(k_arr, v_arr): per-key minimum (AggregateFunctionSumMap.cpp
    Min variant)."""
    return _map_agg(
        keys, values,
        F.lit(None).cast("double"),
        lambda a, p: F.least(F.coalesce(a, p["v"].cast("double")), p["v"].cast("double")),
    )


def max_map(keys, values):
    """maxMap(k_arr, v_arr): per-key maximum."""
    return _map_agg(
        keys, values,
        F.lit(None).cast("double"),
        lambda a, p: F.greatest(F.coalesce(a, p["v"].cast("double")), p["v"].cast("double")),
    )


def group_array_moving_sum(x, order, window: int | None = None):
    """groupArrayMovingSum(x) ordered by ``order`` (AggregateFunctionMoving.h).

    Returns array[i] = sum of the last ``window`` values up to i (all values
    when window is None). Reference insert-order is nondeterministic; the
    explicit order key makes this deterministic and oracle-comparable.
    """
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct(_c(order).alias("o"), _c(x).alias("v")))),
        lambda s: s["v"].cast("double"),
    )
    if window is None:
        # running prefix sum
        return F.transform(
            vals,
            lambda v, i: F.aggregate(
                F.slice(vals, 1, i + 1), F.lit(0.0), lambda a, b: a + b
            ),
        )
    w = window
    return F.transform(
        vals,
        lambda v, i: F.aggregate(
            F.slice(vals, F.greatest(F.lit(1), i + 2 - w), F.least(i + 1, F.lit(w))),
            F.lit(0.0),
            lambda a, b: a + b,
        ),
    )


def group_array_moving_avg(x, order, window: int | None = None):
    """groupArrayMovingAvg — reference divides by the WINDOW SIZE (not the
    number of accumulated values) for the leading partial windows
    (AggregateFunctionMoving.h get() divides by window_size)."""
    sums = group_array_moving_sum(x, order, window)
    if window is None:
        # whole-group window: divide by group size
        return F.transform(sums, lambda s: s / F.size(sums))
    return F.transform(sums, lambda s: s / F.lit(float(window)))


def group_array_insert_at(x, pos, default=None):
    """groupArrayInsertAt(default)(x, pos): array with x placed at index pos
    (0-based), gaps filled with ``default``
    (AggregateFunctionGroupArrayInsertAt.h). First writer wins per slot in
    the reference; we take the MIN value per slot for determinism."""
    d = F.lit(default)
    pairs = F.array_sort(F.collect_list(F.struct(_c(pos).cast("int").alias("p"), _c(x).alias("v"))))
    width = F.element_at(pairs, -1)["p"] + 1
    return F.transform(
        F.sequence(F.lit(0), width - 1),
        lambda i: F.coalesce(
            F.element_at(F.filter(pairs, lambda s: s["p"] == i), 1)["v"], d
        ),
    )


def group_bitmap(x):
    """groupBitmap: cardinality of the distinct-value bitmap
    (AggregateFunctionGroupBitmap.cpp returns cardinality)."""
    return F.countDistinct(_c(x))


def uniq_theta(x, rsd: float = 0.05):
    """uniqTheta (theta sketch) — approx distinct; HLL++ stands in."""
    return F.approx_count_distinct(_c(x), rsd)


def any_heavy(x):
    """anyHeavy: a frequently-occurring value (heavy-hitter approximation,
    AggregateFunctionMinMaxAny.cpp). Deterministic stand-in: the exact mode."""
    return F.mode(_c(x))


def top_k_weighted(x, w, k: int = 10):
    """topKWeighted: top-k values by summed weight (exact form)."""
    lst = F.collect_list(F.struct(_c(x).cast("string").alias("k"), _c(w).cast("long").alias("w")))
    ks = F.array_distinct(F.transform(lst, lambda s: s["k"]))
    entries = F.transform(
        ks,
        lambda k: F.struct(
            k.alias("key"),
            F.aggregate(
                F.filter(lst, lambda s: s["k"] == k),
                F.lit(0).cast("long"),
                lambda a, s: a + s["w"],
            ).alias("value"),
        ),
    )
    ranked = F.array_sort(
        entries,
        lambda a, b: F.when(a.value > b.value, F.lit(-1))
        .when(a.value < b.value, F.lit(1))
        .when(a.key < b.key, F.lit(-1))
        .when(a.key > b.key, F.lit(1))
        .otherwise(F.lit(0)),
    )
    return F.transform(F.slice(ranked, 1, k), lambda s: s.key)


def max_intersections(start, end):
    """maxIntersections(start, end): max number of simultaneously
    overlapping [start, end) intervals (AggregateFunctionMaxIntersections.h).

    Sweep-line over collected ±1 deltas sorted by point; end-events sort
    before start-events at the same point (half-open intervals)."""
    deltas = F.flatten(
        F.collect_list(
            F.array(
                F.struct(_c(start).cast("double").alias("p"), F.lit(1).alias("d")),
                F.struct(_c(end).cast("double").alias("p"), F.lit(-1).alias("d")),
            )
        )
    )
    swept = F.array_sort(deltas)  # struct sort: by p, then d (-1 before +1)
    return F.aggregate(
        swept,
        F.struct(F.lit(0).alias("cur"), F.lit(0).alias("best")),
        lambda acc, e: F.struct(
            (acc["cur"] + e["d"]).alias("cur"),
            F.greatest(acc["best"], acc["cur"] + e["d"]).alias("best"),
        ),
        lambda acc: acc["best"],
    )


# --- statistics --------------------------------------------------------------------

def var_pop(x):
    return F.var_pop(_c(x))


def var_samp(x):
    return F.var_samp(_c(x))


def stddev_pop(x):
    return F.stddev_pop(_c(x))


def stddev_samp(x):
    return F.stddev_samp(_c(x))


def covar_pop(x, y):
    return F.covar_pop(_c(x), _c(y))


def covar_samp(x, y):
    return F.covar_samp(_c(x), _c(y))


def corr(x, y):
    return F.corr(_c(x), _c(y))


def skew_pop(x):
    return F.skewness(_c(x))


def kurt_pop(x):
    return F.kurtosis(_c(x))


def entropy(x):
    """Shannon entropy of the value distribution (AggregateFunctionEntropy.h).

    Needs two-level aggregation (count per value, then -sum p log2 p); as a
    single Column we use the collect+HOF form — fine for low-cardinality
    columns; high-cardinality callers should use operators.stats.entropy_df.
    """
    counts = F.map_values(
        F.aggregate(
            F.collect_list(_c(x).cast("string")),
            F.create_map().cast("map<string,long>"),
            lambda acc, v: F.map_zip_with(
                acc,
                F.create_map(v, F.lit(1).cast("long")),
                lambda _, a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
            ),
        )
    )
    total = F.aggregate(counts, F.lit(0).cast("long"), lambda a, v: a + v).cast("double")
    return F.aggregate(
        counts,
        F.lit(0.0),
        lambda a, v: a - (v / total) * F.log2(v / total),
    )


def simple_linear_regression(x, y):
    """Returns struct(k, b) of least-squares fit (AggregateFunctionMLMethod)."""
    return F.struct(
        F.regr_slope(_c(y), _c(x)).alias("k"),
        F.regr_intercept(_c(y), _c(x)).alias("b"),
    )


def welch_ttest(x, sample_index):
    """welchTTest(value, sample_index): Welch's two-sample t-test
    (AggregateFunctionTTest.h / WelchTTestData). Returns
    struct(t_stat, df) — the t statistic and Welch–Satterthwaite degrees
    of freedom. Pure moment arithmetic: one hash aggregation, map-side
    combinable, scale-safe. (The reference also evaluates the Student-t
    CDF for a p-value; that requires the incomplete beta function, which
    neither Spark SQL nor the oracle has natively — callers needing a
    p-value apply scipy on the 2-value result, which is driver-side O(1).)
    """
    v = _c(x).cast("double")
    g = _c(sample_index).cast("int")
    n0 = F.count(F.when(g == 0, v))
    n1 = F.count(F.when(g == 1, v))
    m0 = F.avg(F.when(g == 0, v))
    m1 = F.avg(F.when(g == 1, v))
    s0 = F.var_samp(F.when(g == 0, v))
    s1 = F.var_samp(F.when(g == 1, v))
    se2 = s0 / n0 + s1 / n1
    t = (m0 - m1) / F.sqrt(se2)
    df = (se2 * se2) / (
        (s0 / n0) * (s0 / n0) / (n0 - 1) + (s1 / n1) * (s1 / n1) / (n1 - 1)
    )
    return F.struct(t.alias("t_stat"), df.alias("df"))


def student_ttest(x, sample_index):
    """studentTTest(value, sample_index): equal-variance two-sample t-test.
    Returns struct(t_stat, df) with pooled variance, df = n0+n1-2."""
    v = _c(x).cast("double")
    g = _c(sample_index).cast("int")
    n0 = F.count(F.when(g == 0, v))
    n1 = F.count(F.when(g == 1, v))
    m0 = F.avg(F.when(g == 0, v))
    m1 = F.avg(F.when(g == 1, v))
    s0 = F.var_samp(F.when(g == 0, v))
    s1 = F.var_samp(F.when(g == 1, v))
    sp2 = ((n0 - 1) * s0 + (n1 - 1) * s1) / (n0 + n1 - 2)
    t = (m0 - m1) / F.sqrt(sp2 * (F.lit(1.0) / n0 + F.lit(1.0) / n1))
    return F.struct(t.alias("t_stat"), (n0 + n1 - 2).cast("double").alias("df"))


def stochastic_linear_regression(x, y):
    """stochasticLinearRegression (AggregateFunctionMLMethod.h) trains by
    SGD in the reference; for a single feature the deterministic
    least-squares solution is strictly better and one hash agg — alias of
    :func:`simple_linear_regression` (struct(k, b))."""
    return simple_linear_regression(x, y)


def categorical_information_value(cat, outcome):
    """categoricalInformationValue(category, outcome):
    IV = Σ_cat (good% − bad%)·ln(good%/bad%)
    (AggregateFunctionCategoricalInformationValue.h; outcome ∈ {0,1}).
    Column form uses the collect+HOF fold — per-group cardinality =
    number of categories (small); df-level two-level groupBy variant in
    functions/stats.py scales to high-cardinality categories."""
    c = _c(cat).cast("string")
    o = _c(outcome).cast("int")
    pairs = F.collect_list(F.struct(c.alias("c"), o.alias("o")))
    cats = F.array_distinct(F.transform(pairs, lambda p: p["c"]))
    tot1 = F.aggregate(pairs, F.lit(0), lambda a, p: a + p["o"]).cast("double")
    tot0 = (F.size(pairs) - tot1).cast("double")
    return F.aggregate(
        cats,
        F.lit(0.0),
        lambda acc, k: acc
        + (
            (
                F.size(F.filter(pairs, lambda p: (p["c"] == k) & (p["o"] == 1))) / tot1
                - F.size(F.filter(pairs, lambda p: (p["c"] == k) & (p["o"] == 0))) / tot0
            )
            * (
                F.log(
                    F.size(F.filter(pairs, lambda p: (p["c"] == k) & (p["o"] == 1))) / tot1
                )
                - F.log(
                    F.size(F.filter(pairs, lambda p: (p["c"] == k) & (p["o"] == 0))) / tot0
                )
            )
        ),
    )


# --- combinators ---------------------------------------------------------------------

def agg_if(agg_builder, cond: Column, *args):
    """-If combinator: f_If(args, cond) == f(args) over rows where cond.

    e.g. ``agg_if(sum_, col('a') > 0, col('x'))``.
    Implemented with Spark's native FILTER clause semantics via when():
    null rows are ignored by all Spark aggregates except count(*).
    """
    masked = [F.when(cond, _c(a)) for a in args]
    return agg_builder(*masked)


def count_if(cond: Column):
    return F.count(F.when(cond, F.lit(1)))


def sum_if(x, cond: Column):
    return F.coalesce(F.sum(F.when(cond, _c(x))), F.lit(0))


def avg_if(x, cond: Column):
    return F.avg(F.when(cond, _c(x)))


def or_null(agg_col: Column, count_col: Column | None = None):
    """-OrNull: null instead of default when no rows aggregated."""
    guard = count_col if count_col is not None else F.count(F.lit(1))
    return F.when(guard > 0, agg_col)


def sum_array(x):
    """-Array combinator for sum: sum over all array elements of the group."""
    return F.sum(F.aggregate(_c(x), F.lit(0.0), lambda a, v: a + v.cast("double")))


def uniq_array(x):
    """uniqArray: distinct elements across all arrays in the group."""
    return F.size(F.array_distinct(F.flatten(F.collect_list(_c(x)))))


# --- topK ------------------------------------------------------------------------------

def top_k(x, k: int = 10):
    """Exact topK by frequency (reference topK is approx SpaceSaving;
    exact-first for oracle parity). Returns array of the k most frequent
    values, count-desc then value-asc for determinism.

    Single-expression form: build counts map via collect + HOF. For
    high-cardinality groups prefer operators.topk.top_k_df (two-level
    groupBy, shuffle-efficient).
    """
    lst = F.collect_list(_c(x).cast("string"))
    counts = F.aggregate(
        lst,
        F.create_map().cast("map<string,long>"),
        lambda acc, v: F.map_zip_with(
            acc,
            F.create_map(v, F.lit(1).cast("long")),
            lambda _, a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
        ),
    )
    entries = F.map_entries(counts)  # array<struct<key,value>>
    ranked = F.array_sort(
        entries,
        lambda a, b: F.when(a.value > b.value, F.lit(-1))
        .when(a.value < b.value, F.lit(1))
        .when(a.key < b.key, F.lit(-1))
        .when(a.key > b.key, F.lit(1))
        .otherwise(F.lit(0)),
    )
    return F.transform(F.slice(ranked, 1, k), lambda s: s.key)


AGGREGATES = {
    "count": count, "sum": sum_, "avg": avg, "min": min_, "max": max_,
    "any": any_, "anyLast": any_last, "anyHeavy": any_heavy,
    "argMin": arg_min, "argMax": arg_max,
    "avgWeighted": avg_weighted, "sumCount": sum_count,
    "uniq": uniq, "uniqExact": uniq_exact, "uniqCombined": uniq_approx,
    "uniqHLL12": uniq_approx, "uniqUpTo": uniq_up_to, "uniqTheta": uniq_theta,
    "quantile": quantile, "quantileExact": quantile_exact,
    "quantiles": quantiles_exact, "quantileTDigest": quantile_approx,
    "quantileTiming": quantile_exact,
    "median": median,
    "groupArray": group_array, "groupUniqArray": group_uniq_array,
    "groupArrayInsertAt": group_array_insert_at,
    "groupArrayMovingSum": group_array_moving_sum,
    "groupArrayMovingAvg": group_array_moving_avg,
    "groupBitAnd": group_bit_and, "groupBitOr": group_bit_or,
    "groupBitXor": group_bit_xor, "groupBitmap": group_bitmap,
    "varPop": var_pop, "varSamp": var_samp, "stddevPop": stddev_pop,
    "stddevSamp": stddev_samp, "covarPop": covar_pop, "covarSamp": covar_samp,
    "corr": corr, "skewPop": skew_pop, "kurtPop": kurt_pop,
    "entropy": entropy, "simpleLinearRegression": simple_linear_regression,
    "stochasticLinearRegression": stochastic_linear_regression,
    "welchTTest": welch_ttest, "studentTTest": student_ttest,
    "categoricalInformationValue": categorical_information_value,
    "countIf": count_if, "sumIf": sum_if, "avgIf": avg_if,
    "topK": top_k, "topKWeighted": top_k_weighted,
    "sumMap": sum_map, "minMap": min_map, "maxMap": max_map,
    "sumArray": sum_array, "uniqArray": uniq_array,
    "maxIntersections": max_intersections,
}

# Time-series aggregates live in functions/timeseries.py; registered here so
# a dialect/registry consumer resolves every reference aggregate name in one
# place. deltaSumTimestamp == our deltaSum (ours is already timestamp-ordered;
# the reference's plain deltaSum relies on block order, which is
# nondeterministic there — AggregateFunctionDeltaSumTimestamp.h).
from daisy_spark.functions import timeseries as _ts  # noqa: E402

AGGREGATES.update({
    "windowFunnel": _ts.window_funnel,
    "retention": _ts.retention,
    "sequenceMatch": _ts.sequence_match,
    "sequenceCount": _ts.sequence_count,
    "deltaSum": _ts.delta_sum,
    "deltaSumTimestamp": _ts.delta_sum,
    "rate": _ts.rate,
    "boundingRatio": _ts.rate,
    "histogram": _ts.histogram,
    "segmentLengthSum": _ts.segment_length_sum,
})
