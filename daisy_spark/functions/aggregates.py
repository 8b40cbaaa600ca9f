"""Aggregate Column builders that no other path implements (SURVEY §2.4).

The dialect's ``plans.dialect.FUNC_MAP`` is the one reference-name ->
Spark mapping: ``sql()``, ``api.search`` and the script engine run
every aggregate name and every combinator (-If, -Array, -OrNull, ...)
through it.  Spark's groupBy().agg() gives the partial/final split,
spill and AQE; a builder here only supplies *semantics*, as a Column
aggregate usable inside ``df.groupBy(...).agg(...)``, and is kept only
where the dialect mapping is not the whole story:

- **Engine callers** (``queries_stats.py``): ``welch_ttest``,
  ``student_ttest``, ``max_intersections``, ``group_bitmap`` and the
  df-level ``map_aggs_df``.
- **The only Spark-expression implementation of a name.**  One executed
  call through ``ScriptRunner`` shows the dialect passes the name
  through unresolved: ``groupArrayMovingSum``, ``groupArrayMovingAvg``,
  ``groupArrayInsertAt``, ``uniqTheta``, ``sumCount``,
  ``simpleLinearRegression``, ``stochasticLinearRegression``.

Time-series aggregates (windowFunnel, retention, ...) live in
``functions/timeseries.py``; struct-based -State/-Merge partial states
in ``functions/states.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


# --- basic / distinct counting -------------------------------------------------

def sum_count(x):
    return F.struct(F.sum(_c(x)).alias("sum"), F.count(_c(x)).alias("count"))


def uniq_theta(x, rsd: float = 0.05):
    """uniqTheta (theta sketch) — approx distinct; HLL++ stands in."""
    return F.approx_count_distinct(_c(x), rsd)


def group_bitmap(x):
    """groupBitmap: cardinality of the distinct-value bitmap
    (AggregateFunctionGroupBitmap.cpp returns cardinality)."""
    return F.countDistinct(_c(x))


# --- arrays / groups -------------------------------------------------------------

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


# --- maps (AggregateFunctionSumMap.cpp) -------------------------------------------

def map_aggs_df(df, group_cols, keys, values, aggs):
    """df-level sumMap/minMap/maxMap — the scale path: explode the parallel
    key/value arrays to narrow (group, k, v) rows, aggregate per
    (group, key) with full map-side partial aggregation, then re-assemble
    the reference's key-sorted entries arrays (one ``collect_list`` per
    output, bounded by the distinct-key count, not the group size).

    Two shuffles total and no whole-group pair array ever materializes,
    where the dialect's sumMap/minMap/maxMap fold each group's pairs in
    one aggregate.

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


# --- statistics --------------------------------------------------------------------

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
