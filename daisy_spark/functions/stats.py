"""Statistical-test aggregates — df-level scale path (SURVEY §2.4 ML/stats).

Reference: src/AggregateFunctions/AggregateFunctionMannWhitney.h,
AggregateFunctionRankCorrelation.h,
AggregateFunctionCategoricalInformationValue.h.

The rank-based tests need ranks over the whole group, which the reference
computes by buffering every value in the aggregation state
(MannWhitney keeps two PODArrays per group). On Spark the same statistic
is a WINDOW rank — one shuffle on the group key, sort spills to disk, no
per-key memory buffer — so these are DataFrame transforms, not Column
aggregates. Moment-based tests (welch/studentTTest) have closed-form
Column builders in aggregates.py.

Each function returns one row per group: ``group_cols + result columns``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _gw(group_cols: list[str]):
    return Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()


def avg_rank(col: str, group_cols: list[str]):
    """Average rank with ties (the reference's fractional ranks):
    rank() + (tie_run_length - 1) / 2.

    The tie-run length comes from a RANGE frame (currentRow, currentRow)
    on the SAME window spec as the rank — the frame spans exactly the
    rows tying on the order key, so no second window partitioned by
    (group, col) is needed (that form cost an extra exchange + sort per
    ranked column; removed r13, byte-identical by construction)."""
    w = _gw(group_cols).orderBy(F.col(col).cast("double"))
    ties = F.count(F.lit(1)).over(
        w.rangeBetween(Window.currentRow, Window.currentRow)
    )
    return F.rank().over(w) + (ties - 1) / 2.0


def mann_whitney_u_test_df(
    df: DataFrame,
    value: str,
    sample_index: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """mannWhitneyUTest(value, sample_index): U statistics of the two
    samples (index 0/1), with average ranks for ties (the reference's
    'continuity-corrected ranks').

    Plan shape: one window rank over (group, value) + one hash
    aggregation — both shuffle on the group key, the sort spills.
    Returns ``group_cols + [u0, u1, z]`` where z is the tie-uncorrected
    normal approximation of u0.
    """
    group_cols = group_cols or []
    ranked = df.withColumn("__avgrank", avg_rank(value, group_cols))
    g = F.col(sample_index).cast("int")
    agg = ranked.groupBy(*group_cols).agg(
        F.sum(F.when(g == 0, F.col("__avgrank"))).alias("__r0"),
        F.count(F.when(g == 0, F.lit(1))).alias("__n0"),
        F.count(F.when(g == 1, F.lit(1))).alias("__n1"),
    )
    n0, n1 = F.col("__n0").cast("double"), F.col("__n1").cast("double")
    u0 = F.col("__r0") - n0 * (n0 + 1) / 2.0
    u1 = n0 * n1 - u0
    mean_u = n0 * n1 / 2.0
    sd_u = F.sqrt(n0 * n1 * (n0 + n1 + 1) / 12.0)
    return agg.select(
        *group_cols,
        u0.alias("u0"),
        u1.alias("u1"),
        ((u0 - mean_u) / sd_u).alias("z"),
    )


def rank_corr_df(
    df: DataFrame,
    x: str,
    y: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """rankCorr(x, y): Spearman rank correlation = Pearson corr of the
    average ranks of x and y (AggregateFunctionRankCorrelation.h).

    Two window ranks (same partition key, different sort) + corr — the
    shuffles spill; no per-key buffer. Returns ``group_cols + [rank_corr]``.
    """
    group_cols = group_cols or []
    ranked = df.withColumn("__rx", avg_rank(x, group_cols)).withColumn(
        "__ry", avg_rank(y, group_cols)
    )
    return ranked.groupBy(*group_cols).agg(
        F.corr("__rx", "__ry").alias("rank_corr")
    )


def categorical_information_value_df(
    df: DataFrame,
    category: str,
    outcome: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """categoricalInformationValue(category, outcome) at scale: two-level
    hash aggregation (per-category counts, then the IV fold) — map-side
    combinable at both levels, no row buffer. Returns
    ``group_cols + [information_value]``."""
    group_cols = group_cols or []
    o = F.col(outcome).cast("int")
    per_cat = df.groupBy(*group_cols, category).agg(
        F.sum(o).alias("__g"),
        F.sum(1 - o).alias("__b"),
    )
    wt = _gw(group_cols)
    with_tot = per_cat.withColumn("__gt", F.sum("__g").over(wt)).withColumn(
        "__bt", F.sum("__b").over(wt)
    )
    gp = F.col("__g") / F.col("__gt")
    bp = F.col("__b") / F.col("__bt")
    return with_tot.groupBy(*group_cols).agg(
        F.sum((gp - bp) * (F.log(gp) - F.log(bp))).alias("information_value")
    )


#: cap on the driver-side Newton iterations of logistic_regression_df
LOGISTIC_NEWTON_ITERS = 50


def logistic_regression_df(
    df: DataFrame,
    x_cols: list[str],
    label_col: str,
    lr: float = 2.0,
    tol: float = 1e-4,
) -> tuple[list[float], float]:
    """stochasticLogisticRegression
    (src/AggregateFunctions/AggregateFunctionMLMethod.cpp) — the
    reference trains by SGD over arena-held state; here the
    histogram-compressed trainer every scale-out GBDT/linear system
    uses (LightGBM-style feature binning): TWO distributed passes
    total, independent of iteration count.  Pass 1 aggregates the
    per-feature value range; pass 2 builds a joint feature histogram
    (≤ 4096 occupied cells, each carrying its exact per-cell feature
    means, row count and positive count — a lossless sufficient
    statistic wherever a cell is label-pure).  Damped Newton then runs
    to convergence on the weighted cells driver-side.  The previous
    full-batch gradient-descent form paid one full scan of the
    training projection PER ITERATION (12-30 scans; at 100 TB that is
    the whole job cost, and even on cached data each pass is a job of
    scheduling latency) — guide §1.2/§8: iterate on a lightweight
    proxy, touch the data a constant number of times.  The driver
    holds only the bounded cell table, never data rows.  Features are
    standardized internally; returned weights are de-standardized.
    ``lr`` keeps its meaning as a step-norm bound and ``tol`` is the
    gradient stopping threshold; the driver-side Newton loop runs at
    most ``LOGISTIC_NEWTON_ITERS`` iterations — on ≤ 4096 cells each is
    microseconds, and the tol-based early exit normally stops the loop
    long before the bound.

    Returns ``(weights, bias)`` for p = sigmoid(w·x + b).
    """
    import math

    k = len(x_cols)
    proj_all = df.select(
        *[F.col(c).cast("double").alias(f"_x{i}") for i, c in enumerate(x_cols)],
        F.col(label_col).cast("double").alias("_y"),
    )
    # rows with a NULL feature or label are excluded from TRAINING (the
    # pre-r12 full-batch form dropped them implicitly via avg()'s null
    # propagation; the binning form must drop them explicitly — a NULL
    # would otherwise land in the top bin via least() and an all-NULL
    # cell crashes the float() on its NULL mean).  The range pass stays
    # UNFILTERED: min/max skip NULLs natively, so the filter buys
    # nothing there and only costs row evaluation (bin edges from
    # column-wise ranges can only widen vs row-dropped ranges, which
    # keeps every retained row in-bounds)
    proj = proj_all.na.drop()
    # cells per feature: joint grid bounded at ~4096 cells total, the
    # histogram resolution GBDT trainers use per feature
    bins = max(int(round(4096 ** (1.0 / k))), 2)

    # pass 1: per-feature value range (bin edges must be global)
    stat = proj_all.agg(
        *[F.min(f"_x{i}").alias(f"mn{i}") for i in range(k)],
        *[F.max(f"_x{i}").alias(f"mx{i}") for i in range(k)],
    ).collect()[0]
    mns = [float(stat[f"mn{i}"] or 0.0) for i in range(k)]
    mxs = [float(stat[f"mx{i}"] or 0.0) for i in range(k)]
    widths = [((mxs[i] - mns[i]) / bins) or 1.0 for i in range(k)]

    # pass 2: joint histogram — per occupied cell the EXACT feature
    # means, the row count and the positive count.  ≤ 4096 rows come
    # back to the driver (bounded by construction, never by data size).
    bin_cols = [
        F.least(
            F.floor((F.col(f"_x{i}") - mns[i]) / widths[i]).cast("int"),
            F.lit(bins - 1),
        ).alias(f"_b{i}")
        for i in range(k)
    ]
    cells = (
        proj.groupBy(*bin_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_y").alias("_pos"),
            *[F.avg(f"_x{i}").alias(f"_c{i}") for i in range(k)],
        )
        .collect()
    )
    import numpy as np

    if not cells:
        # no trainable rows (empty input or every row had a NULL
        # feature/label) -> zero model rather than a numpy shape error
        return [0.0] * k, 0.0

    # deterministic driver-side order (float summation order fixed)
    cells.sort(key=lambda r: tuple(r[f"_b{i}"] for i in range(k)))
    xs = np.array([[float(r[f"_c{i}"]) for i in range(k)] for r in cells])
    wgt = np.array([float(r["_n"]) for r in cells])
    pos = np.array([float(r["_pos"]) for r in cells])
    ntot = wgt.sum() or 1.0

    # standardized features for stable Newton steps
    means = (xs * wgt[:, None]).sum(axis=0) / ntot
    stds = np.sqrt(((xs - means) ** 2 * wgt[:, None]).sum(axis=0) / ntot)
    stds[stds == 0.0] = 1.0
    z = np.hstack([(xs - means) / stds, np.ones((len(cells), 1))])

    # exact weighted Newton on the cells until the gradient is flat —
    # driver-side numpy on ≤ 4096 points, no further cluster passes
    coef = np.zeros(k + 1)
    step_cap = max(float(lr) * 5.0, 10.0)
    for _ in range(LOGISTIC_NEWTON_ITERS):
        p = 1.0 / (1.0 + np.exp(-np.clip(z @ coef, -500.0, 500.0)))
        err = (wgt * p - pos) / ntot  # Σ (p - y) per cell
        grad = z.T @ err
        if np.abs(grad).max() < tol:
            break
        pq = wgt * p * (1.0 - p) / ntot
        hess = (z * pq[:, None]).T @ z + 1e-9 * np.eye(k + 1)
        d = np.linalg.solve(hess, grad)
        nrm = np.abs(d).max() or 1.0
        if nrm > step_cap:
            d *= step_cap / nrm
        coef -= d
    w_out = [float(coef[i] / stds[i]) for i in range(k)]
    b_out = float(coef[k] - sum(coef[i] * means[i] / stds[i] for i in range(k)))
    return w_out, b_out


def logistic_predict(w: list[float], b: float, x_cols: list[str]):
    """Column of sigmoid(w·x + b) from a trained coefficient vector."""
    z = F.lit(float(b))
    for wi, c in zip(w, x_cols):
        z = z + F.lit(float(wi)) * F.col(c).cast("double")
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
