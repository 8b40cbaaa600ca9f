"""Query-modifier macro-operators (SURVEY §2.4, §2.6).

Each reproduces a reference SELECT modifier Spark lacks as a native verb:

- ``limit_by``      LIMIT n BY cols (LimitByStep.cpp / LimitByTransform.cpp)
- ``limit_with_ties`` LIMIT n WITH TIES (LimitTransform.cpp with_ties)
- ``limit_offset``  LIMIT o, n pagination (LimitStep/OffsetStep)
- ``with_fill``     ORDER BY ... WITH FILL FROM/TO/STEP (FillingTransform.cpp)
- ``with_totals``   GROUP BY ... WITH TOTALS (TotalsHavingStep.cpp)
- ``sample_by_key`` SAMPLE k deterministic key-hash sampling
                    (MergeTreeDataSelectExecutor.cpp:578-624)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def limit_by(
    df: DataFrame,
    n: int,
    by: Sequence[str | Column],
    order: Sequence[Column] | None = None,
    offset: int = 0,
) -> DataFrame:
    """LIMIT n [OFFSET o] BY cols: first n rows per distinct `by` group.

    The reference takes rows in stream order (LimitByTransform.cpp); we
    require/encourage an explicit order for determinism (defaults to the
    group columns themselves).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in by]
    ordr = list(order) if order else [F.lit(1)]
    w = Window.partitionBy(*cols).orderBy(*ordr)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") > offset) & (F.col("__rn") <= offset + n))
        .drop("__rn")
    )


def limit_with_ties(
    df: DataFrame,
    n: int,
    order: Sequence[Column],
    tie_cols: Sequence[Column] | None = None,
) -> DataFrame:
    """LIMIT n WITH TIES: keep all rows tying with row n on the sort key.

    Scale shape: a global-window rank would funnel every row through ONE
    task.  Instead take the distributed top-n (TakeOrderedAndProject),
    keep its distinct sort-key tuples (≤ n rows, broadcast), and
    semi-join: a row survives iff its key tuple appears among the top-n
    tuples — exactly WITH TIES semantics, fully parallel.

    ``tie_cols`` are the plain key expressions for tie equality; they
    default to ``order`` (valid when ``order`` entries are plain
    ascending columns — pass ``tie_cols`` explicitly when sorting with
    ``.desc()`` wrappers, which cannot be re-projected).
    """
    ties = list(tie_cols) if tie_cols is not None else list(order)
    top_keys = (
        df.orderBy(*order)
        .limit(n)
        .select(*[t.alias(f"__t{i}") for i, t in enumerate(ties)])
        .distinct()
    )
    cond = None
    for i, t in enumerate(ties):
        c = t.eqNullSafe(F.col(f"__t{i}"))
        cond = c if cond is None else (cond & c)
    return df.join(F.broadcast(top_keys), cond, "left_semi")


def groups_frame_agg(
    df: DataFrame,
    agg: Column,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    start: int,
    end: int,
    out_col: str,
) -> DataFrame:
    """GROUPS window frame (WindowDescription.h:30-38) — Spark has only
    ROWS/RANGE, but GROUPS remaps EXACTLY onto RANGE over the dense_rank
    of the order key: peer rows share a dense_rank value, so
    ``RANGE BETWEEN |start| PRECEDING AND end FOLLOWING`` on that integer
    index includes precisely the peer groups of the GROUPS frame.

    Both windows share the partition key, so the plan keeps ONE exchange
    + sort (the second window reuses the first's ordering).

    ``start``/``end`` use frame offsets (negative = preceding), e.g.
    GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING -> start=-1, end=1.
    """
    from pyspark.sql import Window

    w1 = Window.partitionBy(*partition_by).orderBy(*order_by)
    w2 = (
        Window.partitionBy(*partition_by)
        .orderBy("__grp_idx")
        .rangeBetween(start, end)
    )
    return (
        df.withColumn("__grp_idx", F.dense_rank().over(w1))
        .withColumn(out_col, agg.over(w2))
        .drop("__grp_idx")
    )


def limit_offset(df: DataFrame, limit: int, offset: int = 0) -> DataFrame:
    """LIMIT offset, n — driverless pagination via offset()+limit()."""
    out = df.offset(offset) if offset else df
    return out.limit(limit)


def with_totals(
    df: DataFrame,
    group_cols: Sequence[str],
    aggs: dict[str, Column],
    having: Column | None = None,
) -> DataFrame:
    """GROUP BY ... WITH TOTALS: per-group rows + one grand-total row with
    NULL group keys (reference emits an extra totals block;
    TotalsHavingStep.cpp).  `totals_mode` interplay with HAVING defaults to
    after_having_exclusive = totals computed over all rows.

    Single pass via GROUPING SETS ((cols...), ()) — one scan, one
    aggregation (the naive groupBy + separate df.agg() reads the input
    twice; at 100 TB that is two full scans).  HAVING applies to detail
    rows only; the totals row (grouping_id = all-ones) passes through.
    """
    agg_exprs = [c.alias(name) for name, c in aggs.items()]
    cols = list(group_cols)
    grouped = df.groupingSets([cols, []], *cols).agg(
        *agg_exprs, F.grouping_id(*cols).alias("__gid")
    )
    total_gid = (1 << len(cols)) - 1
    if having is not None:
        grouped = grouped.filter((F.col("__gid") == total_gid) | having)
    return grouped.drop("__gid")


def cube_agg(df: DataFrame, group_cols: Sequence[str], aggs: dict[str, Column]) -> DataFrame:
    """WITH CUBE (CubeStep.cpp) — native Spark cube."""
    return df.cube(*group_cols).agg(*[c.alias(n) for n, c in aggs.items()])


def with_fill(
    df: DataFrame,
    order_col: str,
    step: int = 1,
    from_: int | None = None,
    to: int | None = None,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """ORDER BY col WITH FILL [FROM f] [TO t] [STEP s]
    (FillingTransform.cpp): emit missing grid points between observed rows;
    non-key columns are NULL (reference fills with type defaults — we emit
    NULL and let the caller coalesce, documented divergence in favour of
    explicitness).

    Distributed implementation: per partition_by group, compute the value
    span, generate the grid with ``sequence()``, explode, left-join the
    original rows back — no driver-side loops.
    """
    keys = list(partition_by)
    bounds = df.groupBy(*keys).agg(
        F.min(order_col).alias("__mn"), F.max(order_col).alias("__mx")
    )
    lo = F.lit(from_) if from_ is not None else F.col("__mn")
    hi = F.lit(to - step) if to is not None else F.col("__mx")  # TO bound is exclusive
    grid = bounds.select(
        *keys, F.explode(F.sequence(lo.cast("long"), hi.cast("long"), F.lit(step))).alias(order_col)
    )
    joined = grid.join(df.withColumn(order_col, F.col(order_col).cast("long")),
                       on=keys + [order_col], how="left")
    return joined.orderBy(*keys, order_col)


def with_fill_timestamp(
    df: DataFrame,
    ts_col: str,
    step_seconds: int,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """WITH FILL over a timestamp key with an INTERVAL step."""
    keys = list(partition_by)
    bounds = df.groupBy(*keys).agg(F.min(ts_col).alias("__mn"), F.max(ts_col).alias("__mx"))
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence(
                F.col("__mn"),
                F.col("__mx"),
                F.expr(f"INTERVAL {int(step_seconds)} SECOND"),
            )
        ).alias(ts_col),
    )
    return grid.join(df, on=keys + [ts_col], how="left").orderBy(*keys, ts_col)


def sample_fraction(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """SAMPLE 0.x — plain Bernoulli sample."""
    return df.sample(fraction=fraction, seed=seed)


def sample_by_key(
    df: DataFrame, fraction: float, key_cols: Sequence[str], offset: float = 0.0
) -> DataFrame:
    """SAMPLE k [OFFSET m] — deterministic by sampling-key hash range
    (MergeTreeDataSelectExecutor.cpp:578-624): rows where
    hash(key) falls in [offset, offset+fraction) of the hash space.
    Repeatable across runs and consistent across tables sharing the key.
    """
    h = F.abs(F.xxhash64(*[F.col(c) for c in key_cols]))
    d = F.lit(float(1 << 63))
    u = h / d
    return df.filter((u >= offset) & (u < offset + fraction))
