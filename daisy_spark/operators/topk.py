"""Shuffle-efficient top-K by frequency (reference: topK / SpaceSaving,
src/AggregateFunctions/AggregateFunctionTopK.h — exact-first here, since
Catalyst's two-level aggregation replaces the sketch).

The dialect's single-expression ``topK(k)(x)`` folds each group's
values in one buffer — fine for bounded groups, wrong for
high-cardinality ones.  This operator is the scale path: count per
(group, value) with map-side partial aggregation, then rank within group;
both shuffles are on proper keys and no executor ever holds a whole group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k_df(
    df: DataFrame,
    value_col: str,
    k: int = 10,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Top-``k`` most frequent ``value_col`` per group (count desc, value
    asc tiebreak).  Output: group cols + ``value``, ``cnt``, ``rank``.
    """
    group_cols = group_cols or []
    counts = df.groupBy(*group_cols, F.col(value_col).alias("value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("cnt").desc(), F.col("value").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
