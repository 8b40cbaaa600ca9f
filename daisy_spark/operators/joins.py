"""Join macro-operators (SURVEY §2.3).

Reference join grammar: src/Parsers/ASTTablesInSelectQuery.h:75-129
(strictness All/Any/RightAny/Asof/Semi/Anti × kind Inner/Left/Right/Full/
Cross).  Native Spark covers ALL×{inner,left,right,full}, SEMI/ANTI, CROSS;
this module supplies the rest:

- ``asof_join``  — reference HashJoin.h:83 + RowRefs.h:243 (sorted lookup of
  nearest value).  Spark-first implementation: union both sides tagged,
  single window pass per equi-key group — ONE shuffle, no range explosion,
  scales with data size not time-range size.
- ``any_join``   — HashJoin.h:76-77 (at most one build-side match).
  Implemented as build-side dedup + normal join, preserving Spark's
  broadcast/shuffled-hash choice.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _is_sort_order(c: Column) -> bool:
    s = str(c)
    return " ASC" in s or " DESC" in s


def any_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    right_order: list[Column] | None = None,
) -> DataFrame:
    """ANY JOIN: join with at most one matching right-side row per key.

    The reference keeps the *first inserted* right row per key
    (HashJoin.h "Any" maps). Insert order is nondeterministic there too, so
    callers wanting determinism pass ``right_order``; default takes an
    arbitrary-but-stable first row per key.

    Scale shape: when ``right_order`` is plain ascending columns (or
    absent), the right side reduces with ONE hash aggregation —
    ``min_by(payload-struct, order-struct)`` — which partially aggregates
    map-side, so the shuffle carries one row per key per input partition.
    Sort-order columns (.desc()/.asc_nulls_last()) fall back to the
    row_number window (shuffle + per-key sort), which cannot map-side
    combine.
    """
    payload_cols = [c for c in right.columns if c not in on]
    plain = right_order is None or all(
        not _is_sort_order(c) for c in right_order
    )
    if plain:
        ordk = (
            F.struct(*right_order)
            if right_order is not None
            else F.lit(1)
        )
        payload = F.struct(*[F.col(c) for c in payload_cols])
        deduped = right.groupBy(*[F.col(c) for c in on]).agg(
            F.min_by(payload, ordk).alias("__p")
        )
        deduped = deduped.select(
            *on, *[F.col("__p").getField(c).alias(c) for c in payload_cols]
        )
    else:
        w = Window.partitionBy(*[F.col(c) for c in on]).orderBy(*right_order)
        deduped = (
            right.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    return left.join(deduped, on=on, how=how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    strict: bool = False,
    how: str = "inner",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """ASOF JOIN: for each left row, the nearest right row by time within
    equal ``on`` keys.

    direction='backward' matches reference ``l.ts >= r.ts`` (take latest
    right row at-or-before); 'forward' matches ``l.ts <= r.ts``; ``strict``
    makes the inequality strict (reference supports all four:
    src/Interpreters/asof.h:9-16).

    Implementation (Spark-first, single shuffle):
      1. tag + union both sides on the equi-keys,
      2. one window sorted by (keys, ts, side-tag):
         ``last(right_value, ignorenulls=True)`` over rows-unbounded-preceding
         gives each left row the most recent right row at-or-before it,
      3. keep left rows, unpack the matched struct.

    This avoids a range-join explosion and scales as sort-shuffle of
    |L|+|R| — the same asymptotics as the reference's sorted RowRefs lookup.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be backward|forward")
    if how not in ("inner", "left"):
        raise ValueError(
            f"asof_join supports how='inner'|'left', got {how!r}"
        )
    rcols = right_cols or [c for c in right.columns if c not in on and c != right_ts]
    collisions = set(rcols) & set(left.columns)
    if collisions:
        raise ValueError(
            f"right_cols collide with left columns: {sorted(collisions)}; "
            "rename the right side before joining"
        )

    # tag: right rows must sort BEFORE left rows at equal timestamps for
    # non-strict backward (>=), AFTER for strict (>)
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn(
        "__is_left", F.lit(True)
    ).withColumn("__rmatch", F.lit(None).cast(
        "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in rcols) + ">"
    ))
    rt = (
        right.withColumn("__ts", F.col(right_ts))
        .withColumn("__is_left", F.lit(False))
        .withColumn("__rmatch", F.struct(*[F.col(c) for c in rcols]))
    )
    lt = lt.select(*on, "__ts", "__is_left", "__rmatch", *[c for c in left.columns if c not in on])
    rt = rt.select(*on, "__ts", "__is_left", "__rmatch", *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in on])
    unioned = lt.unionByName(rt)

    if direction == "forward":
        ts_order = F.col("__ts").desc()
        # forward non-strict: right at equal ts counts -> right first in desc too
    else:
        ts_order = F.col("__ts").asc()
    # side order: non-strict => right (False) sorts before left at equal ts;
    # strict => left sorts before right (so equal-ts right is not visible)
    side_order = F.col("__is_left").asc() if not strict else F.col("__is_left").desc()

    w = (
        Window.partitionBy(*on)
        .orderBy(ts_order, side_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn("__m", F.last("__rmatch", ignorenulls=True).over(w))
    out = matched.filter(F.col("__is_left")).drop("__is_left", "__ts", "__rmatch")
    if how == "inner":
        out = out.filter(F.col("__m").isNotNull())
    for c in rcols:
        out = out.withColumn(c, F.col("__m").getField(c))
    return out.drop("__m").select(*left.columns, *rcols)


def cross_join(left: DataFrame, right: DataFrame) -> DataFrame:
    return left.crossJoin(right)
