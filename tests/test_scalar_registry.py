"""Array/JSON/map/tuple functions evaluate to the reference semantics.

A name the dialect serves runs as one ``SELECT name(args)`` through
``plans.sql``.  A name it passes through unresolved runs through its
Column builder, the only Spark-expression implementation it has."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from daisy_spark.functions import scalar as S
from daisy_spark.plans import sql

#: names the dialect does not resolve: their Column builders
_BUILDERS = {
    "arrayAvg": S.array_avg,
    "arrayElement": S.array_element,
    "JSONExtractKeys": S.json_extract_keys,
    "mapContains": S.map_contains,
}


# make_args returns the SQL argument list of a dialect call, or the
# Column arguments of a builder call
@pytest.mark.parametrize(
    "name,make_args,expected",
    [
        ("arrayMap", lambda: "x -> x * 10, [1, 2]", [10, 20]),
        ("arrayFilter", lambda: "x -> x > 2, [1, 5]", [5]),
        ("arrayExists", lambda: "x -> x > 4, [1, 5]", True),
        ("arrayAll", lambda: "x -> x > 0, [1, 5]", True),
        ("arrayCount", lambda: "x -> x > 2, [1, 5]", 1),
        ("arraySum", lambda: "[1.5, 2.5]", 4.0),
        ("arrayAvg", lambda: (F.array(F.lit(2.0), F.lit(4.0)),), 3.0),
        ("arrayUniq", lambda: "[1, 1, 2]", 2),
        ("arrayCompact", lambda: "[1, 1, 2, 1]", [1, 2, 1]),
        ("arrayDifference", lambda: "[1, 4, 2]", [0, 3, -2]),
        ("arrayCumSum", lambda: "[1, 2, 3]", [1, 3, 6]),
        ("arrayPushBack", lambda: "[1], 2", [1, 2]),
        ("arrayPopFront", lambda: "[1, 2]", [2]),
        ("arraySlice", lambda: "[1, 2, 3], 2, 2", [2, 3]),
        ("hasAll", lambda: "[1, 2], [2]", True),
        ("hasAny", lambda: "[1], [9]", False),
        ("indexOf", lambda: "['a', 'b'], 'b'", 2),
        ("arrayElement", lambda: (F.array(F.lit(7), F.lit(8)), -1), 8),
        # the reference pads with the element type's default, 0 for Int32
        ("emptyArrayToSingle", lambda: "CAST([] AS Array(Int32))", [0]),
        ("JSONExtractString", lambda: "'{\"k\": \"x\"}', 'k'", "x"),
        ("JSONExtractInt", lambda: "'{\"k\": 7}', 'k'", 7),
        ("JSONHas", lambda: "'{\"k\": 7}', 'q'", False),
        ("JSONLength", lambda: "'{\"a\": 1, \"b\": 2}'", 2),
        ("JSONExtractKeys", lambda: (F.lit('{"a": 1, "b": 2}'),), ["a", "b"]),
        ("mapKeys", lambda: "map('k', 1)", ["k"]),
        ("mapContains", lambda: (F.create_map(F.lit("k"), F.lit(1)), F.lit("k")), True),
        ("tupleElement", lambda: "tuple(10, 20), 2", 20),
        ("range", lambda: "3", [0, 1, 2]),
    ],
)
def test_array_json_semantics(spark, name, make_args, expected):
    args = make_args()
    if isinstance(args, str):
        got = sql(spark, f"SELECT {name}({args}) AS v").collect()[0].v
    else:
        got = spark.range(1).select(_BUILDERS[name](*args).alias("v")).collect()[0].v
    assert got == expected, f"{name}: {got!r} != {expected!r}"
