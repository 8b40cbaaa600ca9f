"""End-to-end: every queries() entry hash-matches its DuckDB oracle —
the same comparison the driver's correctness gate performs, run at
sf0.001 for speed (driver uses sf0.01)."""

from __future__ import annotations

import math

import pytest

from daisy_spark.queries import ORACLE_SQL, QUERIES


def _normalize(rows, colnames):
    """Order-insensitive, column-name-sorted canonical form."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append((colnames[i], v))
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    sdf = QUERIES[name](spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = duck.execute(ORACLE_SQL[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE_SQL)))
def test_rows_only_queries_run(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


def test_json_extract_parses_props_once(spark, sf_dir):
    """The filter on the extracted key must not copy the JSON parse: the
    executed plan parses ``props`` once per row."""
    sdf = QUERIES["json_extract"](spark, sf_dir)
    sdf.collect()
    plan = sdf._jdf.queryExecution().executedPlan().executedPlan().toString()
    parses = plan.count("json_tuple(") + plan.count("get_json_object(")
    assert parses == 1, plan
