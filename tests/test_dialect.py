"""SQL dialect front-end: reference-dialect queries run through
translate() + spark.sql() and are checked against DuckDB running the
equivalent ANSI SQL on the same parquet."""

from __future__ import annotations

import math
import os

import pytest

from daisy_spark.plans.dialect import DialectError, translate
from daisy_spark.plans import sql as dsql

SF_DIR = os.environ.get("DAISY_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def views(spark):
    from daisy_spark.catalog import load_table

    for t in ("events", "orders", "customer", "lineitem", "documents"):
        load_table(spark, SF_DIR, t).createOrReplaceTempView(t)
    return spark


def _norm(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else round(v, 6))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def check(spark, duck, ch_sql, duck_sql):
    got = _norm([tuple(r) for r in dsql(spark, ch_sql).collect()])
    want = _norm(duck.execute(duck_sql).fetchall())
    assert got == want, f"first diff: {[p for p in zip(got, want) if p[0] != p[1]][:3]}"


# --------------------------------------------------------------------------
# translate() unit checks
# --------------------------------------------------------------------------

def test_function_mapping():
    out = translate(
        "SELECT toStartOfHour(ts) AS h, countIf(x > 1) AS c FROM t GROUP BY h"
    ).spark_sql
    assert "date_trunc('HOUR', ts)" in out
    assert "count_if" in out


def test_with_totals_rewrite():
    out = translate("SELECT k, count() FROM t GROUP BY k WITH TOTALS").spark_sql
    assert "GROUPING SETS" in out


def test_settings_extracted():
    res = translate("SELECT 1 FROM t SETTINGS max_threads = 4")
    assert res.settings == {"max_threads": "4"}
    assert "SETTINGS" not in res.spark_sql


@pytest.fixture
def settings_spark(spark):
    """The session for a test that runs a query with SETTINGS: sql()
    applies them to the session, so the shuffle width is put back."""
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    yield spark
    spark.conf.set(conf, before)


def test_union_settings_per_part_later_wins(settings_spark):
    q = (
        "SELECT 1 AS a SETTINGS max_threads = 3 "
        "UNION ALL SELECT 2 AS a SETTINGS max_threads = 2"
    )
    res = translate(q)
    assert res.settings == {"max_threads": "2"}
    assert "SETTINGS" not in res.spark_sql
    assert sorted(r.a for r in dsql(settings_spark, q).collect()) == [1, 2]


def test_with_query_returns_body_settings():
    res = translate(
        "WITH x AS (SELECT 1 AS a) SELECT * FROM x SETTINGS max_threads = 2"
    )
    assert res.settings == {"max_threads": "2"}
    assert "SETTINGS" not in res.spark_sql


def test_pipe_where_stage_settings_split_off(settings_spark):
    q = "SELECT a FROM pipe_settings_t | WHERE a > 1 SETTINGS max_threads = 2"
    res = translate(q)
    assert res.settings == {"max_threads": "2"}
    assert "SETTINGS" not in res.spark_sql
    settings_spark.createDataFrame(
        [(1,), (2,), (3,)], "a INT"
    ).createOrReplaceTempView("pipe_settings_t")
    assert sorted(r.a for r in dsql(settings_spark, q).collect()) == [2, 3]


def test_select_translated_in_one_pass(monkeypatch):
    import daisy_spark.plans.dialect as D

    calls = []
    real = D._translate_select_tokens

    def counting(toks):
        calls.append(toks)
        return real(toks)

    monkeypatch.setattr(D, "_translate_select_tokens", counting)
    res = D.translate("SELECT a FROM t WHERE a > 1 SETTINGS max_threads = 4")
    assert len(calls) == 1
    assert res.settings == {"max_threads": "4"}


def test_asof_translation_is_pure():
    q = "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t"
    first = translate(q).spark_sql
    translate("SELECT * FROM c ASOF LEFT JOIN d USING(k, t)")
    assert translate(q).spark_sql == first
    assert "AS __asof_0" in first


def test_stream_flag():
    res = translate("SELECT STREAM count() FROM t")
    assert res.is_stream


def test_asof_join_lowered_to_union_window():
    # scale-safe plan: union both sides, one window pass — NOT the
    # O(|L|*|R|) decorrelated lateral
    out = translate(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t"
    ).spark_sql
    assert "LATERAL" not in out
    assert "UNION ALL" in out and "IGNORE NULLS" in out
    assert "PARTITION BY __k0" in out
    # inner join: unmatched left rows filtered
    assert "__rm IS NOT NULL" in out


def test_asof_left_join_using():
    out = translate("SELECT * FROM a ASOF LEFT JOIN b USING(k, t)").spark_sql
    assert "LATERAL" not in out
    assert "UNION ALL" in out and "IGNORE NULLS" in out
    # left join keeps unmatched rows
    assert "__rm IS NOT NULL" not in out


def test_asof_strict_direction_tags():
    # strict inequality: right rows sort AFTER left at equal ts (tag 2)
    out = translate(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t > b.t"
    ).spark_sql
    assert ", 2, NULL, struct(b.*)" in out
    # forward: window scans time descending
    out2 = translate(
        "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t < b.t"
    ).spark_sql
    assert "ORDER BY __ts DESC" in out2


def test_asof_multi_join_left_falls_back_to_lateral():
    # left side is itself a join -> not a single FROM item; lateral path
    out = translate(
        "SELECT * FROM a JOIN c ON a.id = c.id "
        "ASOF JOIN b ON a.k = b.k AND a.t >= b.t"
    ).spark_sql
    assert "LATERAL" in out


def test_parametric_topk_translates():
    out = translate("SELECT topK(5)(x) FROM t").spark_sql
    assert "collect_list" in out and "slice" in out


def test_with_fill_from_to_step():
    out = translate(
        "SELECT number AS n FROM numbers(10) "
        "ORDER BY n WITH FILL FROM 0 TO 12 STEP 2"
    ).spark_sql
    assert "sequence" in out and "FULL JOIN" in out and "n < (12)" in out


def test_window_funnel_sql_form():
    out = translate(
        "SELECT windowFunnel(100)(ts, a = 1, a = 2) FROM t"
    ).spark_sql
    assert "aggregate(array_sort(flatten(collect_list" in out


def test_pipe_float_literal_not_double_suffixed():
    out = translate(
        "SELECT value * 0.5 AS half FROM events | SELECT half"
    ).spark_sql
    assert "0.5D D" not in out and "0.5D" in out


def test_final_suffix():
    out = translate("SELECT * FROM kv FINAL").spark_sql
    assert "kv__final" in out


def test_cast_type_mapping():
    out = translate("SELECT CAST(x AS UInt64) FROM t").spark_sql
    assert "AS BIGINT" in out


def test_prewhere_merged():
    out = translate("SELECT a FROM t PREWHERE b = 1 WHERE c = 2").spark_sql
    assert "PREWHERE" not in out and "WHERE" in out and "AND" in out


# --------------------------------------------------------------------------
# End-to-end vs DuckDB
# --------------------------------------------------------------------------

def test_events_aggregation(views, duck):
    check(
        views,
        duck,
        """
        SELECT toStartOfHour(ts) AS hour,
               countIf(event_type = 'purchase') AS purchases,
               uniqExact(user_id) AS users,
               round(avgIf(value, value > 0), 6) AS avg_pos
        FROM events GROUP BY hour ORDER BY hour
        """,
        """
        SELECT date_trunc('hour', ts)::TIMESTAMP AS hour,
               count(*) FILTER (event_type = 'purchase') AS purchases,
               count(DISTINCT user_id) AS users,
               round(avg(value) FILTER (value > 0), 6) AS avg_pos
        FROM events GROUP BY 1 ORDER BY hour
        """,
    )


def test_limit_by(views, duck):
    check(
        views,
        duck,
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 2 BY o_custkey
        """,
        """
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT *, row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) rn FROM orders
        ) WHERE rn <= 2
        """,
    )


def test_with_totals_end_to_end(views, duck):
    check(
        views,
        duck,
        "SELECT event_type, count() AS cnt FROM events GROUP BY event_type WITH TOTALS",
        "SELECT event_type, count(*) AS cnt FROM events GROUP BY GROUPING SETS ((event_type), ())",
    )


def test_pipe_query(views, duck):
    check(
        views,
        duck,
        """
        SELECT event_type, count() AS cnt, uniqExact(user_id) AS users
        FROM events GROUP BY event_type
        | WHERE cnt > 10
        | SELECT event_type, cnt, users ORDER BY cnt DESC, event_type LIMIT 5
        """,
        """
        SELECT event_type, cnt, users FROM (
          SELECT event_type, count(*) AS cnt, count(DISTINCT user_id) AS users
          FROM events GROUP BY event_type
        ) WHERE cnt > 10 ORDER BY cnt DESC, event_type LIMIT 5
        """,
    )


def test_json_and_string_functions(views, duck):
    check(
        views,
        duck,
        """
        SELECT event_id, JSONExtractInt(props, 'k') AS k
        FROM events WHERE JSONExtractInt(props, 'k') > 90 ORDER BY event_id
        """,
        """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
        ORDER BY event_id
        """,
    )


def test_quantile_and_subquery(views, duck):
    check(
        views,
        duck,
        """
        SELECT o_orderstatus, round(quantileExact(0.5)(o_totalprice), 4) AS med
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
        """
        -- quantileExact is DISCRETE: element at floor(level*n) of the
        -- sorted sample (QuantileExact.h), not an interpolated value
        SELECT o_orderstatus,
               round(list_sort(list(o_totalprice))[CAST(floor(0.5 * count(*)) AS INT) + 1], 4) AS med
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
    )


def test_union_and_arith(views, duck):
    check(
        views,
        duck,
        """
        SELECT 'hi' AS src, intDiv(count(), 2) AS half FROM orders
        UNION ALL
        SELECT 'lo' AS src, modulo(count(), 7) AS half FROM customer
        """,
        """
        SELECT 'hi' AS src, count(*) // 2 AS half FROM orders
        UNION ALL
        SELECT 'lo' AS src, count(*) % 7 AS half FROM customer
        """,
    )


def test_array_hof_translation(views, duck):
    check(
        views,
        duck,
        """
        SELECT doc_id,
               arrayCount(t -> length(t) >= 5, splitByChar(' ', text)) AS long_toks
        FROM documents ORDER BY doc_id LIMIT 50
        """,
        """
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> len(t) >= 5)) AS long_toks
        FROM documents ORDER BY doc_id LIMIT 50
        """,
    )


def test_multi_if_and_sample_parse(views):
    df = dsql(
        views,
        "SELECT multiIf(value > 100, 'big', value > 10, 'mid', 'small') AS b, count() AS c "
        "FROM events GROUP BY b ORDER BY b",
    )
    assert [r.b for r in df.collect()] == ["big", "mid", "small"]
    # SAMPLE translates and runs (row count is probabilistic; just executes)
    n = dsql(views, "SELECT count() AS c FROM events SAMPLE 0.5").collect()[0].c
    assert 0 <= n


# --------------------------------------------------------------------------
# Round-10 ADVICE regression checks
# --------------------------------------------------------------------------

def test_distinct_limit_by_dedups_projection_alone(spark):
    """DISTINCT runs before LIMIT BY over the projection ONLY; hidden
    LIMIT BY key aliases must not widen the dedup key."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW _dlb AS "
        "SELECT * FROM VALUES (1,10),(1,10),(1,20),(2,30) AS t(x,y)"
    )
    got = sorted(
        r.x for r in dsql(
            spark, "SELECT DISTINCT x FROM _dlb ORDER BY x LIMIT 1 BY x"
        ).collect()
    )
    assert got == [1, 2]


def test_huge_int_literal_becomes_infinity(spark):
    """An integer literal past float range must evaluate as Float64
    infinity, not break Spark's lexer with a bare `inf` token."""
    v = dsql(spark, "SELECT 0x" + "F" * 300 + " AS v").collect()[0].v
    assert v == float("inf")


def test_backquoted_identifier_with_escaped_backtick():
    out = translate(r"SELECT 1 AS `a\`b`").spark_sql
    assert "`a``b`" in out


def test_string_literal_logic_operand_raises():
    with pytest.raises(DialectError):
        translate("SELECT 'str' AND 1")


def test_unknown_table_qualifier_in_star_matcher():
    with pytest.raises(DialectError):
        translate("SELECT zz.* EXCEPT (number) FROM numbers(3) AS n")
    # the alias (and the unaliased table's own name) stay legal
    assert translate(
        "SELECT n.* APPLY (toString) FROM numbers(3) AS n"
    ).spark_sql
    assert translate(
        "SELECT numbers.* APPLY (toString) FROM numbers(3)"
    ).spark_sql


def test_totals_default_mode_is_after_having_exclusive(spark):
    """With HAVING present the totals row covers only HAVING-passing
    groups (Settings.h totals_mode default after_having_exclusive)."""
    from daisy_spark.plans.dialect import _TOTALS_BLOCK_CTX
    from daisy_spark.plans.script import ScriptRunner

    runner = ScriptRunner(spark)
    try:
        df = runner.execute(
            "SELECT number % 2 AS k, count() AS c FROM numbers(10) "
            "GROUP BY k WITH TOTALS HAVING k = 1"
        )
        rows = [tuple(r) for r in df.collect()]
        totals = list(getattr(df, "_daisy_totals", []) or [])
        assert rows == [(1, 5)]
        assert totals == [(0, 5)]  # only the passing group's count
    finally:
        runner.close()


def test_groupless_totals_emits_totals_block(spark):
    from daisy_spark.plans.script import ScriptRunner

    runner = ScriptRunner(spark)
    try:
        df = runner.execute("SELECT count() AS x WITH TOTALS HAVING x != 0")
        rows = [tuple(r) for r in df.collect()]
        totals = list(getattr(df, "_daisy_totals", []) or [])
        assert rows == [(1,)] and totals == [(1,)]
    finally:
        runner.close()


def test_url_hash_matches_hierarchy_levels(spark):
    from daisy_spark.functions.chcoding import url_hash, url_hierarchy

    for url in ("", "http://ya.ru", "http://ya.ru/a/b?"):
        h = url_hierarchy(url)
        for lvl in range(3):
            want = url_hash(h[lvl], None) if lvl < len(h) else url_hash("")
            assert url_hash(url, lvl) == want, (url, lvl)


def test_simple_state_type_and_value():
    from daisy_spark.plans.dialect import DialectError, translate

    out = translate(
        "SELECT toTypeName(sumSimpleState(number)) FROM numbers(3)"
    ).spark_sql
    assert "SimpleAggregateFunction(sum, UInt64)" in out
    with pytest.raises(DialectError):
        translate("SELECT countSimpleState(number) FROM numbers(3)")
