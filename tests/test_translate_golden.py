"""Golden net for ``plans.dialect.translate``: recorded Spark SQL,
SETTINGS, stream flag and EXPLAIN mode for a fixed set of queries.

The inputs are:

- every statement the test suite passes to ``translate()`` outside a
  ``ScriptRunner`` (script statements depend on the runner's context
  and are checked end to end by ``test_script``);
- the text of the registry's ``dialect_sql`` and ``dialect_pipe``
  queries, read from the registry;
- each ``SEARCHES`` kind of ``perfbench/ingest_search.py``, read from
  that file, over every event type and value bound it draws;
- ``SHAPES`` below: SETTINGS placement, pipe stages, ASOF numbering,
  bracket nesting, joins, UNION and WITH TOTALS, and the combinator
  names that have their own templates.

Each query is translated in a fresh ``contextvars.Context``, so no
context left by an earlier test reaches it.  It needs no SparkSession
and no reference checkout.  This is a partial net: the reference corpus
lane is the full one.

Re-recording is a deliberate edit: run ``_record()`` by hand
(``python -c "import tests.test_translate_golden as g; g._record()"``
from the repo root) and explain every changed entry in CHANGES.md.
"""

from __future__ import annotations

import ast
import contextvars
import json
import os
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "translate_golden.json")

#: shapes the suite does not reach otherwise
SHAPES = [
    # SETTINGS per top-level SELECT: the later UNION part wins
    "SELECT 1 AS a SETTINGS max_threads = 3 "
    "UNION ALL SELECT 2 AS a SETTINGS max_threads = 2",
    "(SELECT 1 AS a) UNION ALL SELECT 2 AS a SETTINGS max_threads = 2",
    # a WITH query's SETTINGS are its body's
    "WITH x AS (SELECT 1 AS a) SELECT * FROM x SETTINGS max_threads = 2",
    "WITH 2 AS two SELECT two AS a SETTINGS max_threads = 2, "
    "max_block_size = 10",
    # pipe stages: SETTINGS on a WHERE stage and on a SELECT stage
    "SELECT a FROM t | WHERE a > 1 SETTINGS max_threads = 2",
    "SELECT a FROM t SETTINGS max_threads = 4 | SELECT a "
    "SETTINGS max_threads = 2",
    "SELECT a FROM t | WHERE a > 1 SETTINGS max_threads = 3 "
    "| SELECT a ORDER BY a SETTINGS max_block_size = 5",
    # ASOF aliases are numbered per statement
    "SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t "
    "UNION ALL SELECT * FROM c ASOF LEFT JOIN d ON c.k = d.k AND c.t < d.t",
    # nested arrays and tuples: top-level commas, lambdas, ternaries
    "SELECT [[1, 2], [3]] AS a, "
    "arrayMap((x, y) -> x + y, [1, 2], [3, 4]) AS b",
    "SELECT arrayMap(x -> x > 1 ? 'a' : 'b', [1, 2, 3]) AS c",
    "SELECT arrayFilter((x, i) -> i > 1 AND x != 0, [4, 0, 5], [1, 2, 3]) "
    "AS f",
    "SELECT if(a > 0, [1, 2], [3]) AS r, tuple(1, 'a').2 AS e, "
    "m['k'] AS v FROM t",
    "SELECT * FROM t WHERE (a, b) IN ((1, 2), (3, 4))",
    "SELECT a IN (1, 2, 3) AS m, (a, b) NOT IN ((1, 2)) AS n FROM t",
    # literal folding and type inference
    "SELECT cityHash64(CAST(1 AS UInt8), (1, 2), [3, 4]) AS h",
    "SELECT toTypeName(CAST(1 AS Nullable(UInt8))) AS t1, "
    "toTypeName([1, 2]) AS t2, toTypeName(1 ? 2 : 3) AS t3",
    # ARRAY JOIN, JOIN ... ON inside a subquery and at top level
    "SELECT s, x FROM t LEFT ARRAY JOIN arr AS x",
    "SELECT s, x, y FROM t ARRAY JOIN arr AS x, [1, 2] AS y WHERE x > 0",
    "SELECT s.a, v.b FROM (SELECT t.a, u.b FROM t JOIN u ON t.k = u.k) "
    "AS s JOIN v ON s.a = v.a",
    "SELECT * FROM t LEFT JOIN (SELECT k, max(b) AS mb FROM u GROUP BY k) "
    "AS w ON t.k = w.k AND t.a > 1",
    # UNION ALL with aliased first-part items; WITH TOTALS over a subquery
    "SELECT a AS x, b + 1 AS y FROM t UNION ALL SELECT c, d FROM u",
    "SELECT k, count() AS c FROM (SELECT number % 3 AS k FROM numbers(10)) "
    "GROUP BY k WITH TOTALS",
    "SELECT number, sum(number) OVER (PARTITION BY number % 2 "
    "ORDER BY number) AS s FROM numbers(5)",
    "SELECT count() FROM t GROUP BY a, b HAVING count() > (SELECT 1)",
    # combinator names with their own templates
    "SELECT groupUniqArrayArrayState(arr) AS s FROM t",
    "SELECT groupUniqArrayStateArray(arr) AS s FROM t",
    "SELECT groupUniqArrayForEachStateArray(arr) AS s FROM t",
    "SELECT sumForEachStateForEachIfArrayIfState(a, b, c) AS s FROM t",
    "SELECT sumForEachStateForEachIfArrayIfMerge(s) AS m FROM t",
    "SELECT sumForEachMergeArray(s) AS m FROM t",
]


def _registry_queries() -> list[str]:
    """The SQL text the registry's dialect queries pass to ``sql()``."""
    from daisy_spark import queries_llm

    seen: list[str] = []
    with mock.patch.object(queries_llm, "_register_views"), mock.patch(
        "daisy_spark.plans.sql", lambda spark, q: seen.append(q)
    ):
        queries_llm.q_dialect_sql(None, "")
        queries_llm.q_dialect_pipe(None, "")
    return seen


def _perfbench_searches() -> list[str]:
    """``SEARCHES`` of perfbench's ingest_search workload, formatted
    with every event type and value bound the workload draws."""
    path = os.path.join(ROOT, "perfbench", "ingest_search.py")
    consts = {}
    for node in ast.parse(open(path).read()).body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            name = getattr(node.targets[0], "id", None)
            if name in ("SEARCHES", "EVENT_TYPES"):
                consts[name] = ast.literal_eval(node.value)
    out: list[str] = []
    for text in consts["SEARCHES"].values():
        for t in consts["EVENT_TYPES"]:
            for x in (50, 100, 150):
                q = text.format(t=t, x=x)
                if q not in out:
                    out.append(q)
    return out


def _translate(query: str) -> dict:
    from daisy_spark.plans.dialect import DialectError, translate

    try:
        res = contextvars.Context().run(translate, query)
    except DialectError as e:
        return {"error": str(e)}
    return {
        "spark_sql": res.spark_sql,
        "settings": res.settings,
        "is_stream": res.is_stream,
        "explain_mode": res.explain_mode,
    }


def _load() -> dict:
    with open(GOLDEN) as fh:
        return json.load(fh)


def _record() -> None:
    """Translate the recorded inputs plus the registry, perfbench and
    ``SHAPES`` queries again and rewrite the golden file."""
    queries = list(_load()) if os.path.exists(GOLDEN) else []
    for q in _registry_queries() + _perfbench_searches() + SHAPES:
        if q not in queries:
            queries.append(q)
    golden = {q: _translate(q) for q in queries}
    with open(GOLDEN, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True, ensure_ascii=False)
        fh.write("\n")


def test_translate_matches_golden():
    golden = _load()
    diffs = [q for q, want in golden.items() if _translate(q) != want]
    assert not diffs, f"{len(diffs)} of {len(golden)} differ, first: {diffs[:3]}"


def test_golden_covers_registry_perfbench_and_shapes():
    golden = _load()
    missing = [
        q for q in _registry_queries() + _perfbench_searches() + SHAPES
        if q not in golden
    ]
    assert not missing, missing
