"""The translator's bracket walker: ``plans.dialect._top_level``,
``_split_top`` and ``_tail_at_top`` against a naive per-index depth
count, over seeded random token lists.

The lists mix ``(``, ``[``, ``]``, ``)``, commas, keywords in both
cases and identifiers, nest up to depth 4, and a quarter of them have a
bracket dropped or added, so depth can go negative or stay open.  It
needs no SparkSession.
"""

from __future__ import annotations

import random

import pytest

from daisy_spark.plans.dialect import (
    _kw,
    _split_top,
    _tail_at_top,
    _top_level,
)

_LEAVES = ["a", "b1", "`c d`", "1", "'s'", ",", ",", "AND", "and", "OR",
           "SELECT", "union", "->", "?", ":", "AS", "x"]
_PAIRS = [("(", ")"), ("[", "]")]
_OPENS, _CLOSES = ("(", "["), (")", "]")
_ALL = _OPENS + _CLOSES


def _group(rnd: random.Random, depth: int) -> list[str]:
    out: list[str] = []
    for _ in range(rnd.randint(0, 5)):
        if depth < 4 and rnd.random() < 0.3:
            o, c = rnd.choice(_PAIRS)
            out += [o, *_group(rnd, depth + 1), c]
        else:
            out.append(rnd.choice(_LEAVES))
    return out


def _token_lists(seed: int, n: int = 300) -> list[list[str]]:
    rnd = random.Random(seed)
    lists = []
    for _ in range(n):
        toks = _group(rnd, 0)
        if toks and rnd.random() < 0.25:
            # unbalance: drop a token or add a stray bracket
            k = rnd.randrange(len(toks) + 1)
            if rnd.random() < 0.5 and k < len(toks):
                del toks[k]
            else:
                toks.insert(k, rnd.choice("()[]"))
        lists.append(toks)
    return lists


def _depth_before(toks, start, j, opens, closes) -> int:
    """Bracket depth just before ``toks[j]``, counted from ``start``."""
    d = 0
    for t in toks[start:j]:
        if t in opens:
            d += 1
        elif t in closes:
            d -= 1
    return d


def _naive_top_level(toks, start, stop, brackets):
    opens = tuple(o for o in _OPENS if o in brackets)
    closes = tuple(c for o, c in _PAIRS if o in brackets)
    return [
        (j, toks[j])
        for j in range(*slice(start, stop).indices(len(toks)))
        if toks[j] not in opens + closes
        and _depth_before(toks, start, j, opens, closes) == 0
    ]


@pytest.mark.parametrize("brackets", ["([", "("])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_top_level_matches_naive_depth(seed, brackets):
    rnd = random.Random(seed * 7 + len(brackets))
    for toks in _token_lists(seed):
        n = len(toks)
        start = rnd.randint(0, n)
        stop = rnd.choice([None, rnd.randint(start, n), -1, n + 3])
        got = list(_top_level(toks, start, stop, brackets=brackets))
        assert got == _naive_top_level(toks, start, stop, brackets), (
            toks, start, stop,
        )
        assert list(_top_level(toks, brackets=brackets)) == (
            _naive_top_level(toks, 0, None, brackets)
        )


def test_top_level_default_counts_both_bracket_kinds():
    toks = ["[", "a", ",", "b", "]", ",", "(", "c", ")"]
    assert list(_top_level(toks)) == [(5, ",")]
    assert list(_top_level(toks, brackets="(")) == [
        (0, "["), (1, "a"), (2, ","), (3, "b"), (4, "]"), (5, ","),
    ]
    # a stray closer takes depth below 0 until an opener brings it back
    assert list(_top_level([")", "a", "(", "b"])) == [(3, "b")]


def _naive_split(toks, sep):
    parts, cur = [], []
    for j, t in enumerate(toks):
        if (
            t not in _ALL and _kw(t) == sep
            and _depth_before(toks, 0, j, _OPENS, _CLOSES) == 0
        ):
            parts.append(cur)
            cur = []
        else:
            cur.append(t)
    parts.append(cur)
    return parts


@pytest.mark.parametrize("sep", [",", "AND", "UNION"])
@pytest.mark.parametrize("seed", [4, 5])
def test_split_top_matches_naive_depth(seed, sep):
    for toks in _token_lists(seed):
        assert _split_top(toks, sep) == _naive_split(toks, sep), toks


def test_split_top_keyword_matches_any_case():
    toks = ["a", "and", "(", "b", "AND", "c", ")", "AND", "d"]
    assert _split_top(toks, "AND") == [
        ["a"], ["(", "b", "AND", "c", ")"], ["d"],
    ]
    assert _split_top([], ",") == [[]]
    assert _split_top([","], ",") == [[], []]


@pytest.mark.parametrize("seed", [6, 7])
def test_tail_at_top_matches_naive_depth(seed):
    for toks in _token_lists(seed):
        toks = toks + ["AS", "x"]
        want = _depth_before(toks, 0, len(toks) - 2, _OPENS, _CLOSES) == 0
        assert _tail_at_top(toks) == want, toks
