"""Reference-dialect SQL -> Spark SQL translator.

The reference is a SQL database (entry: src/Interpreters/executeQuery.cpp);
its dialect is ClickHouse-21.5-shaped plus streaming extensions (pipe
queries — src/Parsers/parseQueryPipe.cpp; SELECT STREAM).  Spark SQL
already shares most of the ANSI surface, so the translator is a
token-level rewriter, not a full parser:

- function-name mapping (reference name -> Spark SQL template), applied
  recursively through nested calls/subqueries;
- type-name mapping inside CAST / to<Type> casts (UInt64 -> BIGINT, ...);
- clause rewrites Spark lacks as syntax:
    * ``LIMIT n BY cols``     -> row_number window wrapper
    * ``GROUP BY .. WITH TOTALS`` -> GROUPING SETS ((cols), ())
    * ``FROM t FINAL``        -> finalized view name (``t__final``)
    * ``SAMPLE 0.x``          -> TABLESAMPLE (x PERCENT)
    * ``PREWHERE``            -> merged into WHERE (pushdown is
                                 Catalyst's job, which is the PREWHERE
                                 optimization done declaratively)
    * pipe queries ``q | WHERE .. | SELECT ..`` -> nested subqueries
    * ``SELECT STREAM``       -> stripped + flagged (streaming handled by
                                 daisy_spark.streaming)
    * ``SETTINGS k=v``        -> stripped + returned (session shim)
- everything else passes through untouched, so Catalyst sees ordinary
  Spark SQL and all pushdown/pruning/join planning applies.

translate() parses a statement once, and SETTINGS travel with that
parse: they are collected per top-level SELECT (each UNION part, each
pipe stage), a later part's key wins, and a WITH query's settings are
its body's.  Those of a subquery or of a parenthesized UNION part
are not returned.

Also lowered in SQL (each corpus-tested against the reference's own
stateless tests): ASOF JOIN (scale-safe union+window plan; correlated
lateral only as the multi-join-left fallback), ANY JOIN (right-dedup),
parametric aggregates (topK, windowFunnel, sequenceMatch/Count,
quantile* families, histogram), scalar WITH aliases, ORDER BY WITH
FILL, dictGet over CREATE DICTIONARY registrations, the
numbers/numbers_mt/generateRandom/merge/dictionary table functions,
USING keys naming select-list aliases (left-item wrap), left-side
qualification of cross-side-ambiguous columns, tuple IN over literal
tuple lists (elementwise, NULL-aware), Date/DateTime infix arithmetic,
stream-order join determinism for the script engine's outermost joins,
Nested flattened columns (dotted names, ARRAY JOIN groups), SQL-compat
aliases (lcase/DATE_DIFF/infix MOD...), and runningDifference/neighbor
as stream-order windows.  Still deliberately unsupported: RIGHT/FULL
ASOF (absent in the reference too — HashJoin.h supports ASOF x
LEFT/INNER only).
"""

from __future__ import annotations

import contextvars
import functools
import json
import re
import struct
from dataclasses import dataclass, field

__all__ = ["translate", "sql", "DialectError", "TranslateResult"]


class DialectError(ValueError):
    pass


#: Row cap emulating the reference's unbounded system.numbers /
#: generateRandom streams (which callers always LIMIT).  2^25 ≈ 33.5M:
#: 3.3× the largest bound any reference corpus case reads (10,000,010),
#: while plans that cannot early-out of the scan (TakeOrdered over the
#: join-order column, decorrelated-subquery joins) pay 30× less than
#: the previous 1e9 cap.
_NUMBERS_CAP = 33554432

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<ws>[\s\u0085\u00a0\u180e\u2000-\u200d\u2028\u2029\u202f\u205f\u2060\u3000\ufeff]+)
    | (?P<comment>--[^\n]*|/\*.*?\*/)
    | (?P<str>'(?:[^'\\]|\\.|'')*')
    | (?P<qid>`(?:[^`\\]|\\.|``)*`|"(?:[^"\\]|\\.|"")*")
    | (?P<hexfloat>0[xX][0-9a-fA-F]+(?:\.[0-9a-fA-F]*)?[pP][+-]?[0-9]+)
    | (?P<hex>0[xX][0-9a-fA-F]+)
    | (?P<num>[0-9]+(?:\.[0-9]*)?(?:[eE][+-]?[0-9]+)?|\.[0-9]+)
    | (?P<id>[A-Za-z_][A-Za-z0-9_]*)
    | (?P<op>==|!=|<>|<=|>=|\|\||->|::)
    | (?P<punct>.)
    """,
    re.X | re.S,
)


def _float_lit(x) -> str:
    """Shortest float spelling Spark's lexer accepts."""
    try:
        f = float(x)
    except OverflowError:
        f = float("inf") if x > 0 else float("-inf")
    if f == float("inf"):
        return "double('Infinity')"  # repr 'inf' won't lex in Spark
    if f == float("-inf"):
        return "double('-Infinity')"
    return repr(f).replace("e+", "e")


def _emit_int_lit(out: list[str], v: int) -> None:
    """Emit an integer literal the reference's way (ParserNumber):
    values past UInt64 fall to Float64; a UNARY minus folds into the
    literal first, so -(v) past Int64's floor is Float64 too (the
    binary-minus case keeps the exact integer)."""
    neg_unary = (
        out and out[-1] == "-"
        and (len(out) == 1 or not _ends_operand(out[-2]))
    )
    if neg_unary and v > (1 << 63):
        out.pop()
        out += ["(", "-", _float_lit(v), ")"]
    elif v > (1 << 64) - 1:
        out.append(_float_lit(v))
    else:
        out.append(str(v))


def tokenize(sql_text: str) -> list[str]:
    out: list[str] = []
    for m in _TOKEN_RE.finditer(sql_text):
        if m.lastgroup in ("ws", "comment"):
            continue
        if m.lastgroup == "hexfloat":
            # 0x123p4 hex-float literals (always Float64)
            out.append(_float_lit(float.fromhex(m.group())))
            continue
        if m.lastgroup == "hex":
            # 0xFF literals -> decimal (Spark SQL has no hex int literals)
            _emit_int_lit(out, int(m.group(), 16))
            continue
        if m.lastgroup == "qid" and m.group().startswith("`"):
            # reference backquoted identifiers use backslash escapes
            # (`concat(str, \'_abc\')` — parseBackQuotedString)
            inner = m.group()[1:-1]
            if "\\" in inner:
                inner = re.sub(r"\\(.)", r"\1", inner)
                # unescaping may expose a literal backtick (`a\`b`);
                # Spark doubles inner backticks
                out.append("`" + inner.replace("`", "``") + "`")
                continue
            out.append(m.group())
            continue
        if m.lastgroup == "qid" and m.group().startswith('"'):
            # reference double quotes are ALWAYS identifiers (SQL style);
            # Spark reads them as string literals.  Plain names emit BARE
            # so downstream ident-keyed logic (numbers TVF quals, alias
            # tracking) sees them; anything else re-quotes as backticks
            inner = m.group()[1:-1].replace('\\"', '"').replace('""', '"')
            if re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", inner):
                out.append(inner)
            else:
                out.append("`" + inner.replace("`", "``") + "`")
            continue
        if m.lastgroup == "num" and re.match(r"^0[0-9]+$", m.group()):
            # leading-zero integers parse like C strtoull base 0: OCTAL
            # when the digits allow it and the value fits UInt64 (0377
            # -> 255); otherwise the strtod fallback reads them as plain
            # decimals (the 1e308-ish long literals)
            tok = m.group()
            if re.fullmatch(r"0[0-7]+", tok) and len(tok) <= 22 and (
                int(tok, 8) <= (1 << 64) - 1
            ):
                _emit_int_lit(out, int(tok, 8))
            else:
                _emit_int_lit(out, int(tok, 10))
            continue
        if m.lastgroup == "num" and re.fullmatch(r"[0-9]+", m.group()):
            _emit_int_lit(out, int(m.group()))
            continue
        out.append(m.group())
    return out


def _is_ident(tok: str) -> bool:
    # backquoted identifiers count (and are never keywords)
    if len(tok) > 2 and tok[0] == "`" and tok[-1] == "`":
        return True
    return bool(re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", tok))


def _kw(tok: str) -> str:
    return tok.upper() if _is_ident(tok) else tok


def _match_paren(toks: list[str], i: int) -> int:
    """Index of the ')' matching the '(' at position i."""
    depth = 0
    for j in range(i, len(toks)):
        if toks[j] == "(":
            depth += 1
        elif toks[j] == ")":
            depth -= 1
            if depth == 0:
                return j
    raise DialectError("unbalanced parentheses")


def _top_level(toks: list[str], start: int = 0, stop: int | None = None,
               brackets: str = "(["):
    """Yield ``(j, tok)`` for each token of ``toks[start:stop]`` at
    bracket depth 0, leaving out the brackets themselves.

    ``brackets`` names the openers that count: ``"(["`` (the default)
    nests on parentheses and square brackets, ``"("`` on parentheses
    only, so ``[`` and ``]`` are yielded like any other token.  Depth
    starts at 0 at ``start`` and may go negative on a stray closer;
    nothing is yielded until it is back at 0.

    Scans that need more than "is this token at depth 0" keep their own
    counter: backward scans (which count closers up), scans that read
    depth at a closer (matching it, or stopping at an unmatched one),
    character scans that must skip string literals, scans that copy
    tokens at every depth, and scans that jump past tokens unread.
    """
    opens = tuple(brackets)
    closes = tuple({"(": ")", "[": "]"}[b] for b in brackets)
    depth = 0
    for j in range(*slice(start, stop).indices(len(toks))):
        t = toks[j]
        if t in opens:
            depth += 1
        elif t in closes:
            depth -= 1
        elif depth == 0:
            yield j, t


def _tail_at_top(toks: list[str]) -> bool:
    """Whether the next-to-last token (the ``AS`` of a trailing
    ``AS name``, the ``WITH`` of ``WITH TOTALS``) is at bracket depth 0,
    i.e. the trailing pair belongs to the whole list."""
    last = len(toks) - 2
    return any(j == last for j, _ in _top_level(toks, stop=last + 1))


def _split_top(toks: list[str], sep: str) -> list[list[str]]:
    """Split a token list at its top-level ``sep`` tokens (depth over
    ``(`` and ``[``).  A keyword ``sep`` (``"AND"``, ``"SETTINGS"``)
    matches in any case; the separators are dropped, so ``n`` of them
    give ``n + 1`` parts, empty ones included."""
    parts, last = [], 0
    for j, t in _top_level(toks):
        if _kw(t) == sep:
            parts.append(toks[last:j])
            last = j + 1
    parts.append(toks[last:])
    return parts


def _match_bracket(toks: list[str], i: int) -> int:
    """Index of the ']' matching the '[' at position i."""
    depth = 0
    for j in range(i, len(toks)):
        if toks[j] == "[":
            depth += 1
        elif toks[j] == "]":
            depth -= 1
            if depth == 0:
                return j
    raise DialectError("unbalanced brackets")


def _emit(toks: list[str]) -> str:
    """Tokens -> SQL text (space-joined is always valid SQL)."""
    return " ".join(toks)


# ---------------------------------------------------------------------------
# Type mapping (reference type names -> Spark SQL types)
# ---------------------------------------------------------------------------

TYPE_MAP = {
    "UINT8": "SMALLINT", "UINT16": "INT", "UINT32": "BIGINT",
    "UINT64": "BIGINT", "INT8": "TINYINT", "INT16": "SMALLINT",
    "INT32": "INT", "INT64": "BIGINT", "FLOAT32": "FLOAT",
    "FLOAT64": "DOUBLE", "STRING": "STRING", "BOOL": "BOOLEAN",
    "DATE": "DATE", "DATETIME": "TIMESTAMP", "DATETIME64": "TIMESTAMP",
    "UUID": "STRING",
    "STRINGWITHDICTIONARY": "STRING",  # LowCardinality(String) alias
}


def _map_type(toks: list[str], i: int) -> tuple[str, int]:
    """Translate a type expression starting at i; returns (sql, next_i)."""
    t = toks[i]
    up = _kw(t)
    if up == "NULLABLE" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        inner, _ = _map_type(toks, i + 2)
        return inner, close + 1
    if up == "LOWCARDINALITY" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        inner, _ = _map_type(toks, i + 2)
        return inner, close + 1
    if up == "ARRAY" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        inner, _ = _map_type(toks, i + 2)
        return f"ARRAY<{inner}>", close + 1
    if up == "FIXEDSTRING" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        return "STRING", close + 1
    if up == "AGGREGATEFUNCTION" and i + 1 < len(toks) and toks[i + 1] == "(":
        # AggregateFunction(f, T...) columns store finalized partials in
        # this engine (fooState lowers to foo) — the stored type is f's
        # RESULT type over T (DataTypeAggregateFunction)
        close = _match_paren(toks, i + 1)
        parts = _split_top(toks[i + 2 : close], ",")
        fname = _kw(parts[0][0]) if parts and parts[0] else ""
        arg_t = "BIGINT"
        if len(parts) > 1 and parts[1]:
            arg_t, _ = _map_type(parts[1], 0)
        if fname in ("UNIQ", "UNIQEXACT", "UNIQCOMBINED", "UNIQHLL12"):
            # set-based exact state (merges dedup across parts)
            return f"ARRAY<{arg_t}>", close + 1
        if fname == "GROUPBITMAP":
            # bitmap state = sorted unsigned value set (_bitmap_expr)
            return "ARRAY<BIGINT>", close + 1
        if fname == "COUNT":
            return "BIGINT", close + 1
        if fname in ("AVG", "AVGWEIGHTED"):
            # mergeable partial: (sum, count) — avg-of-avgs is wrong for
            # unequal group sizes (AggregateFunctionAvg.h data = num/denom)
            return "STRUCT<s: DOUBLE, c: BIGINT>", close + 1
        if fname.startswith("QUANTILE") or fname == "MEDIAN":
            # raw value multiset: quantiles cannot merge from finalized
            # partials (QuantileReservoirSampler merges samples)
            return "ARRAY<DOUBLE>", close + 1
        if fname in ("GROUPARRAY", "GROUPUNIQARRAY"):
            return f"ARRAY<{arg_t}>", close + 1
        return arg_t, close + 1
    if up == "DECIMAL" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        return "DECIMAL(" + _emit(toks[i + 2 : close]) + ")", close + 1
    if up == "DATETIME64" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        return "TIMESTAMP", close + 1
    # DateTime('UTC') — timezone argument form
    if up == "DATETIME" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        return "TIMESTAMP", close + 1
    if up == "TUPLE" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        fields = []
        for k, part in enumerate(_split_top(toks[i + 2 : close], ",")):
            if not part:
                continue
            # named form: Tuple(a Int64, b String); unnamed -> col1..colN
            if len(part) > 1 and _is_ident(part[0]) and (
                _kw(part[1]) in TYPE_MAP
                or _kw(part[1]) in (
                    "ARRAY", "TUPLE", "MAP", "NULLABLE", "LOWCARDINALITY",
                    "FIXEDSTRING", "DECIMAL", "DATETIME", "DATETIME64",
                    "ENUM8", "ENUM16",
                )
            ):
                fname = part[0].strip('`"')
                ftype, _ = _map_type(part, 1)
            else:
                fname = f"col{k + 1}"
                ftype, _ = _map_type(part, 0)
            fields.append(f"{fname}: {ftype}")
        return "STRUCT<" + ", ".join(fields) + ">", close + 1
    if up == "MAP" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        parts = _split_top(toks[i + 2 : close], ",")
        kt, _ = _map_type(parts[0], 0)
        vt, _ = _map_type(parts[1], 0)
        return f"MAP<{kt}, {vt}>", close + 1
    # enums carry their string labels in queries; values are strings here
    if up in ("ENUM", "ENUM8", "ENUM16") and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        return "STRING", close + 1
    # sized decimals: Decimal32(s)=9 digits, 64(s)=18, 128/256(s)=38-cap
    if up in ("DECIMAL32", "DECIMAL64", "DECIMAL128", "DECIMAL256") and (
        i + 1 < len(toks) and toks[i + 1] == "("
    ):
        close = _match_paren(toks, i + 1)
        scale = _emit(toks[i + 2 : close]) or "0"
        prec = {"DECIMAL32": 9, "DECIMAL64": 18}.get(up, 38)
        return f"DECIMAL({prec}, {scale})", close + 1
    # SimpleAggregateFunction(f, T) stores plain T values
    if up == "SIMPLEAGGREGATEFUNCTION" and i + 1 < len(toks) and toks[i + 1] == "(":
        close = _match_paren(toks, i + 1)
        parts = _split_top(toks[i + 2 : close], ",")
        if len(parts) > 1 and parts[1]:
            inner_t, _ = _map_type(parts[1], 0)
            return inner_t, close + 1
        return "BIGINT", close + 1
    if up in ("INT128", "UINT128", "INT256", "UINT256"):
        return "DECIMAL(38, 0)", i + 1
    # LowCardinality aliases: <Type>WithDictionary
    if up.endswith("WITHDICTIONARY") and up[: -len("WITHDICTIONARY")] in TYPE_MAP:
        return TYPE_MAP[up[: -len("WITHDICTIONARY")]], i + 1
    if up in TYPE_MAP:
        return TYPE_MAP[up], i + 1
    return t, i + 1  # pass through Spark-native types


# ---------------------------------------------------------------------------
# Function mapping
# ---------------------------------------------------------------------------
# Template syntax: {0},{1},... positional args, {*} = all args comma-joined.
# A callable receives the already-translated arg strings.

def _raise_dialect(msg: str):
    raise DialectError(msg)


def _sleep_then_zero(arg: str) -> str:
    """sleep(n): a real capped wait — data inserted with now() must age
    relative to a later query's now() (00746).  translate() makes one
    pass, but within it an ORDER BY item that names a select alias or
    repeats the call translates sleep() again; the per-statement guard
    (reset by ``sql()``) keeps those from multiplying the wait."""
    import time

    if _SLEPT_CTX.get():
        return "0"
    v = arg.strip().strip("()").rstrip("DF")
    if re.fullmatch(r"[0-9.]+", v):
        time.sleep(min(float(v), 3.0))
        try:
            _SLEPT_CTX.set(True)
        except Exception:  # noqa: BLE001
            pass
    return "0"


_SLEPT_CTX: "contextvars.ContextVar[bool]" = contextvars.ContextVar(
    "daisy_slept_this_statement", default=False
)


def _bool(cond: str) -> str:
    """Reference truthiness: any nonzero number is true — Spark's
    numeric->boolean cast has exactly those semantics."""
    return f"CAST({cond} AS BOOLEAN)"


def _multi_if(args: list[str]) -> str:
    if len(args) % 2 == 0:
        raise DialectError("multiIf needs odd number of args")
    parts = ["CASE"]
    for k in range(0, len(args) - 1, 2):
        parts.append(f"WHEN {_bool(args[k])} THEN {args[k + 1]}")
    parts.append(f"ELSE {args[-1]} END")
    return " ".join(parts)


def _array_sort(args: list[str], desc: bool = False) -> str:
    if len(args) == 1:
        return (
            f"reverse(array_sort({args[0]}))" if desc
            else f"array_sort({args[0]})"
        )
    # key lambda: comparator over the inlined key expression
    # (ArraySort.h sorts by func(x) ascending)
    lam = args[0]
    lt, gt = ("1", "-1") if desc else ("-1", "1")
    if len(args) > 2:
        # multi-array form: lambda params bind to parallel elements;
        # the FIRST array is sorted by the computed key
        a1, a2 = args[1], args[2]
        kl = _inline_lambda(lam, "__sl.f0", "__sl.f1")
        kr = _inline_lambda(lam, "__sr.f0", "__sr.f1")
        zipped = (
            f"zip_with({a1}, {a2}, (__z1, __z2) -> "
            f"named_struct('f0', __z1, 'f1', __z2))"
        )
        return (
            f"transform(array_sort({zipped}, (__sl, __sr) -> "
            f"CASE WHEN {kl} < {kr} THEN {lt} "
            f"WHEN {kl} > {kr} THEN {gt} ELSE 0 END), __zs -> __zs.f0)"
        )
    arr = args[1]
    kl = _inline_lambda(lam, "__sl")
    kr = _inline_lambda(lam, "__sr")
    return (
        f"array_sort({arr}, (__sl, __sr) -> "
        f"CASE WHEN {kl} < {kr} THEN {lt} "
        f"WHEN {kl} > {kr} THEN {gt} ELSE 0 END)"
    )


_FMT_MAP = {
    "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm",
    "%S": "ss", "%F": "yyyy-MM-dd", "%T": "HH:mm:ss", "%R": "HH:mm",
    "%D": "MM/dd/yy", "%e": "d", "%y": "yy", "%j": "DDD",
    "%a": "EEE", "%b": "MMM", "%G": "YYYY", "%V": "ww",
    "%p": "a", "%I": "hh", "%Q": "Q", "%%": "%",
}


def _format_datetime(args: list[str]) -> str:
    """formatDateTime(t, '%Y-%m-%d'[, tz]) — translate C-style
    specifiers to Java patterns when the format is a literal
    (src/Functions/formatDateTime.cpp).  Literal letters are quoted for
    the Java formatter; %C (century) computes via year()/100; a
    timezone argument shifts the wall-clock first."""
    if len(args) not in (2, 3) or not args[1].startswith("'"):
        raise DialectError("formatDateTime requires a literal format string")
    t = args[0]
    if len(args) == 3:
        t = f"from_utc_timestamp({t}, {args[2]})"
    fmt = args[1][1:-1]
    # scan: %X specifiers via the map, bare letters quoted as literals
    segs: list[tuple[str, str]] = []  # (kind, text): pat | expr
    buf = ""
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            spec = fmt[i : i + 2]
            if spec == "%C":
                if buf:
                    segs.append(("pat", buf))
                    buf = ""
                segs.append((
                    "expr",
                    f"lpad(CAST(CAST(floor(year({t}) / 100) AS BIGINT) "
                    f"AS STRING), 2, '0')",
                ))
            elif spec in _FMT_MAP:
                buf += _FMT_MAP[spec]
            else:
                buf += f"'{spec[1]}'" if spec[1].isalpha() else spec[1]
            i += 2
            continue
        c = fmt[i]
        buf += f"'{c}'" if c.isalpha() else c
        i += 1
    if buf:
        segs.append(("pat", buf))
    parts = [
        # Java-pattern quote chars escape as '' inside the SQL literal
        f"date_format({t}, '{txt.replace(chr(39), chr(39) * 2)}')"
        if kind == "pat" else txt
        for kind, txt in segs
    ]
    if not parts:
        return "''"
    return parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"


def _ring_self_intersects(pts: list[tuple[float, float]]) -> bool:
    """Proper (crossing) self-intersection test for a constant ring —
    the reference rejects such polygons with BAD_ARGUMENTS (36) via
    boost validity checks; touching vertices / collinear overlap pass."""
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    n = len(pts)
    edges = [(pts[i], pts[(i + 1) % n]) for i in range(n)]
    for i in range(n):
        for j in range(i + 1, n):
            if j == i or (i + 1) % n == j or (j + 1) % n == i:
                continue  # adjacent edges share a vertex
            (a1, a2), (b1, b2) = edges[i], edges[j]
            d1x, d1y = a2[0] - a1[0], a2[1] - a1[1]
            d2x, d2y = b2[0] - b1[0], b2[1] - b1[1]
            den = d1x * d2y - d1y * d2x
            if den == 0:
                continue
            t = ((b1[0] - a1[0]) * d2y - (b1[1] - a1[1]) * d2x) / den
            u = ((b1[0] - a1[0]) * d1y - (b1[1] - a1[1]) * d1x) / den
            if 0 < t < 1 and 0 < u < 1:
                return True
    return False


_CONST_PT_RE = re.compile(
    r"named_struct\('col1',\(?(-?[\d.]+(?:[eE][+-]?\d+)?)[DF]?\)?,"
    r"'col2',\(?(-?[\d.]+(?:[eE][+-]?\d+)?)[DF]?\)?\)"
)


def _point_in_polygon_expr(a: list[str]) -> str:
    """pointInPolygon((x,y), ring[, hole...]) — even-odd ray casting as a
    HOF fold over the vertex array(s) (src/Functions/pointInPolygon.cpp).
    Tuples render as named_struct('col1',x,'col2',y), so vertices are
    .col1/.col2; nullif guards the horizontal-edge division (condition is
    false there anyway, but ANSI sessions would otherwise raise
    DIVIDE_BY_ZERO).  Holes compose by summing crossings over all rings
    before the parity test; the array-of-rings literal form
    [[ring], [hole]] folds the outer array the same way."""
    pt = f"({a[0]})"
    # constant rings: reject properly self-intersecting polygons at
    # translate time the way the reference's validity check does
    for ring_txt in a[1:]:
        flat = re.sub(r"\s+", "", ring_txt)
        if flat.startswith(("array(named_struct", "array(array(")):
            for ring_m in re.split(r"array\(", flat):
                pts = [
                    (float(x), float(y))
                    for x, y in _CONST_PT_RE.findall(ring_m)
                ]
                if len(pts) >= 4 and _ring_self_intersects(pts):
                    raise DialectError(
                        "pointInPolygon: polygon is not valid "
                        "(self-intersecting ring)"
                    )

    def crossings(poly: str) -> str:
        cur = f"element_at({poly}, i + 1)"
        nxt = f"element_at({poly}, (i + 1) % size({poly}) + 1)"
        cross = (
            f"({cur}.col2 > {pt}.col2) != ({nxt}.col2 > {pt}.col2) "
            f"AND {pt}.col1 < ({nxt}.col1 - {cur}.col1) "
            f"* ({pt}.col2 - {cur}.col2) "
            f"/ nullif({nxt}.col2 - {cur}.col2, 0) + {cur}.col1"
        )
        return (
            f"aggregate(sequence(0, size({poly}) - 1), 0, "
            f"(acc, i) -> acc + IF(coalesce({cross}, false), 1, 0))"
        )

    if len(a) > 2:  # pointInPolygon(pt, ring, hole1, ...)
        total = " + ".join(crossings(f"({r})") for r in a[1:])
        return f"(({total}) % 2)"
    multi = re.sub(r"\s+", "", a[1]).startswith("array(array(")
    if not multi and re.fullmatch(r"`?[A-Za-z_][A-Za-z_0-9]*`?", a[1].strip()):
        # bare column: rings-of-rings columns (Array(Array(Tuple)))
        # need the per-ring fold — consult the declared CH type
        try:
            t1 = _ch_type_of(
                [a[1].strip().strip("`")],
                _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT,
            )
            multi = bool(
                re.match(r"Array\s*\(\s*Array\s*\(", _ch_unwrap(t1 or ""))
            )
        except Exception:  # noqa: BLE001
            multi = False
    if multi:
        return (
            f"(aggregate(({a[1]}), 0, (accr, __ring) -> "
            f"accr + {crossings('__ring')}) % 2)"
        )
    return f"({crossings(f'({a[1]})')} % 2)"


def _byte_position(hay: str, needle: str) -> str:
    """The reference's position() counts BYTES (positionUTF8 is the
    character variant); Spark locate counts characters — convert via the
    octet length of the prefix before the match."""
    loc = f"locate({needle}, {hay})"
    return (
        f"IF({loc} = 0, 0, "
        f"octet_length(substr({hay}, 1, {loc} - 1)) + 1)"
    )


def _entropy_expr(a: list[str]) -> str:
    """entropy(x...) — Shannon entropy in bits over the value (or value-
    tuple) distribution (src/AggregateFunctions/AggregateFunctionEntropy.h).
    O(distinct * n) HOF over one collected array — fine at SQL-compat
    scale; the distributed path is a two-level groupBy."""
    item = a[0] if len(a) == 1 else (
        "named_struct(" + ", ".join(
            f"'col{k + 1}', {x}" for k, x in enumerate(a)
        ) + ")"
    )
    arr = f"collect_list({item})"
    n = f"CAST(size({arr}) AS DOUBLE)"
    return (
        f"aggregate(transform(array_distinct({arr}), "
        f"v -> CAST(size(filter({arr}, u -> u <=> v)) AS DOUBLE) / {n}), "
        f"CAST(0 AS DOUBLE), (acc, p) -> acc - p * log2(p))"
    )


def _max_intersections_expr(a: list[str], position: bool) -> str:
    """maxIntersections(start, end): peak number of concurrently-open
    half-open [start, end) intervals, via a sorted +1/-1 sweep folded in
    one pass; maxIntersectionsPosition is the leftmost peak position
    (src/AggregateFunctions/AggregateFunctionMaxIntersections.h).
    array_sort on (p, d) structs puts -1 before +1 at equal positions —
    exactly the half-open boundary rule."""
    ev = (
        f"array_sort(flatten(collect_list(array("
        f"named_struct('p', CAST({a[0]} AS BIGINT), 'd', 1), "
        f"named_struct('p', CAST({a[1]} AS BIGINT), 'd', -1)))))"
    )
    scan = (
        f"aggregate({ev}, "
        f"named_struct('c', 0, 'm', 0, 'mp', CAST(0 AS BIGINT)), "
        f"(acc, e) -> named_struct("
        f"'c', acc.c + e.d, "
        f"'m', greatest(acc.m, acc.c + e.d), "
        f"'mp', IF(acc.c + e.d > acc.m, e.p, acc.mp)))"
    )
    return f"({scan}).mp" if position else f"({scan}).m"


#: the reference's "short second-level domains" whose presence shifts the
#: significant label one level left (FirstSignificantSubdomain.h — the
#: list is exactly these four: usa.gov.com -> gov, but yandex.com.tr ->
#: yandex)
_SHORT_SLD = "'com', 'net', 'org', 'co'"


def _first_significant_subdomain_expr(a: list[str]) -> str:
    """Mirrors getURLHost + ExtractFirstSignificantSubdomain
    (src/Functions/URL/domain.h, ExtractFirstSignificantSubdomain.h):
    host = chars after an optional scheme:// (or //) up to :/?#; it must
    contain a dot and not end with one.  One dot -> the part before it;
    more -> the part before the last dot, shifted one left when the
    last-two-part suffix is a short second-level domain (approximated by
    its second-level member list: com/net/org/co).  Pure string ops —
    Spark's parse_url rejects the IDN hosts the reference accepts."""
    stripped = f"regexp_replace({a[0]}, '^([a-zA-Z][a-zA-Z0-9+.-]*:)?//', '')"
    host = f"regexp_extract({stripped}, '^([^/:?#]*)', 1)"
    parts = f"split({host}, '\\\\.')"
    np = f"size({parts})"
    return (
        f"(CASE WHEN locate('.', {host}) = 0 OR endswith({host}, '.') THEN '' "
        f"WHEN {np} = 2 THEN element_at({parts}, 1) "
        f"WHEN element_at({parts}, {np} - 1) IN ({_SHORT_SLD}) "
        f"THEN element_at({parts}, {np} - 2) "
        f"ELSE element_at({parts}, {np} - 1) END)"
    )


def _cut_to_fss_expr(a: list[str]) -> str:
    """cutToFirstSignificantSubdomain: the host from the first
    significant subdomain onward (cutToFirstSignificantSubdomain.cpp —
    ExtractFirstSignificantSubdomain::execute extended to domain_end);
    same short-second-level approximation as
    _first_significant_subdomain_expr."""
    stripped = f"regexp_replace({a[0]}, '^([a-zA-Z][a-zA-Z0-9+.-]*:)?//', '')"
    host = f"regexp_extract({stripped}, '^([^/:?#]*)', 1)"
    parts = f"split({host}, '\\\\.')"
    np = f"size({parts})"
    return (
        f"(CASE WHEN locate('.', {host}) = 0 OR endswith({host}, '.') THEN '' "
        f"WHEN {np} = 2 THEN {host} "
        f"WHEN element_at({parts}, {np} - 1) IN ({_SHORT_SLD}) "
        f"THEN concat_ws('.', slice({parts}, {np} - 2, 3)) "
        f"ELSE concat_ws('.', slice({parts}, {np} - 1, 2)) END)"
    )


def _simple_linreg_expr(xs: str, ys: str) -> str:
    """arrayReduce('simpleLinearRegression', xs, ys) -> (slope, intercept)
    tuple via least squares (src/AggregateFunctions/
    AggregateFunctionSimpleLinearRegression.h); degenerate inputs give
    (nan, nan) like the reference's 0/0."""
    n = f"CAST(size(({xs})) AS DOUBLE)"
    sx = f"aggregate(({xs}), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    sy = f"aggregate(({ys}), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    sxx = (
        f"aggregate(({xs}), CAST(0 AS DOUBLE), "
        f"(acc, v) -> acc + CAST(v AS DOUBLE) * v)"
    )
    sxy = (
        f"aggregate(zip_with(({xs}), ({ys}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), "
        f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    num = f"({n} * {sxy} - {sx} * {sy})"
    den = f"({n} * {sxx} - {sx} * {sx})"
    k = f"IF({den} = 0, double('nan'), {num} / {den})"
    b = f"IF({n} = 0, double('nan'), ({sy} - ({k}) * {sx}) / {n})"
    return f"named_struct('col1', {k}, 'col2', {b})"


_EXTRACT_UNITS = {
    "SECOND": "SECOND", "SS": "SECOND", "MINUTE": "MINUTE", "MI": "MINUTE",
    "HOUR": "HOUR", "HH": "HOUR", "DAY": "DAY", "DD": "DAY",
    "MONTH": "MONTH", "MM": "MONTH", "QUARTER": "QUARTER",
    "YEAR": "YEAR", "YYYY": "YEAR", "WEEK": "WEEK",
    "DAYOFWEEK": "DAYOFWEEK", "DOW": "DOW", "DOY": "DOY",
}


def _extract_expr(a: list[str]) -> str:
    """extract is two functions: ANSI extract(UNIT FROM ts) — kept native
    with the reference's MySQL-ish unit aliases (YYYY, MM, ...) mapped —
    and the reference's regexp extract(s, pattern)."""
    if len(a) == 1:
        m = re.match(r"(?is)^(\w+)\s+FROM\s+(.*)$", a[0])
        if m and m.group(1).upper() in _EXTRACT_UNITS:
            unit = _EXTRACT_UNITS[m.group(1).upper()]
            e = f"extract({unit} FROM {m.group(2)})"
            # Spark's SECOND is DECIMAL(8,6); the reference's is integral
            return f"CAST({e} AS INT)" if unit == "SECOND" else e
        _raise_dialect("extract: single-argument form must be UNIT FROM expr")
    return f"regexp_extract({a[0]}, {a[1]}, 1)"


#: ENGINE = Join table layouts: name -> {"keys": [k1...],
#: {"defaults": {col: default_sql}}.  The module-level dict is only the
#: fallback for direct translate() callers; each plans.script.ScriptRunner
#: activates its OWN registry via the contextvar for the duration of a
#: statement, so two runners on one interpreter never clobber each other
#: and one runner's close() cannot drop the other's Join-table metadata.
STORAGE_JOIN_META: dict[str, dict] = {}
_STORAGE_JOIN_CTX: "contextvars.ContextVar[dict | None]" = contextvars.ContextVar(
    "daisy_storage_join_meta", default=None
)

#: CREATE DICTIONARY registry for the active ScriptRunner statement:
#: name -> {"view": str, "keys": [cols], "attrs": {col: (spark_type,
#: default_sql)}, "range": (min_col, max_col) | None}
_DICTS_CTX: "contextvars.ContextVar[dict | None]" = contextvars.ContextVar(
    "daisy_dictionaries", default=None
)


def _dict_lookup(name_arg: str) -> dict:
    name = name_arg.strip("'`\"").split(".")[-1]
    meta = (_DICTS_CTX.get() or {}).get(name)
    if meta is None:
        _raise_dialect(f"dictGet: unknown dictionary {name}")
    return meta


def _dict_attr_names(attr_arg: str) -> list[str]:
    """The attribute argument: a single quoted name or a tuple of them
    (translated to named_struct('col1', 'a', ...) — keep odd matches)."""
    names = re.findall(r"'([^']+)'", attr_arg)
    if "named_struct" in attr_arg:
        names = names[1::2]
    if not names:
        _raise_dialect(f"dictGet: unparsable attribute list {attr_arg!r}")
    return names


def _dict_key_cond(meta: dict, karg: str, point: str | None) -> str:
    """Key match predicate: single-column equality, or a named_struct
    compare for complex keys (matching tuple()'s col1..colN translation);
    RANGE_HASHED layouts add the range-containment conjuncts."""
    keys = meta["keys"]
    if len(keys) == 1:
        if "named_struct" in karg:
            # COMPLEX_KEY layout with a 1-element key: the caller passes
            # tuple(k) — compare struct-to-struct
            cond = f"named_struct('col1', `{keys[0]}`) = ({karg})"
        else:
            cond = f"`{keys[0]}` = ({karg})"
    else:
        ns = ", ".join(f"'col{x + 1}', `{k}`" for x, k in enumerate(keys))
        cond = f"named_struct({ns}) = ({karg})"
    if point is not None and meta.get("range"):
        mn, mx = meta["range"]
        cond += f" AND `{mn}` <= ({point}) AND ({point}) <= `{mx}`"
    return cond


def _dict_get_expr(
    a: list[str], or_null: bool = False, or_default: bool = False
) -> str:
    """dictGet / dictGet<Type> / dictGetOrDefault / dictGetOrNull
    (src/Functions/FunctionsExternalDictionaries.h): a point lookup that
    Catalyst decorrelates into a join against the dictionary view; misses
    take the attribute's declared DEFAULT (or the type default), the
    explicit 4th argument for -OrDefault, NULL for -OrNull."""
    meta = _dict_lookup(a[0])
    attrs = _dict_attr_names(a[1])
    karg = a[2]
    rest = a[3:]
    point = None
    if meta.get("range") and rest and not or_default:
        point = rest[0]
    default_arg = rest[0] if or_default and rest else None
    cond = _dict_key_cond(meta, karg, point)
    subs = []
    for at in attrs:
        sub = f"(SELECT any_value(`{at}`) FROM {meta['view']} WHERE {cond})"
        if or_default and default_arg is not None:
            sub = f"coalesce({sub}, {default_arg})"
        elif not or_null:
            ty, dd = meta["attrs"].get(at, ("", "NULL"))
            if ty:
                sub = f"coalesce({sub}, CAST({dd} AS {ty}))"
        subs.append(sub)
    if len(subs) == 1:
        return subs[0]
    return (
        "named_struct("
        + ", ".join(f"'col{x + 1}', {s}" for x, s in enumerate(subs))
        + ")"
    )


def _dict_hierarchy_expr(a: list[str]) -> str:
    """dictGetHierarchy(dict, key) — the ancestor chain [key, parent,
    grandparent, ...] walking the HIERARCHICAL attribute until a miss
    or the 0 null-parent terminator (FunctionsExternalDictionaries.h
    getHierarchy / HierarchyDictionariesUtils).  Spark-first: one
    scalar subquery folds the dictionary into a key->parent map and
    walks it with aggregate() — a bounded 16-hop loop, no driver
    iteration, broadcast-sized by the dictionary contract."""
    meta = _dict_lookup(a[0])
    hier = meta.get("hier")
    if not hier:
        _raise_dialect(
            "dictGetHierarchy: no HIERARCHICAL attribute (36)"
        )
    k = meta["keys"][0]
    karg = a[1]
    acc0 = (
        f"named_struct('h', array(CAST(({karg}) AS BIGINT)), "
        f"'cur', CAST(({karg}) AS BIGINT), 'done', false)"
    )
    step = (
        "(acc, x) -> CASE WHEN acc.done OR NOT map_contains_key(__m, "
        "acc.cur) OR coalesce(__m[acc.cur], 0L) = 0L "
        "THEN named_struct('h', acc.h, 'cur', acc.cur, 'done', true) "
        "ELSE named_struct('h', concat(acc.h, array(__m[acc.cur])), "
        "'cur', __m[acc.cur], 'done', false) END"
    )
    return (
        f"(SELECT aggregate(sequence(1, 16), {acc0}, {step}, "
        f"acc -> acc.h) FROM (SELECT map_from_entries(collect_list("
        f"struct(CAST(`{k}` AS BIGINT), CAST(`{hier}` AS BIGINT)))) "
        f"AS __m FROM {meta['view']}))"
    )


def _dict_has_expr(a: list[str]) -> str:
    meta = _dict_lookup(a[0])
    cond = _dict_key_cond(meta, a[1], a[2] if len(a) > 2 else None)
    return (
        f"IF((SELECT count(*) FROM {meta['view']} WHERE {cond}) > 0, 1, 0)"
    )


#: query nesting depth during translation: WITH TOTALS emits its hidden
#: `__is_total` marker only for the OUTERMOST select (subquery totals
#: stay inline — the marker would leak into the outer column list)
_QDEPTH: "contextvars.ContextVar[int]" = contextvars.ContextVar(
    "daisy_query_depth", default=0
)

#: opt-in for the `__is_total` marker column: only the script engine
#: (which strips it and renders the separate totals block) sets this;
#: direct translate()/sql() callers keep a clean column list
_TOTALS_BLOCK_CTX: "contextvars.ContextVar[bool]" = contextvars.ContextVar(
    "daisy_totals_block", default=False
)

#: session settings of the active ScriptRunner (SET statements) — e.g.
#: join_use_nulls=1 switches outer-join fills from type defaults to NULL
_SETTINGS_CTX: "contextvars.ContextVar[dict | None]" = contextvars.ContextVar(
    "daisy_session_settings", default=None
)

#: Distributed-table names whose cluster has >1 local shard, mapped to
#: their LOCAL target table.  Under distributed_product_mode='local'
#: a distributed query localizes distr references inside subqueries —
#: each shard runs the subquery against its own local table
#: (src/Interpreters/InJoinSubqueriesPreprocessor.cpp) — while the
#: top-level read still unions all shards (the N× view).
_DIST_LOCAL_CTX: "contextvars.ContextVar[dict | None]" = contextvars.ContextVar(
    "daisy_dist_local", default=None
)

#: >0 when the current statement runs with distributed_group_by_no_merge
#: over a Distributed table: the value is the shard count and the final
#: SQL is duplicated that many times (each shard streams its complete
#: local result, no initiator merge)
_DIST_NO_MERGE: "contextvars.ContextVar[int]" = contextvars.ContextVar(
    "daisy_dist_no_merge", default=0
)

#: script-engine table schemas for the active ScriptRunner statement:
#: name -> [(col, spark_type, default_sql)].  Lets the ASOF union+window
#: rewrite fill unmatched LEFT rows with the reference's type defaults.
_SCRIPT_SCHEMAS_CTX: "contextvars.ContextVar[dict | None]" = contextvars.ContextVar(
    "daisy_script_schemas", default=None
)

#: declared REFERENCE types of the active ScriptRunner's table columns,
#: flattened col_name -> canonical ch type ("LowCardinality(UInt32)").
#: Feeds the static type env so toTypeName / typed dispatch see the
#: DECLARED type (Spark's schema loses unsigned/LowCardinality/etc.).
_SCRIPT_CHTYPES_CTX: "contextvars.ContextVar[dict | None]" = (
    contextvars.ContextVar("daisy_script_chtypes", default=None)
)

#: AggregateFunction column registry of the active ScriptRunner:
#: col_name -> (agg_fname, "(params)" or "").  Lets finalizeAggregation /
#: -Merge resolve how a STORED state column finalizes
#: (DataTypeAggregateFunction.h — states here live in mergeable
#: finalized-ish forms: uniq=value set, avg=(sum,count), quantile=raw
#: value array).
_AGG_COLS_CTX: "contextvars.ContextVar[dict | None]" = contextvars.ContextVar(
    "daisy_agg_cols", default=None
)

#: SAMPLE BY key expressions of the active ScriptRunner's tables:
#: name -> translated key expression.  SAMPLE f on such a table becomes a
#: deterministic key-range filter (the reference's sampling reads a
#: prefix of the sampling-key space — repeatable, never Bernoulli;
#: Storages/MergeTree/MergeTreeDataSelectExecutor.cpp).
_SAMPLE_BY_CTX: "contextvars.ContextVar[dict | None]" = contextvars.ContextVar(
    "daisy_sample_by", default=None
)


def _active_join_meta() -> dict:
    scoped = _STORAGE_JOIN_CTX.get()
    return STORAGE_JOIN_META if scoped is None else scoped


def _join_get_expr(a: list[str], or_null: bool) -> str:
    """joinGet('table', 'col', key...) — point lookup into a StorageJoin
    table (src/Functions/FunctionJoinGet.cpp): a correlated scalar
    subquery on the key columns; misses yield the column's type default
    (joinGetOrNull: NULL)."""
    tbl = a[0].strip("'`\"").split(".")[-1]
    meta = _active_join_meta().get(tbl)
    if meta is None:
        _raise_dialect(f"joinGet: {tbl} is not a Join-engine table")
    col = a[1].strip("'`\"")
    cond = " AND ".join(
        f"__jg.`{k}` <=> ({v})" for k, v in zip(meta["keys"], a[2:])
    )
    sub = f"(SELECT any_value(__jg.`{col}`) FROM {tbl} AS __jg WHERE {cond})"
    if or_null:
        return sub
    return f"coalesce({sub}, {meta['defaults'].get(col, 'NULL')})"


def _null_in_expr(a: list[str], neg: bool) -> str:
    """nullIn(x, set): IN with transform_null_in=1 — NULL matches NULL
    (null-safe equality per element; src/Functions/in.cpp)."""
    s = a[1].strip()
    if s.startswith("(") and s.endswith(")"):
        elems = [
            _emit(p) for p in _split_top(tokenize(s[1:-1]), ",") if p
        ]
    else:
        elems = [s]
    ors = " OR ".join(f"({a[0]} <=> {e})" for e in elems)
    return f"(NOT ({ors}))" if neg else f"({ors})"


_CH_INT_MINS = frozenset(
    {-128, -32768, -2147483648, -9223372036854775808}
)


def _int_div_expr(a: list[str], or_zero: bool) -> str:
    """intDiv / intDivOrZero (src/Functions/intDiv.cpp,
    intDivOrZero.cpp): C++ truncating division; OrZero additionally
    maps division-by-zero AND signed-overflow (type_min / -1,
    DivisionUtils.h divisionLeadsToFPE) to 0.  Integer-literal args
    constant-fold with the reference's literal typing (a negative
    literal takes the smallest IntN that holds it, so only the exact
    type minima can overflow)."""
    l, r = a[0].strip(), a[1].strip()
    # tokenized unary minus renders as "- 128" — normalize for the
    # literal check only
    lc = re.sub(r"^-\s+", "-", l)
    rc = re.sub(r"^-\s+", "-", r)
    if re.fullmatch(r"-?\d+", lc) and re.fullmatch(r"-?\d+", rc):
        li, ri = int(lc), int(rc)
        if ri == 0 or (li in _CH_INT_MINS and ri == -1):
            if or_zero:
                return "0"
            raise DialectError(
                "Division by zero (ILLEGAL_DIVISION, reference error 153)"
            )
        else:
            q = abs(li) // abs(ri)
            return str(-q if (li < 0) != (ri < 0) else q)
    if or_zero:
        return (
            f"coalesce(CAST(CAST({l} AS DOUBLE) / nullif(({r}), 0) "
            f"AS BIGINT), 0)"
        )
    return f"CAST(CAST({l} AS DOUBLE) / ({r}) AS BIGINT)"


#: reference-exact hash families (functions/chhash.py implements the
#: published algorithms; FunctionsHashing.h defines arg/combine rules)
_EXACT_HASH_KINDS = {
    "cityHash64": "city", "sipHash64": "sip", "halfMD5": "md5",
    "murmurHash2_32": "m2_32", "murmurHash2_64": "m2_64",
    "gccMurmurHash": "gcc", "murmurHash3_32": "m3_32",
    "murmurHash3_64": "m3_64", "murmurHash3_128": "m3_128",
}

_HASH_CONV_FNS = {
    "TOUINT8": (1, False), "TOUINT16": (2, False), "TOUINT32": (4, False),
    "TOUINT64": (8, False), "TOINT8": (1, True), "TOINT16": (2, True),
    "TOINT32": (4, True), "TOINT64": (8, True),
}

_HASH_INT_TYPES = {
    "UINT8": (1, False), "UINT16": (2, False), "UINT32": (4, False),
    "UINT64": (8, False), "INT8": (1, True), "INT16": (2, True),
    "INT32": (4, True), "INT64": (8, True),
}


def _ch_str_bytes(tok: str) -> bytes:
    """Decode a reference string literal token to raw bytes
    (parsers/Lexer escape rules; hex escapes are bytes)."""
    body = tok[1:-1]
    buf = bytearray()
    i, n = 0, len(body)
    esc = {"n": 10, "t": 9, "r": 13, "0": 0, "b": 8, "f": 12, "a": 7,
           "v": 11, "\\": 92, "'": 39, '"': 34, "?": 63}
    while i < n:
        c = body[i]
        if c == "\\" and i + 1 < n:
            nx = body[i + 1]
            if nx == "x" and i + 3 < n:
                try:
                    buf.append(int(body[i + 2 : i + 4], 16))
                    i += 4
                    continue
                except ValueError:
                    pass
            if nx in esc:
                buf.append(esc[nx])
                i += 2
                continue
            buf += nx.encode("utf-8")
            i += 2
            continue
        buf += c.encode("utf-8")
        i += 1
    return bytes(buf)


def _parse_hash_lit(toks: list[str]):
    """Parse raw argument tokens into a typed literal node for exact
    hashing: ("int", v, width) | ("float", v, width) | ("str", bytes) |
    ("array", [nodes]) | ("tuple", [nodes]); None when not a literal."""
    while (
        len(toks) >= 3 and toks[0] == "(" and _match_paren(toks, 0) == len(toks) - 1
        and not any(t == "," for _, t in _top_level(toks, 1, -1))
    ):
        toks = toks[1:-1]
    if not toks:
        return None
    head = _kw(toks[0])
    if (
        head in ("MATERIALIZE", "TOFIXEDSTRING") and len(toks) >= 3
        and toks[1] == "(" and _match_paren(toks, 1) == len(toks) - 1
    ):
        inner = _split_top(toks[2:-1], ",")
        return _parse_hash_lit(inner[0]) if inner else None
    if (
        head in _HASH_CONV_FNS and len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
    ):
        sub = _parse_hash_lit(toks[2:-1])
        return _retype_hash_lit(sub, *_HASH_CONV_FNS[head])
    if (
        head in ("TOFLOAT32", "TOFLOAT64") and len(toks) >= 3
        and toks[1] == "(" and _match_paren(toks, 1) == len(toks) - 1
    ):
        sub = _parse_hash_lit(toks[2:-1])
        if sub and sub[0] in ("int", "float"):
            return ("float", float(sub[1]), 4 if head == "TOFLOAT32" else 8)
        return None
    if head == "CAST" and len(toks) >= 3 and toks[1] == "(" and _match_paren(toks, 1) == len(toks) - 1:
        inner = toks[2:-1]
        as_idx = next(
            (k for k, t in _top_level(inner) if _kw(t) == "AS"),
            None,
        )
        if as_idx is None:
            return None
        sub = _parse_hash_lit(inner[:as_idx])
        typ = _kw(inner[as_idx + 1])
        if typ in _HASH_INT_TYPES:
            return _retype_hash_lit(sub, *_HASH_INT_TYPES[typ])
        if typ in ("FLOAT32", "FLOAT64") and sub and sub[0] in ("int", "float"):
            return ("float", float(sub[1]), 4 if typ == "FLOAT32" else 8)
        if typ == "STRING" and sub and sub[0] == "str":
            return sub
        if typ == "FIXEDSTRING" and sub and sub[0] == "str":
            # FixedString(n): zero-pad to n
            try:
                fl = int(inner[as_idx + 3])
                return ("str", sub[1].ljust(fl, b"\x00"))
            except (ValueError, IndexError):
                return None
        return None
    if len(toks) == 1:
        t = toks[0]
        if _kw(t) == "NULL":
            return ("null",)
        if re.fullmatch(r"0[xX][0-9a-fA-F]+", t):
            v = int(t, 16)
            w = 1 if v < 256 else 2 if v < 65536 else 4 if v < 2**32 else 8
            return ("int", v, w)
        if re.fullmatch(r"\d+", t):
            v = int(t)
            w = 1 if v < 256 else 2 if v < 65536 else 4 if v < 2**32 else 8
            return ("int", v, w)
        if re.fullmatch(r"(?i)\d+\.\d*(e[+-]?\d+)?|\.\d+(e[+-]?\d+)?|\d+e[+-]?\d+", t):
            return ("float", float(t), 8)
        if t[:1] == "'" and t[-1:] == "'":
            return ("str", _ch_str_bytes(t))
        return None
    if toks[0] == "-" and len(toks) == 2:
        sub = _parse_hash_lit(toks[1:])
        if sub and sub[0] == "int":
            v = -sub[1]
            w = 1 if v >= -128 else 2 if v >= -32768 else 4 if v >= -(2**31) else 8
            return ("int", v, w)
        if sub and sub[0] == "float":
            return ("float", -sub[1], sub[2])
        return None
    if toks[0] == "(" and _match_paren(toks, 0) == len(toks) - 1:
        parts = _split_top(toks[1:-1], ",")
        subs = [_parse_hash_lit(p) for p in parts if p]
        if any(s is None for s in subs) or not subs:
            return None
        return ("tuple", subs)
    if toks[0] == "[":
        depth = 0
        for k, t in enumerate(toks):
            if t == "[" or t == "(":
                depth += 1
            elif t == "]" or t == ")":
                depth -= 1
                if depth == 0:
                    if k != len(toks) - 1:
                        return None
                    break
        parts = _split_top(toks[1:-1], ",")
        subs = [_parse_hash_lit(p) for p in parts if p]
        if any(s is None for s in subs):
            return None
        return ("array", subs)
    return None


def _retype_hash_lit(sub, width: int, signed: bool):
    if not sub or sub[0] != "int":
        return None
    v = sub[1] & ((1 << (8 * width)) - 1)
    if signed and v >= (1 << (8 * width - 1)):
        v -= 1 << (8 * width)
    return ("int", v, width)


def _flatten_hash_args(nodes):
    out = []
    for nd in nodes:
        if nd[0] == "tuple":
            out.extend(_flatten_hash_args(nd[1]))
        else:
            out.append(nd)
    return out


def _sql_inthash64impl(e: str) -> str:
    """IntHash64Impl as pure Spark SQL (BIGINT arithmetic wraps like the
    reference's UInt64): intHash64(x ^ 0x4CF2D2BAAE6DA887)."""
    m1 = 0xFF51AFD7ED558CCD - 2**64
    m2 = 0xC4CEB9FE1A85EC53 - 2**64
    x1 = f"(CAST(({e}) AS BIGINT) ^ {0x4CF2D2BAAE6DA887})"
    x2 = f"({x1} ^ shiftrightunsigned({x1}, 33))"
    x3 = f"({x2} * {m1})"
    x4 = f"({x3} ^ shiftrightunsigned({x3}, 33))"
    x5 = f"({x4} * {m2})"
    return f"({x5} ^ shiftrightunsigned({x5}, 33))"


def _sql_hash128to64(lo: str, hi: str) -> str:
    kmul = 0x9DDFEA08EB382D69 - 2**64
    a1 = f"((({lo}) ^ ({hi})) * {kmul})"
    a2 = f"({a1} ^ shiftrightunsigned({a1}, 47))"
    b1 = f"((({hi}) ^ {a2}) * {kmul})"
    b2 = f"({b1} ^ shiftrightunsigned({b1}, 47))"
    return f"({b2} * {kmul})"


def _int_hash_fn(a0: str, bits: int) -> str:
    """intHash64 / intHash32 — constant-fold integer literals, else
    exact SQL (64-bit) or the registered UDF (32-bit rotations blow up
    textually)."""
    from daisy_spark.functions import chhash

    t = re.sub(r"^-\s+", "-", a0.strip())
    if re.fullmatch(r"-?\d+", t):
        v = int(t) & ((1 << 64) - 1)
        h = (
            chhash.int_hash64_impl(v) if bits == 64
            else chhash.int_hash32_impl(v)
        )
        if h < (1 << 63):
            return f"CAST({h} AS BIGINT)"
        return f"CAST('{h}' AS DECIMAL(20, 0))"
    if bits == 64:
        return _unsigned_u64(_sql_inthash64impl(a0))
    return f"ch_inthash32({a0})"


def _unsigned_u64(e: str) -> str:
    """Render a signed-BIGINT hash as the reference's UInt64: lift to
    DECIMAL(20,0) and add 2^64 for negatives (also makes ORDER BY sort
    unsigned, matching the reference)."""
    return (
        f"(CAST(({e}) AS DECIMAL(20, 0)) + IF(({e}) < 0, "
        f"CAST(18446744073709551616 AS DECIMAL(21, 0)), 0))"
    )


def _url_params_expr(url: str) -> str:
    """Array of URL parameter tokens per the reference tokenizer
    (extractURLParameters.cpp): region after the first [?#], pieces
    split on [&#], a '?' inside the name restarts the token."""
    region = f"regexp_replace({url}, '^[^?#]*[?#]', '')"
    toks = (
        f"transform(split({region}, '[&#]'), "
        f"__p -> regexp_replace(__p, '^[^=]*\\\\?', ''))"
    )
    # the LAST piece is unterminated: the reference tokenizer drops it
    # unless it carries '=' (find_first_symbols hits end -> no token)
    return (
        f"IF(({url}) RLIKE '[?#]', "
        f"transform(filter(zip_with({toks}, "
        f"sequence(1, size({toks})), (__t, __i) -> "
        f"struct(__t AS t, __i AS i)), __s -> __s.t != '' AND "
        f"(__s.i < size({toks}) OR __s.t RLIKE '=')), "
        f"__s -> __s.t), array())"
    )


def _to_int_conv(a0: str, shape: str) -> str:
    """toIntN/toUIntN over the argument's UNDERLYING integer: dates are
    days since epoch, datetimes are unix seconds, everything else casts
    to BIGINT (wrapping applied by ``shape``)."""
    t = a0.strip()
    if re.search(r"(?i)AS\s+DATE\s*\)\s*$", t) or re.match(
        r"(?i)(to_date|date_add|date_sub|last_day)\s*\(", t
    ):
        e = f"datediff(({t}), DATE '1970-01-01')"
    elif re.search(r"(?i)AS\s+TIMESTAMP\s*\)\s*$", t) or re.match(
        r"(?i)(current_timestamp|to_timestamp|timestamp_seconds|"
        r"date_trunc)\s*\(", t
    ):
        e = f"unix_timestamp({t})"
    else:
        e = f"CAST({t} AS BIGINT)"
    return shape.format(e=e)


def _array_quantiles_expr(arr: str, params: list[str], singular: bool) -> str:
    """R-7 interpolated quantiles over an array-valued expression — the
    -Merge path for stored quantile states (raw value multisets).  Binds
    the sorted array once via a 1-element transform lambda so the
    aggregate under ``arr`` is evaluated a single time."""
    def q(p: str) -> str:
        # low*(1-g) + high*g — the reference's exact float arithmetic
        # (ReservoirSampler.h quantileInterpolated), NOT low+g*(high-low)
        h = f"(size(s) - 1) * ({p})"
        lo = f"CAST(floor({h}) AS INT) + 1"
        return (
            f"CAST(element_at(s, {lo}) AS DOUBLE) * (1.0d - ({h} - "
            f"floor({h}))) + "
            f"CAST(element_at(s, least({lo} + 1, size(s))) AS DOUBLE) * "
            f"({h} - floor({h}))"
        )

    body = (
        q(params[0]) if singular
        else "array(" + ", ".join(q(p) for p in params) + ")"
    )
    return (
        f"element_at(transform(array(array_sort({arr})), s -> {body}), 1)"
    )


def _finalize_agg_expr(a: list[str]) -> str:
    """finalizeAggregation(state) — resolve how the state finalizes.  A
    bare column consults the script engine's AggregateFunction column
    registry; an inline fooState(..) expression is recognized by its
    lowered SQL shape."""
    e = a[0]
    info = (_AGG_COLS_CTX.get() or {}).get(e.strip().strip("`"))
    if info is not None:
        fname, params = info
        fl = fname.lower()
        if fl.startswith("uniq"):
            return f"size(array_distinct({e}))"
        if fl in ("avg", "avgweighted"):
            return f"(({e}).s / ({e}).c)"
        if fl.startswith("quantile") or fl == "median":
            inner = params.strip("()").strip()
            ps = (
                [p.strip() for p in inner.split(",")] if inner else ["0.5"]
            )
            return _array_quantiles_expr(e, ps, not fl.startswith("quantiles"))
        return e
    if "collect_set" in e:
        return f"size(array_distinct({e}))"
    if "named_struct('s'" in e:
        return f"(({e}).s / ({e}).c)"
    return e


#: base aggregate names that themselves END in a combinator-looking
#: suffix and must never be peeled further
_COMBINATOR_STOP = {
    "groupArray", "groupUniqArray", "sumMap", "minMap", "maxMap",
    "sequenceCount",
}

#: aggregate combinator suffixes, peeled right-to-left
#: (AggregateFunctionCombinatorFactory order)
_COMBINATOR_SUFS = ("If", "OrNull", "OrDefault", "Distinct", "Array",
                    "ForEach")


def _peel_combinators(name: str) -> tuple[str, list[str]]:
    """Strip trailing aggregate combinators: 'avgOrDefaultIf' ->
    ('avg', ['If', 'OrDefault']).  Stops at known base names."""
    sufs: list[str] = []
    while name not in _COMBINATOR_STOP:
        for suf in _COMBINATOR_SUFS:
            if name.endswith(suf) and len(name) > len(suf):
                name = name[: -len(suf)]
                sufs.append(suf)
                break
        else:
            break
    return name, sufs


def _render_tmpl(tmpl, args: list[str]) -> str:
    if callable(tmpl):
        return tmpl(args)
    s = str(tmpl)
    s = s.replace("{*}", ", ".join(args) if args else "*")
    for k, a in enumerate(args):
        s = s.replace("{" + str(k) + "}", a)
    return s


def _ordefault_value(expr_text: str) -> str:
    """-OrDefault's empty-set fill is the TYPE default
    (AggregateFunctionOrFill.h): 0 / epoch / ''.  The value type is
    inferred from the expression text (the corpus spells casts and
    constructors explicitly)."""
    t = expr_text
    if re.search(r"(?i)\bNULL\b", t):
        return "NULL"  # Nullable(T) defaults to NULL regardless of T
    if re.search(r"(?i)AS TIMESTAMP|to_timestamp|timestamp_seconds", t):
        return "TIMESTAMP '1970-01-01 00:00:00'"
    if re.search(r"(?i)AS DATE\b|to_date\s*\(|DATE '", t):
        return "DATE '1970-01-01'"
    if "'" in t:
        return "''"
    return "0"


#: DataTypeCustomSimpleAggregateFunction.cpp supported_functions
_SIMPLE_AGG_BASES = {
    "any", "anyLast", "min", "max", "sum", "sumWithOverflow",
    "groupBitAnd", "groupBitOr", "groupBitXor", "groupArrayArray",
    "groupUniqArrayArray", "sumMap", "minMap", "maxMap",
}


def _agg_combinator_expr(t: str, args: list[str]) -> str | None:
    """Generic -If / -OrNull / -OrDefault combinator synthesis for any
    mapped aggregate (AggregateFunctionOrFill.h: empty input -> NULL /
    type default; AggregateFunctionIf.h: condition filters rows).
    Returns None when the peeled base is unknown."""
    base, sufs = _peel_combinators(t)
    if base.lower() in (
        "sum", "min", "max", "avg", "count", "any",
    ) and base != base.lower():
        # case-insensitively registered bases keep resolving under
        # combinators: SumOrNull / SUMOrNullIf (01560,
        # AggregateFunctionFactory.cpp case-insensitive registry)
        base = base.lower()
    if not sufs or "Distinct" in sufs:
        return None
    if "Array" in sufs and "ForEach" not in sufs:
        return None  # only the ForEach∘Array composition is synthesized
    if "ForEach" in sufs and ("OrNull" in sufs or "OrDefault" in sufs):
        return None
    tmpl = FUNC_MAP.get(base)
    if tmpl is None:
        if base in ("sum", "min", "max", "avg", "count", "any"):
            tmpl = base + "({0})"
        else:
            return None
    vargs = list(args)
    if "If" in sufs:
        if len(vargs) < 2:
            return None
        cond = vargs.pop()
        if "ForEach" in sufs and sufs.index("ForEach") < sufs.index("If"):
            # fooIfForEach = ForEach(fooIf): the condition is a PARALLEL
            # ARRAY applied per position — mask elements to NULL (the
            # ForEach folds skip NULLs), not per row
            vargs = [
                f"zip_with({v}, {cond}, (__mv, __mc) -> "
                f"IF(CAST(__mc AS BOOLEAN), __mv, NULL))"
                for v in vargs
            ]
        else:
            vargs = [
                f"(CASE WHEN CAST({cond} AS BOOLEAN) THEN {v} END)"
                for v in vargs
            ]
        # the CASE injects NULLs for filtered rows; ClickHouse
        # aggregates skip NULLs, but Spark's any_value only does so
        # with its ignoreNulls flag (AggregateFunctionIf.h filters
        # ROWS, so anyIf must not latch a filtered-out row's NULL)
        if isinstance(tmpl, str) and tmpl.startswith("any_value({0})"):
            tmpl = "any_value({0}, true)" + tmpl[len("any_value({0})"):]
    if "ForEach" in sufs:
        # -ForEach: the aggregate applies PER ARRAY POSITION
        # (AggregateFunctionForEach.h) — result length is the max input
        # length, shorter arrays simply contribute nothing at the tail.
        # collect_list drops NULL (If-filtered) arrays for free.
        if base not in ("sum", "min", "max", "avg", "count",
                        "groupArray", "uniq", "uniqExact"):
            return None
        col = f"collect_list({vargs[0]})"
        if "Array" in sufs:
            # -Array outside the ForEach: each element of the outer
            # array is one ForEach input row
            col = f"flatten({col})"
        ml = f"array_max(transform({col}, __fa -> size(__fa)))"
        at_i = "element_at(__fa, CAST(__fi AS INT))"
        vals = (
            f"filter(transform({col}, __fa -> {at_i}), "
            f"__fv -> __fv IS NOT NULL)"
        )
        if base == "sum":
            one = (
                f"aggregate({col}, CAST(0 AS DOUBLE), "
                f"(__ac, __fa) -> __ac + coalesce(CAST({at_i} AS DOUBLE),"
                f" 0.0d))"
            )
        elif base == "avg":
            one = (
                f"(aggregate({col}, CAST(0 AS DOUBLE), (__ac, __fa) -> "
                f"__ac + coalesce(CAST({at_i} AS DOUBLE), 0.0d)) / "
                f"size({vals}))"
            )
        elif base == "count":
            one = f"size({vals})"
        elif base == "min":
            one = f"array_min({vals})"
        elif base == "max":
            one = f"array_max({vals})"
        elif base in ("uniq", "uniqExact"):
            one = f"size(array_distinct({vals}))"
        else:
            one = vals
        return f"transform(sequence(1, {ml}), __fi -> {one})"
    core = _render_tmpl(tmpl, vargs)
    cnt = f"count({vargs[0]})"
    if "OrNull" in sufs:
        return f"IF({cnt} = 0, NULL, {core})"
    if "OrDefault" in sufs:
        return f"IF({cnt} = 0, {_ordefault_value(vargs[0])}, {core})"
    return core








def _default_of_ch_type(t: str) -> str | None:
    """SQL literal for the reference TYPE DEFAULT of a ClickHouse type
    name (IDataType::getDefault); None when unmodeled.  A tz-carrying
    DateTime default is epoch AT THAT ZONE's wall clock (the engine
    stores wall-clock-shifted naive timestamps for DateTime(tz))."""
    t = t.strip()
    m_tz = re.fullmatch(r"DateTime(?:64)?\((?:\d+, )?('[^']*')\)", t)
    if m_tz:
        return (
            f"from_utc_timestamp(TIMESTAMP '1970-01-01 00:00:00', "
            f"{m_tz.group(1)})"
        )
    low = t.lower()
    if low.startswith("nullable("):
        return "NULL"
    if low.startswith("lowcardinality("):
        return _default_of_ch_type(t[15:-1])
    if low.startswith("array("):
        return "array()"
    if low.startswith("tuple("):
        inner = t[6:-1]
        parts = []
        depth = 0
        buf = ""
        in_s = False
        for ch in inner:
            if in_s:
                buf += ch
                if ch == "'":
                    in_s = False
                continue
            if ch == "'":
                in_s = True
                buf += ch
            elif ch == "(":
                depth += 1
                buf += ch
            elif ch == ")":
                depth -= 1
                buf += ch
            elif ch == "," and depth == 0:
                parts.append(buf.strip())
                buf = ""
            else:
                buf += ch
        if buf.strip():
            parts.append(buf.strip())
        ds = []
        for k, pt in enumerate(parts):
            # named Tuple members: `name Type`
            m5 = re.match(r"^[A-Za-z_]\w*\s+(.+)$", pt)
            base_t = m5.group(1) if m5 and _default_of_ch_type(
                m5.group(1)
            ) is not None else pt
            d = _default_of_ch_type(base_t)
            if d is None:
                return None
            ds.append(f"'col{k + 1}', {d}")
        return "named_struct(" + ", ".join(ds) + ")"
    if low.startswith(("int", "uint", "float")) or low in ("bool",):
        return "0"
    if low.startswith("decimal"):
        m5 = re.search(r"\((?:\d+\s*,\s*)?(\d+)\)", t)
        s5 = m5.group(1) if m5 else "0"
        return f"CAST(0 AS DECIMAL(38, {s5}))"
    if low.startswith("fixedstring") or low == "string":
        return "''"
    if low == "uuid":
        return "'00000000-0000-0000-0000-000000000000'"
    if low == "ipv4":
        return "'0.0.0.0'"
    if low == "ipv6":
        return "'::'"
    if low == "date" or low == "date32":
        return "DATE '1970-01-01'"
    if low.startswith("datetime"):
        return "TIMESTAMP '1970-01-01 00:00:00'"
    if low.startswith("enum"):
        return None
    return None



def _nullable_try_cast(e: str, type_toks: list[str], src_raw: list[str]) -> str | None:
    """CAST(string AS Nullable(X)): the reference parses with
    null-on-failure (FunctionsConversion accurateOrNull) — unsigned
    range-checked, bare-digit strings are NOT dates.  Only applies to
    String-typed sources (numeric sources WRAP on overflow instead)."""
    if (
        not type_toks or _kw(type_toks[0]) != "NULLABLE"
        or len(type_toks) < 4 or type_toks[1] != "("
    ):
        return None
    try:
        st0 = _ch_type_of(src_raw, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT)
    except Exception:  # noqa: BLE001
        st0 = None
    if not st0 or not _ch_unwrap(st0).startswith(("String", "FixedString")):
        return None
    head = _kw(type_toks[2]) if len(type_toks) > 2 else ""
    u_max = {
        "UINT8": (255, "SMALLINT"), "UINT16": (65535, "INT"),
        "UINT32": (4294967295, "BIGINT"), "UINT64": (None, "BIGINT"),
    }
    s_map = {
        "INT8": "TINYINT", "INT16": "SMALLINT", "INT32": "INT",
        "INT64": "BIGINT", "FLOAT32": "FLOAT", "FLOAT64": "DOUBLE",
    }
    if head in u_max:
        mx, st = u_max[head]
        g = f"try_cast({e} AS BIGINT)"
        cond = f"{g} >= 0" + (f" AND {g} <= {mx}" if mx else "")
        return f"CAST(IF({cond}, {g}, NULL) AS {st})"
    if head in s_map:
        return f"try_cast({e} AS {s_map[head]})"
    if head == "DATE":
        return (
            f"IF(CAST({e} AS STRING) RLIKE '^\\\\s*[0-9]*\\\\s*$', NULL, "
            f"try_cast({e} AS DATE))"
        )
    if head in ("DATETIME", "DATETIME64"):
        return (
            f"IF(CAST({e} AS STRING) RLIKE '^\\\\s*[0-9]*\\\\s*$', NULL, "
            f"try_cast({e} AS TIMESTAMP))"
        )
    return None


def _typed_default_sql(ch_t: str) -> str | None:
    """Like _default_of_ch_type, but composite defaults carry an explicit
    Spark type cast (bare array() is ARRAY<VOID> and breaks coalesce
    against a typed branch)."""
    d0 = _default_of_ch_type(ch_t)
    if d0 is None:
        return None
    if re.match(r"(?i)^\s*(array|tuple|map)\s*\(", ch_t):
        try:
            st, _ = _map_type(tokenize(ch_t), 0)
            return f"CAST({d0} AS {st})"
        except Exception:  # noqa: BLE001
            return d0
    return d0


def _peek_tuple_arity(out: list[str]) -> int:
    """Arity of the trailing paren-tuple operand already emitted, 0 when
    the last operand is not a bare tuple literal."""
    if not out or out[-1] != ")":
        return 0
    d = 0
    k = len(out) - 1
    while k >= 0:
        if out[k] == ")":
            d += 1
        elif out[k] == "(":
            d -= 1
            if d == 0:
                break
        k -= 1
    if k < 0:
        return 0
    if k >= 1 and _is_ident(out[k - 1]) and _kw(out[k - 1]) not in _SQL_KEYWORDS:
        return 0  # function call, not a tuple literal
    return len(_split_top(out[k + 1 : -1], ","))



def _tuple_text_fields(txt: str) -> list[str] | None:
    """Extract the value expressions of a rendered named_struct(...)
    text (a translated tuple literal); None when the text is anything
    else.  Top-level scan — nested structs stay intact."""
    t = txt.strip()
    while t.startswith("(") and t.endswith(")"):
        t2 = t[1:-1].strip()
        t = t2
    if not t.startswith("named_struct("):
        return None
    inner = t[len("named_struct(") : -1]
    args: list[str] = []
    depth = 0
    buf = ""
    in_str = False
    for ch in inner:
        if in_str:
            buf += ch
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
            buf += ch
        elif ch in "([":
            depth += 1
            buf += ch
        elif ch in ")]":
            depth -= 1
            buf += ch
        elif ch == "," and depth == 0:
            args.append(buf.strip())
            buf = ""
        else:
            buf += ch
    if buf.strip():
        args.append(buf.strip())
    # args alternate 'colN' literal, value
    if len(args) % 2 != 0:
        return None
    return [args[k] for k in range(1, len(args), 2)]



def _bar_expr(a: list[str]) -> str:
    """bar(x, min, max[, width]) — reference UnicodeBar::render
    (src/Common/UnicodeBar.cpp): clamp to [0, width], floor(w) full
    blocks, then the floor(frac*8)-th eighth-block (list '▏▎▍▌▋▋▊'
    with the duplicated ▋, exactly as the reference renders)."""
    w = a[3] if len(a) > 3 else "80"
    x, lo, hi = a[0], a[1], a[2]
    wv = (
        f"(CASE WHEN isnan(CAST({x} AS DOUBLE)) THEN 0D "
        f"WHEN CAST({x} AS DOUBLE) <= ({lo}) THEN 0D "
        f"WHEN CAST({x} AS DOUBLE) >= ({hi}) THEN CAST(({w}) AS DOUBLE) "
        f"ELSE (CAST({x} AS DOUBLE) - ({lo})) / (({hi}) - ({lo})) "
        f"* ({w}) END)"
    )
    rem = f"CAST(floor(({wv} - floor({wv})) * 8) AS INT)"
    return (
        f"concat(repeat('█', CAST(floor({wv}) AS INT)), "
        f"element_at(array('', '▏', '▎', '▍', '▌', '▋', '▋', '▊'), "
        f"{rem} + 1))"
    )


def _substring_expr(a: list[str], utf8: bool = False) -> str:
    """substring/substr/mid with the reference's rules
    (src/Functions/substring.cpp / GatherUtils): offset 0 yields '';
    negative offsets count from the end; a negative length ends the
    slice |length| characters before the end.  Plain substring keeps the
    VIRTUAL start when it falls before the string (off-string positions
    consume length: substring('hello', -10, 7) = 'he'), while
    substringUTF8 CLAMPS the start first (same call yields 'hello')."""
    if len(a) < 2:
        return f"substring({', '.join(a)})"
    s, p = a[0], a[1]
    ln = f"length({s})"
    sv = f"IF(({p}) < 0, {ln} + ({p}) + 1, CAST(({p}) AS INT))"
    if utf8:
        sv = f"greatest({sv}, 1)"
    start = f"greatest({sv}, 1)"
    if len(a) == 2:
        size = f"greatest({ln} - {start} + 1, 0)"
        return f"IF(({p}) = 0, '', substring({s}, {start}, {size}))"
    n = a[2]
    endp = f"IF(({n}) < 0, {ln} + ({n}), {sv} + CAST(({n}) AS INT) - 1)"
    size = f"greatest(least({endp}, {ln}) - {start} + 1, 0)"
    return f"IF(({p}) = 0, '', substring({s}, {start}, {size}))"


def _quantile_interp(arr: str, level: str) -> str:
    """Interpolated quantile over an array (reference 'quantile' /
    'median': linear interpolation on the sorted set)."""
    qs = f"array_sort(transform({arr}, __x -> CAST(__x AS DOUBLE)))"
    h = f"((size({arr}) - 1) * ({level}))"
    lo = f"CAST(floor({h}) AS INT)"
    vlo = f"element_at({qs}, {lo} + 1)"
    vhi = f"coalesce(element_at({qs}, least({lo} + 2, size({arr}))), {vlo})"
    return (
        f"IF(size({arr}) = 0, double('NaN'), "
        f"{vlo} + ({h} - {lo}) * ({vhi} - {vlo}))"
    )


def _quantile_exact(arr: str, level: str) -> str:
    """Discrete quantileExact (QuantileExact.h: n = level * size,
    clamped to size-1, after full sort)."""
    qs = f"array_sort(transform({arr}, __x -> CAST(__x AS DOUBLE)))"
    idx = (
        f"least(CAST(floor(size({arr}) * ({level})) AS INT), "
        f"size({arr}) - 1)"
    )
    return (
        f"IF(size({arr}) = 0, double('NaN'), "
        f"element_at({qs}, {idx} + 1))"
    )


def _array_reduce_expr(a: list[str]) -> str:
    """arrayReduce('agg', arr...) — lower to the matching array HOF
    (src/Functions/array/arrayReduce.cpp applies the named aggregate
    over array elements; multiple arrays zip into tuple arguments)."""
    m = re.fullmatch(r"'(\w+)\s*(?:\((.*)\))?'", a[0].strip())
    if not m:
        raise DialectError(f"arrayReduce: unsupported name {a[0]}")
    name, params = m.group(1), m.group(2)
    arrs = list(a[1:])
    pspec = f"({params})" if params else ""

    def recurse(new_name: str, new_arrs: list[str]) -> str:
        return _array_reduce_expr([f"'{new_name}{pspec}'", *new_arrs])

    # combinator peeling (outermost first).  -OrNull / -OrDefault wrap
    # the inner result for the empty set; -State / -Merge follow this
    # engine's stored-state model (uniq = value set, avg = (sum, count),
    # groupArray/quantile = value list — DataTypeAggregateFunction.h)
    if name.endswith("Resample") and len(name) > 8 and len(arrs) >= 2 and params:
        # -Resample(start, end, step): bucket elements by the KEY array
        # into [start + i*step, start + (i+1)*step) ∩ [start, end),
        # apply the base aggregate per bucket, return the array
        # (AggregateFunctionResample.h)
        base_r = name[:-8]
        pr = [x.strip() for x in params.split(",")]
        start_r, end_r, step_r = pr[0], pr[1], pr[2]
        try:
            nb = -(-(int(end_r) - int(start_r)) // int(step_r))
        except ValueError:
            raise DialectError("Resample requires integer literal bounds")
        pairs = (
            f"zip_with({arrs[0]}, {arrs[1]}, (__rv, __rk) -> "
            f"named_struct('v', __rv, 'k', CAST(__rk AS BIGINT)))"
        )
        vals = (
            f"transform(filter({pairs}, __rp -> "
            f"__rp.k >= {start_r} + __rb * {step_r} AND "
            f"__rp.k < least({start_r} + (__rb + 1) * {step_r}, {end_r})"
            f"), __rp -> __rp.v)"
        )
        inner_r = _array_reduce_expr([f"'{base_r}'", vals])
        return f"transform(sequence(0, {nb - 1}), __rb -> {inner_r})"
    if (
        name.endswith("If") and len(name) > 2 and len(arrs) >= 2
        and name not in ("sumIf", "uniqExactIf", "uniqIf")  # explicit below
    ):
        # -If: last array is the condition; kept elements recurse
        cond = arrs[-1]
        kept = [
            f"transform(filter(zip_with({x}, {cond}, "
            f"(__ifv, __ifc) -> struct(__ifv AS v, __ifc AS c)), "
            f"__ifp -> CAST(__ifp.c AS BOOLEAN)), __ifp -> __ifp.v)"
            for x in arrs[:-1]
        ]
        return recurse(name[:-2], kept)
    if name.endswith("OrNull") and len(name) > 6:
        core = recurse(name[:-6], arrs)
        return f"IF(size({arrs[0]}) = 0, NULL, {core})"
    if name.endswith("OrDefault") and len(name) > 9:
        core = recurse(name[:-9], arrs)
        return (
            f"IF(size({arrs[0]}) = 0, "
            f"{_ordefault_value(arrs[0])}, {core})"
        )
    if name.endswith("State") and len(name) > 5:
        base = name[:-5]
        x = arrs[0]
        if base.endswith("Merge") and len(base) > 5:
            # fooMergeState: merge partial states, keep the state form
            b2 = base[:-5]
            if b2.lower().startswith("uniq"):
                return f"array_distinct(flatten({x}))"
            if b2 in ("groupArray",):
                return f"flatten({x})"
            if b2 == "groupUniqArray":
                return f"array_distinct(flatten({x}))"
            return recurse(base, arrs)
        if base.lower().startswith("uniq"):
            return f"array_distinct(filter({x}, __s -> __s IS NOT NULL))"
        if base == "avg":
            return (
                f"named_struct('s', aggregate({x}, CAST(0 AS DOUBLE), "
                f"(__a, __v) -> __a + __v), "
                f"'c', CAST(size({x}) AS BIGINT))"
            )
        if base == "count":
            return f"CAST(size({x}) AS BIGINT)"
        if base in ("groupArray", "groupUniqArray"):
            return recurse(base, arrs)
        if base.lower().startswith("quantile") or base == "median":
            return f"transform({x}, __s -> CAST(__s AS DOUBLE))"
        return recurse(base, arrs)  # scalar-mergeable finalized partials
    if name.endswith("Merge") and len(name) > 5:
        base = name[:-5]
        if base.lower().startswith("uniq") or base in (
            "groupArray", "groupUniqArray",
        ) or base.lower().startswith("quantile") or base in (
            "median", "medianExact",
        ):
            # set / list states: union the partial arrays first
            return recurse(base, [f"flatten({arrs[0]})", *arrs[1:]])
        if base == "avg":
            acc = (
                f"aggregate({arrs[0]}, named_struct("
                f"'s', CAST(0 AS DOUBLE), 'c', CAST(0 AS BIGINT)), "
                f"(__a, __x) -> named_struct('s', __a.s + __x.s, "
                f"'c', __a.c + __x.c))"
            )
            return f"(({acc}).s / ({acc}).c)"
        if base == "count":
            return recurse("sum", arrs)
        # sum/min/max/any partials compose with themselves
        return recurse(base, arrs)
    arr = arrs[0] if arrs else "array()"
    if name == "sumMap":
        ks = f"array_sort(array_distinct(flatten({arrs[0]})))"
        pairs = (
            f"zip_with(flatten({arrs[0]}), flatten({arrs[1]}), "
            f"(__k, __v) -> struct(__k AS k, __v AS v))"
        )
        sums = (
            f"transform({ks}, __kk -> aggregate(filter({pairs}, "
            f"__p -> __p.k <=> __kk), CAST(0 AS BIGINT), "
            f"(__a, __p) -> __a + CAST(__p.v AS BIGINT)))"
        )
        return f"struct({ks} AS col1, {sums} AS col2)"
    if name in ("sum", "sumKahan"):
        m_d = re.search(r"(?i)DECIMAL\(\s*\d+\s*,\s*(\d+)\s*\)", arr)
        if m_d:
            s_ = m_d.group(1)
            return (
                f"aggregate({arr}, CAST(0 AS DECIMAL(38, {s_})), "
                f"(__a, __x) -> CAST(__a + __x AS DECIMAL(38, {s_})))"
            )
        return (
            f"aggregate({arr}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x)"
        )
    if name == "min":
        return f"array_min({arr})"
    if name == "max":
        return f"array_max({arr})"
    if name == "avg":
        return (
            f"IF(size({arr}) = 0, double('NaN'), "
            f"aggregate({arr}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x)"
            f" / size({arr}))"
        )
    if name == "count":
        return f"size({arr})"
    if name in ("uniq", "uniqExact", "uniqCombined", "uniqHLL12"):
        if len(arrs) > 1:
            zipped = (
                f"zip_with({arrs[0]}, {arrs[1]}, "
                f"(__x, __y) -> struct(__x, __y))"
            )
            return f"size(array_distinct({zipped}))"
        return f"size(array_distinct({arr}))"
    if name == "uniqUpTo":
        n = (params or "5").strip()
        if len(arrs) > 1:
            zipped = (
                f"zip_with({arrs[0]}, {arrs[1]}, "
                f"(__x, __y) -> struct(__x, __y))"
            )
            return f"least(size(array_distinct({zipped})), {n} + 1)"
        return f"least(size(array_distinct({arr})), {n} + 1)"
    if name in ("uniqExactIf", "uniqIf"):
        kept = (
            f"transform(filter(zip_with({arrs[0]}, {arrs[1]}, "
            f"(__x, __c) -> struct(__x AS x, __c AS c)), "
            f"__s -> CAST(__s.c AS BOOLEAN)), __s -> __s.x)"
        )
        return f"size(array_distinct({kept}))"
    if name in ("sumIf",):
        return (
            f"aggregate(zip_with({arrs[0]}, {arrs[1]}, "
            f"(__x, __c) -> IF(CAST(__c AS BOOLEAN), "
            f"CAST(__x AS DOUBLE), 0D)), CAST(0 AS DOUBLE), "
            f"(__a, __x) -> __a + __x)"
        )
    if name in ("any", "first_value"):
        return f"element_at({arr}, 1)"
    if name in ("anyLast", "last_value"):
        return f"element_at({arr}, -1)"
    if name == "groupArray":
        return arr
    if name == "groupUniqArray":
        return f"array_distinct({arr})"
    def _dec_rescale(e: str) -> str:
        # Decimal inputs keep their scale through quantiles (the
        # reference's Decimal quantile returns Decimal, printed with
        # full scale)
        m_d = re.search(r"(?i)DECIMAL\(\s*\d+\s*,\s*(\d+)\s*\)", arr)
        if m_d:
            return f"CAST({e} AS DECIMAL(38, {m_d.group(1)}))"
        return e

    if name in ("median", "quantile"):
        return _dec_rescale(_quantile_interp(arr, (params or "0.5").strip()))
    if name == "quantileExact":
        return _dec_rescale(_quantile_exact(arr, (params or "0.5").strip()))
    if name == "quantiles":
        levels = [p.strip() for p in (params or "0.5").split(",")]
        parts = ", ".join(_quantile_interp(arr, lv) for lv in levels)
        return f"array({parts})"
    if name == "quantilesExact":
        levels = [p.strip() for p in (params or "0.5").split(",")]
        parts = ", ".join(_quantile_exact(arr, lv) for lv in levels)
        return f"array({parts})"
    if name in ("stddevSamp", "stddevPop", "varSamp", "varPop"):
        n = f"CAST(size({arr}) AS DOUBLE)"
        s1 = f"aggregate({arr}, CAST(0 AS DOUBLE), (__a, __x) -> __a + __x)"
        mu = f"(({s1}) / {n})"
        ss = (
            f"aggregate({arr}, CAST(0 AS DOUBLE), "
            f"(__a, __x) -> __a + pow(CAST(__x AS DOUBLE) - {mu}, 2))"
        )
        if name.endswith("Pop"):
            var = f"(({ss}) / {n})"
        else:
            var = f"(({ss}) / ({n} - 1))"
            if re.search(r"(?i)DECIMAL", arr):
                # the reference's Decimal variance keeps a positive
                # scale residue in the numerator: n<=1 -> +inf, not 0/0
                var = f"IF({n} <= 1, double('inf'), {var})"
        var = f"coalesce({var}, double('nan'))"
        return f"sqrt({var})" if name.startswith("stddev") else var
    if name == "medianExact":
        return _dec_rescale(_quantile_exact(arr, (params or "0.5").strip()))
    if name in ("argMin", "argMax"):
        op = "<=" if name == "argMin" else ">="
        zipped = (
            f"zip_with({arrs[0]}, {arrs[1]}, "
            f"(__x, __k) -> struct(__k AS k, __x AS x))"
        )
        agg = (
            f"aggregate({zipped}, CAST(NULL AS "
            f"STRUCT<k: DOUBLE, x: DOUBLE>), (__a, __s) -> IF("
            f"__a IS NULL OR NOT (__a.k {op} __s.k), "
            f"struct(CAST(__s.k AS DOUBLE) AS k, "
            f"CAST(__s.x AS DOUBLE) AS x), __a))"
        )
        return f"({agg}).x"
    raise DialectError(f"arrayReduce: unsupported aggregate {name}")


def _hex_expr(a: str) -> str:
    """hex(): integers print whole bytes (leading zero on odd length);
    Float32/64 and Decimal32/64/128 print their little-endian storage
    bytes.  Literal floats fold at translate time; dynamic float/decimal
    args use the registered byte-hex UDFs."""
    t = a.strip()
    # hex over a _unsigned_u64-wrapped hash: strip back to the signed
    # bigint — its two's-complement bytes equal the UInt64's bytes
    mu = re.fullmatch(
        r"\(CAST\(\((?P<i>.*)\) AS DECIMAL\(20, 0\)\) \+ IF\(\((?P=i)\)"
        r" < 0, CAST\(18446744073709551616 AS DECIMAL\(21, 0\)\), 0\)\)",
        t, re.S,
    )
    if mu:
        t = a = mu.group("i")
    m = re.fullmatch(r"(?i)(-?\s*\d+(?:\.\d*)?(?:e[+-]?\d+)?)D?", t)
    if m and ("." in t or "e" in t.lower() or "d" in t.lower()):
        v = struct.pack("<d", float(m.group(1).replace(" ", "")))
        return "'" + v.hex().upper() + "'"
    md = re.search(r"(?i)AS\s+DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*\)\s*$", t)
    if md:
        prec = int(md.group(1))
        width = 4 if prec <= 10 else (8 if prec <= 19 else 16)
        return (
            f"ch_hex_le_str(replace(CAST(({a}) AS STRING), '.', ''), {width})"
        )
    if re.search(r"(?i)AS\s+FLOAT\s*\)\s*$", t):
        return f"ch_hex_float({a}, 4)"
    if re.search(r"(?i)AS\s+DOUBLE\s*\)\s*$", t):
        return f"ch_hex_float({a}, 8)"
    return f"IF(length(hex({a})) % 2 = 1, concat('0', hex({a})), hex({a}))"


#: functions with a FIXED reference return type, for toTypeName on raw
#: argument text (src/Functions/*.cpp getReturnType)
_FN_TYPE_NAMES = {
    "RAND": "UInt32", "RAND32": "UInt32", "RAND64": "UInt64",
    "RANDCONSTANT": "UInt32", "GENERATEUUIDV4": "UUID",
    "NOW": "DateTime", "TODAY": "Date", "YESTERDAY": "Date",
    "ROWNUMBERINALLBLOCKS": "UInt64", "BLOCKSIZE": "UInt64",
    "CITYHASH64": "UInt64", "SIPHASH64": "UInt64",
    "INTHASH64": "UInt64", "INTHASH32": "UInt32",
    # string producers (runningAccumulate / toTypeName dispatch)
    "REPEAT": "String", "CONCAT": "String", "HEX": "String",
    "UPPER": "String", "LOWER": "String", "REVERSE": "String",
    "SUBSTRING": "String", "SUBSTR": "String", "TRIM": "String",
}


_CH_NUM_ORDER = {
    "UInt8": (8, False), "UInt16": (16, False), "UInt32": (32, False),
    "UInt64": (64, False), "Int8": (8, True), "Int16": (16, True),
    "Int32": (32, True), "Int64": (64, True),
}


def _ch_unwrap(t: str) -> str:
    return t[9:-1] if t.startswith("Nullable(") else t


def _ch_wrap(t: str) -> str:
    return t if t.startswith("Nullable(") else f"Nullable({t})"


def _ch_supertype(a: str | None, b: str | None) -> str | None:
    """Least common supertype of two reference types
    (DataTypes/getLeastSupertype.cpp, numeric ladder + Nullable union).
    None when unknown/unsupported."""
    if a is None or b is None:
        return None
    nullable = a.startswith("Nullable(") or b.startswith("Nullable(")
    ua, ub = _ch_unwrap(a), _ch_unwrap(b)
    if ua == "Nothing":
        res = ub
    elif ub == "Nothing":
        res = ua
    elif ua == ub:
        res = ua
    elif ua.startswith("Array(") and ub.startswith("Array("):
        # recurse on the element type ([[], [1]] = Array(Array(UInt8)):
        # getLeastSupertype.cpp Array branch)
        inner = _ch_supertype(ua[6:-1], ub[6:-1])
        if inner is None:
            return None
        res = f"Array({inner})"
    elif ua in ("Float32", "Float64") or ub in ("Float32", "Float64"):
        fa, fb = ua in ("Float32", "Float64"), ub in ("Float32", "Float64")
        if fa and fb:
            res = "Float64" if "Float64" in (ua, ub) else "Float32"
        else:
            it = ub if fa else ua
            fl = ua if fa else ub
            bits = _CH_NUM_ORDER.get(it, (64, True))[0]
            res = fl if fl == "Float64" or bits <= 16 else "Float64"
    elif ua in _CH_NUM_ORDER and ub in _CH_NUM_ORDER:
        wa, sa = _CH_NUM_ORDER[ua]
        wb, sb = _CH_NUM_ORDER[ub]
        if sa == sb:
            res = f"{'Int' if sa else 'UInt'}{max(wa, wb)}"
        else:
            uw = wa if not sa else wb
            sw = wa if sa else wb
            need = max(uw * 2, sw)
            if need > 64:
                return None
            res = f"Int{need}"
    else:
        return None
    return _ch_wrap(res) if nullable else res


_CH_NUM_PARTS = {
    "UInt8": (False, False, 1), "UInt16": (False, False, 2),
    "UInt32": (False, False, 4), "UInt64": (False, False, 8),
    "UInt128": (False, False, 16), "UInt256": (False, False, 32),
    "Int8": (True, False, 1), "Int16": (True, False, 2),
    "Int32": (True, False, 4), "Int64": (True, False, 8),
    "Int128": (True, False, 16), "Int256": (True, False, 32),
    "Float32": (False, True, 4), "Float64": (False, True, 8),
    "Bool": (False, False, 1),
}

_CH_CONSTRUCT = {
    (False, False, 1): "UInt8", (False, False, 2): "UInt16",
    (False, False, 4): "UInt32", (False, False, 8): "UInt64",
    (False, False, 16): "UInt128", (False, False, 32): "UInt256",
    (True, False, 1): "Int8", (True, False, 2): "Int16",
    (True, False, 4): "Int32", (True, False, 8): "Int64",
    (True, False, 16): "Int128", (True, False, 32): "Int256",
}


def _ch_num_promote(op: str, lt: str, rt: str) -> str | None:
    """src/DataTypes/NumberTraits.h: the reference's binary-arithmetic
    result types (NOT C++ rules) — result sign is the OR of the
    operands' (subtraction: always signed), float if either side
    floats, size nextSize(max) = min(2*max, 8)-or-big-int; `/` is
    always Float64; `%` takes the divisor's size (widened when the
    dividend is signed)."""
    pl = _CH_NUM_PARTS.get(_ch_unwrap(lt))
    pr = _CH_NUM_PARTS.get(_ch_unwrap(rt))
    if pl is None or pr is None:
        return None
    nullable = lt.startswith("Nullable(") or rt.startswith("Nullable(")

    def next_size(s: int) -> int:
        return s * 2 if s < 8 else s

    def construct(signed: bool, floating: bool, size: int) -> str | None:
        if floating:
            return "Float32" if size <= 4 else "Float64"
        return _CH_CONSTRUCT.get((signed, False, size))

    sl, fl, zl = pl
    sr, fr, zr = pr
    if op == "/":
        res = "Float64"
    elif op in ("+", "*"):
        res = construct(sl or sr, fl or fr, next_size(max(zl, zr)))
    elif op == "-":
        res = construct(True, fl or fr, next_size(max(zl, zr)))
    elif op == "%":
        if fl or fr:
            res = "Float64"
        else:
            res = construct(sl, False, next_size(zr) if sl else zr)
    else:
        return None
    if res is None:
        return None
    return f"Nullable({res})" if nullable else res


def _ch_type_of(toks: list[str], env: dict[str, str]) -> str | None:
    """Reference type of a raw expression — a compact static inferencer
    covering literals, conversion functions, Nullable combinators
    (ifNull/nullIf/coalesce/assumeNotNull), conditionals (if / ?:),
    least/greatest, and top-level comparisons.  None when not
    derivable (caller falls back to a runtime typeof rendering)."""
    toks = list(toks)
    while (
        len(toks) >= 3 and toks[0] == "(" and _match_paren(toks, 0) == len(toks) - 1
    ):
        # a top-level comma inside means TUPLE literal, not grouping
        inner_t0 = toks[1:-1]
        parts_t0 = _split_top(inner_t0, ",")
        if len(parts_t0) > 1:
            ets_t0 = [
                _ch_type_of(p, env) for p in parts_t0 if p
            ]
            if len(ets_t0) == len(parts_t0) and all(ets_t0):
                return "Tuple(" + ", ".join(ets_t0) + ")"
            return None
        toks = inner_t0
    if not toks:
        return None
    # -SimpleState: SimpleAggregateFunction(base, arg-type)
    # (DataTypeCustomSimpleAggregateFunction — the stored type IS the
    # argument type, the tag carries the base aggregate's name)
    if (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
        and toks[0].endswith("SimpleState") and len(toks[0]) > 11
    ):
        args_ss = _split_top(toks[2:-1], ",")
        at_ss = _ch_type_of(args_ss[0], env) if args_ss else None
        if at_ss is None:
            return None
        return (
            f"SimpleAggregateFunction({toks[0][:-11]}, {at_ss})"
        )
    # regex group extractors (round 8): fixed result shapes
    if (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
        and toks[0] in (
            "extractGroups", "extractAllGroupsHorizontal",
            "extractAllGroupsVertical",
        )
    ):
        return (
            "Array(String)" if toks[0] == "extractGroups"
            else "Array(Array(String))"
        )
    # DateTime64 producers: scale from the function / argument, zone
    # from a literal argument when present
    if (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
        and (
            toks[0].startswith("fromUnixTimestamp64")
            or toks[0] in (
                "toDateTime64", "parseDateTime64BestEffort",
                "parseDateTime64BestEffortOrNull",
                "parseDateTime64BestEffortOrZero",
            )
        )
    ):
        args_d64 = _split_top(toks[2:-1], ",")
        if toks[0].startswith("fromUnixTimestamp64"):
            sc_d64 = {"Milli": "3", "Micro": "6", "Nano": "9"}.get(
                toks[0][len("fromUnixTimestamp64"):]
            )
            tz_ix = 1
        else:
            sc_d64 = (
                args_d64[1][0].strip("()")
                if len(args_d64) > 1 and args_d64[1]
                and args_d64[1][0].strip("()").isdigit()
                else ("3" if toks[0].startswith("parse") else None)
            )
            tz_ix = 2
        if sc_d64 is None:
            return None
        tz_d64 = None
        if len(args_d64) > tz_ix and args_d64[tz_ix]:
            cand = [t for t in args_d64[tz_ix] if t not in ("(", ")")]
            if len(cand) == 1 and cand[0].startswith("'"):
                tz_d64 = cand[0]
        nul_d64 = toks[0].endswith("OrNull")
        base_d64 = (
            f"DateTime64({sc_d64}, {tz_d64})" if tz_d64
            else f"DateTime64({sc_d64})"
        )
        return f"Nullable({base_d64})" if nul_d64 else base_d64
    # toStartOfSecond keeps its argument's DateTime64 scale; a tz
    # argument replaces the zone tag (toStartOfSecond.cpp)
    if (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
        and toks[0] == "toStartOfSecond"
    ):
        args_ss = _split_top(toks[2:-1], ",")
        t0_ss = _ch_type_of(args_ss[0], env) if args_ss and args_ss[0] else None
        mm_ss = re.fullmatch(
            r"(?:Nullable\()?DateTime64\((\d+)(?:\s*,\s*'([^']*)')?\)\)?",
            t0_ss or "",
        )
        if not mm_ss:
            return None
        tz_ss = mm_ss.group(2)
        if len(args_ss) > 1 and args_ss[1]:
            cand_ss = [t for t in args_ss[1] if t not in ("(", ")")]
            if len(cand_ss) == 1 and cand_ss[0].startswith("'"):
                tz_ss = cand_ss[0].strip("'")
        return (
            f"DateTime64({mm_ss.group(1)}, '{tz_ss}')" if tz_ss
            else f"DateTime64({mm_ss.group(1)})"
        )
    # bitmap family: builds/States carry their element type; set algebra
    # propagates; cardinalities/min/max are UInt64 (FunctionsBitmap.h)
    if (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
        and toks[0] in _BITMAP_FUNCS
    ):
        name_bm = toks[0]
        args_bm = _split_top(toks[2:-1], ",")
        at_bm = _ch_type_of(args_bm[0], env) if args_bm and args_bm[0] else None
        if name_bm == "bitmapBuild":
            el_bm = (
                at_bm[6:-1] if at_bm and at_bm.startswith("Array(")
                else "UInt8"
            )
            return f"AggregateFunction(groupBitmap, {el_bm})"
        if name_bm == "groupBitmapState":
            el_bm = _ch_unwrap(at_bm) if at_bm else "UInt64"
            return f"AggregateFunction(groupBitmap, {el_bm})"
        if name_bm in (
            "bitmapAnd", "bitmapOr", "bitmapXor", "bitmapAndnot",
            "bitmapSubsetInRange", "bitmapSubsetLimit", "subBitmap",
            "bitmapTransform", "groupBitmapMergeState",
            "groupBitmapOrState", "groupBitmapAndState",
            "groupBitmapXorState",
        ):
            return at_bm
        if name_bm == "bitmapToArray":
            m_bm = re.fullmatch(
                r"AggregateFunction\(\s*groupBitmap\s*,\s*(.+)\)",
                at_bm or "",
            )
            return f"Array({m_bm.group(1).strip()})" if m_bm else None
        if name_bm in ("bitmapHasAny", "bitmapHasAll", "bitmapContains"):
            return "UInt8"
        return "UInt64"
    # mapAdd/mapSubtract: keys keep their type, values promote to the
    # widest of their sign class (mapOp.cpp getReturnTypeImpl)
    if (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
        and toks[0] in ("mapAdd", "mapSubtract")
    ):
        args_ma = _split_top(toks[2:-1], ",")
        kt_ma = vt_ma = None
        for p_ma in args_ma:
            t_ma = _ch_type_of(p_ma, env)
            pair_ma = _tuple_of_arrays(t_ma)
            if pair_ma:
                kt_ma = kt_ma or pair_ma[0]
                vt_ma = vt_ma or pair_ma[1]
        if kt_ma and vt_ma:
            cls_ma = _num_class(vt_ma)
            prom_ma = {
                "uint": "UInt64", "int": "Int64", "float": "Float64",
            }.get(cls_ma or "", vt_ma)
            return f"Tuple(Array({kt_ma}), Array({prom_ma}))"
        return None
    # minMap/maxMap keep their input array types verbatim
    if (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
        and toks[0] in ("minMap", "maxMap")
    ):
        args_mm = _split_top(toks[2:-1], ",")
        if len(args_mm) == 2:
            kt_mm = _ch_type_of(args_mm[0], env)
            vt_mm = _ch_type_of(args_mm[1], env)
            if kt_mm and vt_mm and "?" not in kt_mm + vt_mm:
                return f"Tuple({kt_mm}, {vt_mm})"
        return None
    # mapPopulateSeries keeps its input array types verbatim
    if (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
        and toks[0] == "mapPopulateSeries"
    ):
        args_mps = _split_top(toks[2:-1], ",")
        if len(args_mps) >= 2:
            kt_mps = _ch_type_of(args_mps[0], env)
            vt_mps = _ch_type_of(args_mps[1], env)
            if kt_mps and vt_mps and "?" not in kt_mps + vt_mps:
                return f"Tuple({kt_mps}, {vt_mps})"
        return None
    # segmentLengthSum: Float64 over float intervals, else UInt64
    if (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
        and toks[0] == "segmentLengthSum"
    ):
        args_sls = _split_top(toks[2:-1], ",")
        t_sls = _ch_type_of(args_sls[0], env) if args_sls else None
        return (
            "Float64"
            if t_sls and _ch_unwrap(t_sls).startswith("Float")
            else "UInt64"
        )
    # tuple element access X.N -> Nth element type of Tuple X (env may
    # carry a raw Spark struct simpleString for script-created tables)
    ix9_te = None
    if len(toks) >= 3 and toks[-2] == "." and toks[-1].isdigit():
        ix9_te, base_te = int(toks[-1]), toks[:-2]
    elif len(toks) >= 2 and re.fullmatch(r"\.\d+", toks[-1]):
        # the lexer fuses `.N` into one number-like token
        ix9_te, base_te = int(toks[-1][1:]), toks[:-1]
    if ix9_te is not None:
        bt_te = _ch_type_of(base_te, env)
        # env may carry a raw (or canon-mangled) Spark struct string for
        # script-created tables — normalize spacing and convert
        if bt_te and re.sub(r"\s+", "", bt_te).lower().startswith("struct<"):
            from daisy_spark.chsyntax import spark_to_ch as _s2c_te

            bt_te = _s2c_te(re.sub(r"\s+", "", bt_te))
        if bt_te and bt_te.startswith("Tuple("):
            in_te, els_te, cut_te = bt_te[6:-1], [], 0
            for j_te, ch_te in _top_level(in_te, brackets="("):
                if ch_te == ",":
                    els_te.append(in_te[cut_te:j_te].strip())
                    cut_te = j_te + 1
            if in_te[cut_te:].strip():
                els_te.append(in_te[cut_te:].strip())
            if 1 <= ix9_te <= len(els_te):
                return els_te[ix9_te - 1]
            return None
    # subscript chain X[i] -> element type of X (Array/Map only)
    if toks[-1] == "]" and toks[0] != "[":
        d9, k9 = 0, len(toks) - 1
        while k9 >= 0:
            if toks[k9] in (")", "]"):
                d9 += 1
            elif toks[k9] in ("(", "["):
                d9 -= 1
                if d9 == 0:
                    break
            k9 -= 1
        if k9 > 0 and toks[k9] == "[":
            bt9 = _ch_type_of(toks[:k9], env)
            if bt9 and bt9.startswith("Array(") and bt9 != "Array(?)":
                return bt9[6:-1]
            if bt9 and bt9.startswith("Map(") and "," in bt9:
                in9, cc9 = bt9[4:-1], 0
                for q9, ch9 in _top_level(in9, brackets="("):
                    if ch9 == ",":
                        cc9 = q9 + 1
                return in9[cc9:].strip()
            return None
    # array literal [a, b, c] -> Array(supertype)
    if toks[0] == "[" and toks[-1] == "]":
        d0 = 0
        ok0 = True
        for k0, tk0 in enumerate(toks):
            if tk0 in ("(", "["):
                d0 += 1
            elif tk0 in (")", "]"):
                d0 -= 1
                if d0 == 0 and k0 != len(toks) - 1:
                    ok0 = False
                    break
        if ok0:
            ets = [
                _ch_type_of(p0, env)
                for p0 in _split_top(toks[1:-1], ",") if p0
            ]
            known = [t0 for t0 in ets if t0]
            if not ets:
                return "Array(Nothing)"
            if known and (len(known) == len(ets) or all(
                t0 == known[0] for t0 in known
            )):
                t_acc = known[0]
                for t0 in known[1:]:
                    t_acc = _ch_supertype(t_acc, t0) or t_acc
                return f"Array({t_acc})"
            return None
    # ternary  c ? a : b  (lowest precedence)
    qpos = cpos = None
    for k, t in _top_level(toks):
        if t == "?" and qpos is None:
            qpos = k
        elif t == ":" and qpos is not None and cpos is None:
            cpos = k
    if qpos is not None and cpos is not None:
        return _ch_supertype(
            _ch_type_of(toks[qpos + 1 : cpos], env),
            _ch_type_of(toks[cpos + 1 :], env),
        )
    # top-level comparison / logical => UInt8 (Nullable when either
    # comparison operand is Nullable — 01055)
    for k, t in _top_level(toks):
        if t in ("=", "==", "!=", "<>", "<", ">", "<=", ">="):
            lt_c = _ch_type_of(toks[:k], env)
            rt_c = _ch_type_of(toks[k + 1:], env)
            if (lt_c or "").startswith("Nullable(") or (
                rt_c or ""
            ).startswith("Nullable("):
                return "Nullable(UInt8)"
            return "UInt8"
        elif _kw(t) in ("AND", "OR", "NOT", "LIKE", "IN"):
            return "UInt8"
    # top-level decimal arithmetic: the reference keeps the DECIMAL
    # CLASS (Decimal32/64/128 by max precision) and max scale through
    # + - * (DecimalBinaryOperation); division's scale is the
    # numerator's.  Only the decimal case is inferred — int/float
    # arithmetic stays None (runtime fallback) to avoid overclaiming.
    arith = None  # (k, op) of the LAST lowest-precedence binary op
    for k, t in _top_level(toks):
        if t in ("+", "-", "*", "/", "%") and k > 0:
            prev = toks[k - 1]
            if prev in ("(", "[", ",", "+", "-", "*", "/", "%"):
                continue  # unary sign
            if arith is None or t in ("+", "-") or arith[1] not in ("+", "-"):
                arith = (k, t)
    if arith is not None:
        k, op = arith
        lt0 = _ch_type_of(toks[:k], env)
        rt0 = _ch_type_of(toks[k + 1 :], env)
        # Date/DateTime +- integer keeps the date type (and its tz)
        for dt0, ot0 in ((lt0, rt0), (rt0, lt0)):
            if (
                op in ("+", "-")
                and dt0 and _ch_unwrap(dt0).startswith(("Date", "DateTime"))
                and ot0 and _ch_unwrap(ot0).startswith(("UInt", "Int"))
            ):
                return dt0
        # Date/DateTime +- INTERVAL keeps the date type (and its tz)
        if (
            op in ("+", "-")
            and lt0 and _ch_unwrap(lt0).startswith(("Date", "DateTime"))
            and _kw(toks[k + 1]) == "INTERVAL"
        ):
            return lt0
        if (
            op == "+"
            and rt0 and _ch_unwrap(rt0).startswith(("Date", "DateTime"))
            and toks and _kw(toks[0]) == "INTERVAL"
        ):
            return rt0
        dm_l = re.fullmatch(
            r"Decimal\((\d+), (\d+)\)", _ch_unwrap(lt0 or "")
        )
        dm_r = re.fullmatch(
            r"Decimal\((\d+), (\d+)\)", _ch_unwrap(rt0 or "")
        )
        num_ok = lambda t0: t0 is not None and _ch_unwrap(t0).startswith(  # noqa: E731
            ("UInt", "Int", "Float", "Decimal")
        )
        if (dm_l or dm_r) and num_ok(lt0) and num_ok(rt0) and op != "%":
            ps = [int(m.group(1)) for m in (dm_l, dm_r) if m]
            ss = [int(m.group(2)) for m in (dm_l, dm_r) if m]
            if op == "/" and dm_l:
                scale = int(dm_l.group(2))
            else:
                scale = max(ss)
            prec = max(ps)
            # normalize to the decimal class widths
            for cls in (9, 18, 38, 76):
                if prec <= cls:
                    prec = cls
                    break
            return f"Decimal({prec}, {scale})"
        if lt0 and rt0:
            prom = _ch_num_promote(op, lt0, rt0)
            if prom is not None:
                return prom
    head = _kw(toks[0])
    call = (
        len(toks) >= 3 and toks[1] == "("
        and _match_paren(toks, 1) == len(toks) - 1
    )
    if call:
        parts = [p for p in _split_top(toks[2:-1], ",") if p]
        if head == "MATERIALIZE":
            return _ch_type_of(parts[0], env) if parts else None
        # timezone-carrying DateTime constructors: the tz rides in the
        # type (DataTypeDateTime(timezone)) and marks the value shifted
        if (
            head in (
                "NOW", "TODATETIME", "TOTIMEZONE", "TOSTARTOFHOUR",
                "TOSTARTOFDAY", "TOSTARTOFMINUTE",
            )
            and parts and parts[-1] and parts[-1][0].startswith("'")
            # the tz is the SECOND+ argument (or now's only one), and
            # must look like a zone id — toDateTime('2020-06-01') has a
            # datetime STRING first arg, not a timezone (01418)
            and (len(parts) >= 2 or head == "NOW")
            and re.fullmatch(
                r"'(?:[A-Za-z_]+(?:/[A-Za-z0-9_+\-]+)*|UTC[+-]?\d*)'",
                parts[-1][0],
            )
        ):
            return f"DateTime({parts[-1][0]})"
        if head in _FN_TYPE_NAMES:
            return _FN_TYPE_NAMES[head]
        if head in ("TODECIMAL32", "TODECIMAL64", "TODECIMAL128",
                    "TODECIMAL256") and len(parts) == 2 and parts[1]:
            prec = {"TODECIMAL32": 9, "TODECIMAL64": 18,
                    "TODECIMAL128": 38, "TODECIMAL256": 76}[head]
            if parts[1][0].isdigit():
                return f"Decimal({prec}, {parts[1][0]})"
        if head.startswith("EMPTYARRAY") and len(head) > 10:
            sub_t = head[10:].capitalize()
            fix = {
                "Uint8": "UInt8", "Uint16": "UInt16", "Uint32": "UInt32",
                "Uint64": "UInt64", "Int8": "Int8", "Int16": "Int16",
                "Int32": "Int32", "Int64": "Int64",
                "Float32": "Float32", "Float64": "Float64",
                "String": "String", "Date": "Date", "Datetime": "DateTime",
            }
            return f"Array({fix.get(sub_t, sub_t)})"
        if head == "RANGE":
            return "Array(UInt64)"
        if head in (
            "ROUND", "ROUNDBANKERS", "TRUNC", "TRUNCATE",
        ) and parts:
            # rounding keeps the argument's type class
            return _ch_type_of(parts[0], env)
        if head in (
            "EXP", "EXP2", "EXP10", "LOG", "LN", "LOG2", "LOG10",
            "SQRT", "CBRT", "POW", "POWER", "SIN", "COS", "TAN",
            "ASIN", "ACOS", "ATAN", "SIGMOID", "ERF", "ERFC",
            "LGAMMA", "TGAMMA", "PI", "E",
        ):
            return "Float64"
        if head == "ARRAYJOIN" and parts:
            inner = _ch_type_of(parts[0], env)
            if inner and inner.startswith("Array(") and "?" not in inner:
                return inner[6:-1]
            return None
        if head in (
            "ARRAYFILTER", "ARRAYSORT", "ARRAYREVERSESORT",
            "ARRAYREVERSE", "ARRAYCOMPACT", "ARRAYDISTINCT",
            "ARRAYSLICE", "ARRAYRESIZE",
        ) and parts:
            # element-preserving array transforms: type = the array
            # argument's type (last arg for the lambda-first spellings)
            arr_arg0 = parts[-1] if head in (
                "ARRAYFILTER", "ARRAYSORT", "ARRAYREVERSESORT",
            ) and len(parts) > 1 else parts[0]
            if head in ("ARRAYSLICE", "ARRAYRESIZE"):
                arr_arg0 = parts[0]
            t_ap = _ch_type_of(arr_arg0, env)
            return t_ap if t_ap and t_ap.startswith("Array(") else None
        if head == "ARRAYMAP" and parts:
            lam9 = parts[0]
            arrow9 = next(
                (k for k, tk in enumerate(lam9) if tk == "->"), -1
            )
            if arrow9 >= 0:
                env9 = env
                if len(parts) > 1:
                    # bind lambda formals to the array element type
                    at9m = _ch_type_of(parts[1], env)
                    if at9m and at9m.startswith("Array(") and at9m != "Array(?)":
                        forms9 = [
                            tk for tk in lam9[:arrow9] if _is_ident(tk)
                        ]
                        env9 = dict(env)
                        for fm9 in forms9:
                            env9[fm9] = at9m[6:-1]
                bt = _ch_type_of(lam9[arrow9 + 1 :], env9)
                if bt:
                    return f"Array({bt})"
            return None
        if head.endswith("STATE") and len(head) > 5 and parts:
            # fooState: the stored value kind drives runningAccumulate /
            # toTypeName dispatch (finalized-ish storage model)
            b = head[:-5]
            if b in ("GROUPARRAY", "GROUPUNIQARRAY") or b.startswith(
                "UNIQ"
            ) or b.startswith("QUANTILE") or b == "MEDIAN":
                inner = _ch_type_of(parts[0], env)
                return f"Array({inner or 'String'})"
            if b in ("ARGMAX", "ARGMIN", "ANY", "ANYLAST", "MAX", "MIN"):
                return _ch_type_of(parts[0], env)
            return None
        if head == "TONULLABLE":
            inner = _ch_type_of(parts[0], env) if parts else None
            return _ch_wrap(inner) if inner else None
        if head == "TOLOWCARDINALITY":
            inner = _ch_type_of(parts[0], env) if parts else None
            return f"LowCardinality({inner})" if inner else None
        if head == "ASSUMENOTNULL":
            inner = _ch_type_of(parts[0], env) if parts else None
            return _ch_unwrap(inner) if inner else None
        if head in _HASH_CONV_FNS:
            w, signed = _HASH_CONV_FNS[head]
            return f"{'Int' if signed else 'UInt'}{8 * w}"
        if head in ("TOFLOAT32", "TOFLOAT64"):
            return "Float32" if head == "TOFLOAT32" else "Float64"
        if head == "TOSTRING" or head == "REINTERPRETASSTRING":
            return "String"
        if head == "REINTERPRETASFIXEDSTRING" and parts:
            nd = _parse_hash_lit(parts[0])
            if nd and nd[0] == "int":
                return f"FixedString({nd[2]})"
            return None
        if head == "TODATE":
            return "Date"
        if head == "TODATETIME":
            return "DateTime"
        if head == "CAST":
            inner_toks = toks[2:-1]
            as_idx = next(
                (k for k, tk in _top_level(inner_toks) if _kw(tk) == "AS"),
                None,
            )
            type_text = None
            if as_idx is not None:
                type_text = _compact_type_text(inner_toks[as_idx + 1 :])
            elif len(parts) == 2 and len(parts[1]) == 1 and parts[1][0][:1] == "'":
                type_text = parts[1][0][1:-1]
            if type_text and type_text.startswith("Enum"):
                # canonical class: bare Enum resolves to Enum8 when
                # every value fits Int8, else Enum16
                # (DataTypeEnum.cpp create)
                et = type_text.replace("\\'", "'").replace("\\\\", "\\")
                me = re.match(r"Enum(8|16)?\((.*)\)$", et, re.S)
                if me:
                    pairs_e = re.findall(
                        r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)", me.group(2)
                    )
                    if pairs_e:
                        w = me.group(1) or (
                            "8" if all(
                                -128 <= int(v) <= 127 for _, v in pairs_e
                            ) else "16"
                        )
                        body_e = ", ".join(
                            f"'{lab}' = {int(v)}" for lab, v in pairs_e
                        )
                        return f"Enum{w}({body_e})"
                return et
            if type_text and re.match(
                r"(?:Nullable\(|LowCardinality\(|Array\(|Tuple\(|FixedString\(|"
                r"Decimal|UInt|Int|Float|String|Date|Enum)",
                type_text,
            ):
                return type_text
            return None
        if head == "NULLIF":
            inner = _ch_type_of(parts[0], env) if parts else None
            return _ch_wrap(inner) if inner else None
        if head == "IFNULL" and len(parts) == 2:
            ta = _ch_type_of(parts[0], env)
            tb = _ch_type_of(parts[1], env)
            if ta is None or tb is None:
                return None
            if not ta.startswith("Nullable("):
                return ta
            return _ch_supertype(_ch_unwrap(ta), tb)
        if head == "COALESCE":
            if not parts:
                return "Nullable(Nothing)"
            ts = [_ch_type_of(p, env) for p in parts]
            if any(t is None for t in ts):
                return None
            res = ts[0]
            for t in ts[1:]:
                res = _ch_supertype(res, t)
                if res is None:
                    return None
            # non-Nullable iff the LAST argument is non-Nullable
            if ts[-1] and not ts[-1].startswith("Nullable("):
                return _ch_unwrap(res)
            return res
        if head == "IF" and len(parts) == 3:
            return _ch_supertype(
                _ch_type_of(parts[1], env), _ch_type_of(parts[2], env)
            )
        if head == "ARRAYJOIN" and parts:
            at = _ch_type_of(parts[0], env)
            if at and at.startswith("Array("):
                return at[6:-1]
            return None
        if head == "GROUPARRAY" and parts:
            t = _ch_type_of(parts[0], env)
            return f"Array({_ch_unwrap(t)})" if t else None
        if head == "AVG" and parts:
            t = _ch_type_of(parts[0], env)
            if t is None:
                return None
            return _ch_wrap("Float64") if t.startswith("Nullable(") else "Float64"
        if head == "SUM" and parts:
            t = _ch_type_of(parts[0], env)
            if t is None:
                return None
            u = _ch_unwrap(t)
            if u in ("Float32", "Float64"):
                r = "Float64"
            elif u in _CH_NUM_ORDER:
                r = "Int64" if _CH_NUM_ORDER[u][1] else "UInt64"
            else:
                return None
            return _ch_wrap(r) if t.startswith("Nullable(") else r
        if head in ("MIN", "MAX", "ANY", "ANYLAST") and parts:
            return _ch_type_of(parts[0], env)
        if head == "DEFAULTVALUEOFARGUMENTTYPE" and parts:
            return _ch_type_of(parts[0], env)
        if head == "COUNT":
            return "UInt64"
        if head in ("LEAST", "GREATEST") and len(parts) == 2:
            st = _ch_supertype(
                _ch_type_of(parts[0], env), _ch_type_of(parts[1], env)
            )
            if st is not None:
                return st
            # Int64/UInt64 mix has no integral supertype: for literal
            # args the reference keeps the WINNING side's type
            na = _parse_hash_lit(parts[0])
            nb = _parse_hash_lit(parts[1])
            if na and nb and na[0] == "int" and nb[0] == "int":
                win = (
                    parts[0] if (
                        (na[1] < nb[1]) == (head == "LEAST")
                    ) else parts[1]
                )
                return _ch_type_of(win, env)
            return None
    # modulo: ResultOfModulo = divisor's type family (small)
    for k, t in _top_level(toks):
        if t == "%" and 0 < k < len(toks) - 1:
            tb = _ch_type_of(toks[k + 1 :], env)
            if tb and _ch_unwrap(tb) in _CH_NUM_ORDER:
                return tb
            return None
    if len(toks) == 1 and _kw(toks[0]) == "NULL":
        return "Nullable(Nothing)"
    if len(toks) == 1 and toks[0] in ("nan", "inf"):
        return "Float64"
    if (
        len(toks) == 2 and toks[0] == "-" and toks[1] in ("nan", "inf")
    ):
        return "Float64"
    if len(toks) == 1 and _is_ident(toks[0]) and toks[0].strip("`") in env:
        return env[toks[0].strip("`")]
    # dotted Nested ref (`statusMap.revenue` as three tokens)
    if (
        len(toks) == 3 and toks[1] == "." and _is_ident(toks[0])
        and _is_ident(toks[2])
        and f"{toks[0].strip('`')}.{toks[2].strip('`')}" in env
    ):
        return env[f"{toks[0].strip('`')}.{toks[2].strip('`')}"]
    # opaque pre-rendered tokens (inlined sibling aliases) are registered
    # in the env under their full rendered text
    if len(toks) == 1 and toks[0] in env:
        return env[toks[0]]
    node = _parse_hash_lit(toks)
    if node is None:
        return None
    return _hash_node_type(node)


def _compact_type_text(toks: list[str]) -> str:
    """Canonical reference type spelling from tokens:
    Nullable ( UInt8 ) -> Nullable(UInt8)."""
    out = ""
    for t in toks:
        if t in ("(", ")"):
            out = out.rstrip() + t
        elif t == ",":
            out = out.rstrip() + ", "
        else:
            if out and not out.endswith("("):
                out += " " if out.endswith(",") else ""
            out += t
    return out


def _hash_node_type(node) -> str | None:
    """Reference type of a parsed literal node (incl. composites)."""
    if node[0] == "null":
        return "Nullable(Nothing)"
    if node[0] == "int":
        v = node[1]
        if v >= 0:
            bits = 8 if v < 256 else 16 if v < 65536 else 32 if v < 2**32 else 64
            return f"UInt{bits}"
        bits = (
            8 if v >= -128 else 16 if v >= -32768
            else 32 if v >= -(2**31) else 64
        )
        return f"Int{bits}"
    if node[0] == "float":
        return "Float64"
    if node[0] == "str":
        return "String"
    if node[0] == "array":
        st = "Nothing"
        for e in node[1]:
            et = _hash_node_type(e)
            st = _ch_supertype(st, et)
            if st is None:
                return None
        return f"Array({st})"
    if node[0] == "tuple":
        ets = [_hash_node_type(e) for e in node[1]]
        if any(t is None for t in ets):
            return None
        return "Tuple(" + ", ".join(ets) + ")"
    return None


#: default column environment: the numbers/one TVF columns every
#: stateless test leans on
_TYPE_ENV_DEFAULT = {"number": "UInt64", "dummy": "UInt8"}

#: per-query column type environment (subquery select items inferred by
#: _subquery_type_env), consulted by the toTypeName intercept
_TYPE_ENV_CTX: "contextvars.ContextVar[dict | None]" = contextvars.ContextVar(
    "daisy_type_env", default=None
)

#: constness of inlined-alias opaque tokens ({rendered text: bool}) —
#: toColumnTypeName needs the ORIGINAL raw expression's constness,
#: which the pre-rendered substitution otherwise erases
_CONST_ENV_CTX: "contextvars.ContextVar[dict | None]" = (
    contextvars.ContextVar("daisy_const_env", default=None)
)

#: literal array VALUES of subquery aliases ({name: nested list}) —
#: dumpColumnStructure sizes the const data column from the value
_LITVAL_ENV_CTX: "contextvars.ContextVar[dict | None]" = (
    contextvars.ContextVar("daisy_litval_env", default=None)
)

#: per-TABLE reference column types ({table: {col: ch_type}}) — the flat
#: _SCRIPT_CHTYPES_CTX merges same-named columns across tables (last one
#: wins), which mistypes e.g. `start` when four fixture tables reuse the
#: name; _subquery_type_env overlays the FROM-referenced tables' maps
_SCRIPT_CHTYPES_BY_TABLE_CTX: "contextvars.ContextVar[dict | None]" = (
    contextvars.ContextVar("daisy_script_chtypes_by_table", default=None)
)


#: reference functions that visibly return arrays (for length/empty
#: polymorphic dispatch when full typing is underivable)
_RAW_ARRAY_HEADS = {
    "RANGE", "ARRAYMAP", "ARRAYFILTER", "ARRAYSORT", "ARRAYREVERSESORT",
    "ARRAYCONCAT", "ARRAYSLICE", "ARRAYREVERSE", "ARRAYDISTINCT",
    "ARRAYCOMPACT", "ARRAYPOPBACK", "ARRAYPOPFRONT", "ARRAYPUSHBACK",
    "ARRAYPUSHFRONT", "ARRAYRESIZE", "GROUPARRAY", "GROUPUNIQARRAY",
    "SPLITBYCHAR", "SPLITBYSTRING", "SPLITBYREGEXP", "EXTRACTALL",
    "ALPHATOKENS", "ARRAYENUMERATE", "ARRAYENUMERATEUNIQ", "ARRAYJOIN",
    "EMPTYARRAYUINT8", "EMPTYARRAYUINT16", "EMPTYARRAYUINT32",
    "EMPTYARRAYUINT64", "EMPTYARRAYINT8", "EMPTYARRAYINT16",
    "EMPTYARRAYINT32", "EMPTYARRAYINT64", "EMPTYARRAYFLOAT32",
    "EMPTYARRAYFLOAT64", "EMPTYARRAYSTRING", "EMPTYARRAYDATE",
    "EMPTYARRAYDATETIME", "ARRAYFLATTEN", "ARRAYZIP", "ARRAYWITHCONSTANT",
}


def _subquery_type_env(from_toks: list[str]) -> dict[str, str]:
    """Column -> reference type for aliased items of FROM (SELECT ...)
    subqueries, so toTypeName(x) can resolve x defined one level down."""
    env = dict(_TYPE_ENV_DEFAULT)
    env.update(_SCRIPT_CHTYPES_CTX.get() or {})
    by_table = _SCRIPT_CHTYPES_BY_TABLE_CTX.get() or {}
    if by_table:
        for tk9 in from_toks:
            if tk9 in by_table:
                env.update(by_table[tk9])
    i = 0
    n = len(from_toks)
    while i < n:
        # VALUES('c1 T1, c2 T2', ...) TVF: the spec string IS the schema
        if (
            _kw(from_toks[i]) == "VALUES" and i + 2 < n
            and from_toks[i + 1] == "(" and from_toks[i + 2][:1] == "'"
        ):
            from daisy_spark.chsyntax import ch_type_canon as _ctc9
            spec9 = from_toks[i + 2][1:-1].replace("\\'", "'")
            for cdef9 in _split_top(tokenize(spec9), ","):
                if len(cdef9) >= 2 and _is_ident(cdef9[0]):
                    try:
                        env[cdef9[0]] = _ctc9(_emit(cdef9[1:]))
                    except Exception:  # noqa: BLE001
                        pass
            i = _match_paren(from_toks, i + 1) + 1
            continue
        if (
            from_toks[i] == "(" and i + 1 < n
            and _kw(from_toks[i + 1]) in ("SELECT", "WITH")
        ):
            close = _match_paren(from_toks, i)
            grp9 = from_toks[i + 1 : close]
            if _kw(grp9[0]) == "WITH":
                # skip the WITH prologue to the subquery's SELECT list
                sel9 = next(
                    (k for k, tt in _top_level(grp9) if _kw(tt) == "SELECT"),
                    None,
                )
                if sel9 is None:
                    i = close + 1
                    continue
                grp9 = grp9[sel9:]
            inner = grp9[1:]
            stop = next(
                (
                    k for k, t in _top_level(inner)
                    if _kw(t) in (
                        "FROM", "WHERE", "GROUP", "ORDER", "LIMIT",
                        "HAVING", "SETTINGS", "UNION",
                    )
                ),
                len(inner),
            )
            sub_env = (
                _subquery_type_env(inner[stop:])
                if stop < len(inner) else dict(_TYPE_ENV_DEFAULT)
            )
            for item in _split_top(inner[:stop], ","):
                # literal-array items (AS or bare alias): record the
                # VALUE for dumpColumnStructure's size walk, and the
                # bare-alias type the AS branch below won't see
                expr9 = None
                if len(item) >= 3 and _is_ident(item[-1]) and item[0] == "[":
                    if _kw(item[-2]) == "AS" and item[-3] == "]":
                        expr9, bare9 = item[:-2], False
                    elif item[-2] == "]":
                        expr9, bare9 = item[:-1], True
                if expr9 is not None:
                    lv9 = _raw_array_literal(expr9)
                    if lv9 is not None:
                        venv9 = dict(_LITVAL_ENV_CTX.get() or {})
                        venv9[item[-1].strip('`"')] = lv9
                        _LITVAL_ENV_CTX.set(venv9)
                        if bare9:
                            tl9 = _ch_type_of(expr9, sub_env)
                            if tl9:
                                env[item[-1].strip('`"')] = tl9
                if (
                    len(item) >= 3 and _kw(item[-2]) == "AS"
                    and _is_ident(item[-1])
                    and _tail_at_top(item)
                ):
                    t = _ch_type_of(item[:-2], sub_env)
                    if t is None and item and (
                        item[0] == "[" or _kw(item[0]) in _RAW_ARRAY_HEADS
                    ):
                        # opaque arrayness marker: enough for length/
                        # empty dispatch; toTypeName treats '?' as
                        # underivable and falls back to runtime typeof
                        t = "Array(?)"
                    if t:
                        env[item[-1].strip('`"')] = t
            i = close + 1
            continue
        i += 1
    return env


#: lambda formals currently bound to ARRAY-valued elements (array HOF
#: over an array-of-arrays input) — length/empty dispatch needs this
_ARRAY_LAMBDA_VARS: "contextvars.ContextVar[frozenset | None]" = (
    contextvars.ContextVar("daisy_array_lambda_vars", default=None)
)

#: statement-wide `_table` virtual-column usage (set by translate();
#: read by the merge() TVF expander, which only sees FROM tokens)
_WANT_TABLE_VCOL: "contextvars.ContextVar[bool]" = contextvars.ContextVar(
    "daisy_want_table_vcol", default=False
)


def _raw_elems_are_arrays(raw: list[str], env: dict | None) -> bool:
    """Whether the elements of a raw array-valued expression are
    themselves arrays: nested literal, Array(Array(..)) env type, or
    arrayMap whose lambda body is array-producing."""
    if not raw:
        return False
    if raw[0] == "[" and len(raw) > 1 and raw[1] == "[":
        return True
    if len(raw) == 1 and _is_ident(raw[0]):
        t = (env or {}).get(raw[0].strip('`"'), "")
        return t.replace(" ", "").startswith("Array(Array")
    if _kw(raw[0]) == "ARRAYMAP":
        arrow = next(
            (k for k, tk in enumerate(raw) if tk == "->"), -1
        )
        if arrow >= 0 and arrow + 1 < len(raw) and (
            raw[arrow + 1] == "["
            or _kw(raw[arrow + 1]) in _RAW_ARRAY_HEADS
        ):
            return True
    if len(raw) == 1 and "transform(" in raw[0]:
        # sibling-alias substitution splices TRANSLATED text back in as
        # one token; a transform whose lambda body builds arrays is an
        # array-of-arrays
        body = raw[0].split("->", 1)
        if len(body) == 2 and re.search(
            r"(?:sequence|array|slice|split|array_distinct)\s*\(",
            body[1],
        ):
            return True
    return False


def _type_name_of_raw(toks: list[str]) -> str | None:
    env = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
    return _ch_type_of(toks, env)


def _raw_const_expr(raw: list[str]) -> bool:
    """Translate-time constness of an expression: a ColumnConst
    survives only pure-literal trees — any materialize() call or bare
    column reference (an identifier NOT heading a function call)
    de-consts it (src/Functions/materialize.cpp; ColumnConst)."""
    if len(raw) == 1:
        cenv = _CONST_ENV_CTX.get() or {}
        if raw[0] in cenv:
            return cenv[raw[0]]
    for k, tk in enumerate(raw):
        if _kw(tk) == "MATERIALIZE":
            return False
        if _is_ident(tk) and _kw(tk) not in _SQL_KEYWORDS:
            nxt = raw[k + 1] if k + 1 < len(raw) else ""
            if nxt != "(" and tk.strip('`"') not in (
                _LITVAL_ENV_CTX.get() or {}
            ):
                return False
    return True


def _ch_type_tree(text: str):
    """Parse a CH type NAME into (head, [children]) for the wrappers
    the column dump walks (Array/Nullable); everything else is a leaf
    carrying its full text."""
    for head in ("Array", "Nullable", "LowCardinality"):
        if text.startswith(head + "(") and text.endswith(")"):
            return (head, [_ch_type_tree(text[len(head) + 1:-1])])
    return (text, [])


def _raw_array_literal(raw: list[str]):
    """Parse a bare (possibly nested) array-literal token stream into a
    nested python list whose leaves are literal placeholders; None when
    the stream is anything else."""
    if not raw or raw[0] != "[" or raw[-1] != "]":
        return None
    def parse(i):
        # raw[i] == '['
        out = []
        i += 1
        while i < len(raw) and raw[i] != "]":
            if raw[i] == "[":
                sub, i = parse(i)
                if sub is None:
                    return None, i
                out.append(sub)
            elif raw[i] == ",":
                i += 1
            elif _is_ident(raw[i]) and _kw(raw[i]) not in (
                "NULL", "TRUE", "FALSE",
            ):
                lv = (_LITVAL_ENV_CTX.get() or {}).get(
                    raw[i].strip('`"')
                )
                if lv is None:
                    return None, i  # column ref: value unknown
                out.append(lv)
                i += 1
            else:
                out.append(raw[i])
                i += 1
        return out, i + 1
    val, end = parse(0)
    return val if end == len(raw) else None


def _ch_unescape_str(tok: str) -> str:
    """Basic ClickHouse single-quoted literal unescape."""
    s = tok[1:-1]
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            n = s[i + 1]
            rep = {
                "0": "\x00", "n": "\n", "t": "\t", "r": "\r",
                "b": "\b", "f": "\f", "'": "'", '"': '"', "\\": "\\",
            }.get(n)
            if rep is not None:
                out.append(rep)
                i += 2
                continue
            if n == "x" and i + 3 < len(s):
                out.append(chr(int(s[i + 2:i + 4], 16)))
                i += 4
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _const_nested_value(toks: list[str]):
    """Literal (possibly nested) array tokens -> python value; a
    sentinel None when any element is not a literal."""
    _MISS = object()

    def atom(tk: str):
        if tk.startswith("'"):
            return _ch_unescape_str(tk)
        if _kw(tk) == "NULL":
            return None
        try:
            return int(tk)
        except ValueError:
            try:
                return float(tk)
            except ValueError:
                return _MISS

    def parse(ts: list[str]):
        if ts and ts[0] == "[" and ts[-1] == "]":
            vals = []
            for p in _split_top(ts[1:-1], ","):
                v = parse(p)
                if v is _MISS:
                    return _MISS
                vals.append(v)
            return vals
        if len(ts) == 1:
            return atom(ts[0])
        if len(ts) == 2 and ts[0] == "-":
            v = atom(ts[1])
            return -v if isinstance(v, (int, float)) else _MISS
        return _MISS

    v = parse(toks)
    return None if v is _MISS else (v,)


def _enum_ranked_call(
    t: str, arg_parts: list[list[str]], args: list[str]
) -> str:
    """arrayEnumerate{Uniq,Dense}Ranked: argument-list parsing per
    src/Functions/array/arrayEnumerateRanked.cpp getArraysDepths
    (errors 42/36/170 at analysis), then either translate-time
    evaluation (all-literal arrays) or a JSON-bridged runtime UDF —
    corpus-only exotica, never a hot path."""
    dense = t == "arrayEnumerateDenseRanked"
    if not arg_parts or arg_parts == [[]]:
        _raise_dialect(
            f"Number of arguments for function {t} doesn't match: "
            "passed 0, should be at least 1. (42)"
        )
    # classify each argument
    kinds = []  # ("array", depth, literal_or_None, sql) | ("const", v)
    for raw, sql in zip(arg_parts, args):
        lit = _const_nested_value(raw)
        if lit is not None and isinstance(lit[0], list):
            d = 1
            probe = lit[0]
            while probe and all(isinstance(x, list) for x in probe):
                d += 1
                nxt = [x for sub in probe for x in sub]
                probe = nxt
            kinds.append(("array", d, lit[0], sql))
            continue
        if lit is not None and isinstance(lit[0], (int, float)):
            kinds.append(("const", lit[0]))
            continue
        if lit is not None:  # string / NULL constant
            _raise_dialect(
                f"{t}: cannot get depth value from argument (170)"
            )
        ct = _type_name_of_raw(raw)
        d = 0
        u = _ch_unwrap(ct or "")
        while u.startswith("Array("):
            d += 1
            u = _ch_unwrap(u[6:-1])
        # an unresolvable expression is assumed array-valued with its
        # depth resolved at runtime (the C++ reads the input type; our
        # static env can miss nested-union aliases)
        kinds.append(("array", d or None, None, sql))
    # getArraysDepths
    clear_depth = 1
    depths: list = []
    arrays: list[tuple] = []
    prev_depth = 0
    for i, k in enumerate(kinds):
        if k[0] == "array":
            if len(depths) < len(arrays) and prev_depth != 0:
                depths.append(prev_depth)
            prev_depth = k[1]
            arrays.append(k)
        else:
            v = k[1]
            if isinstance(v, float) or v < 0:
                _raise_dialect(
                    f"{t}: depth argument must be a non-negative "
                    "integer constant (170)"
                )
            if v == 0:
                _raise_dialect(
                    f"Incorrect arguments for function {t}: depth "
                    f"({v}) cannot be less or equal 0. (36)"
                )
            if i == 0:
                clear_depth = v
            else:
                if len(depths) >= len(arrays):
                    _raise_dialect(
                        f"Incorrect arguments for function {t}: depth "
                        f"({v}) for missing array. (36)"
                    )
                if prev_depth is not None and v > prev_depth:
                    _raise_dialect(
                        f"Arguments for function {t} incorrect: depth="
                        f"{v} for array with depth={prev_depth}. (36)"
                    )
                depths.append(v)
    if len(depths) < len(arrays):
        depths.append(prev_depth)
    if not depths:
        _raise_dialect(
            f"Incorrect arguments for function {t}: at least one "
            "array should be passed. (36)"
        )
    if all(d is not None for d in depths):
        max_depth = max(depths)
        if clear_depth > max_depth:
            _raise_dialect(
                f"Incorrect arguments for function {t}: clear_depth "
                f"({clear_depth}) can't be larger than max_array_depth "
                f"({max_depth}). (36)"
            )
    from daisy_spark.functions.chtext import enum_ranked

    if all(a[2] is not None for a in arrays):
        try:
            res = enum_ranked(
                clear_depth, [a[2] for a in arrays], depths, dense
            )
        except ValueError:
            _raise_dialect(
                f"Arrays passed to {t} aren't of the same size (190)"
            )

        def _spark_arr(v) -> str:
            if isinstance(v, list):
                return "array(" + ", ".join(_spark_arr(x) for x in v) + ")"
            return str(v)

        schema = "ARRAY<" * max_depth + "INT" + ">" * max_depth
        return f"CAST({_spark_arr(res)} AS {schema})"
    # runtime (table-column) path: JSON-bridge UDF returning the
    # rendered text — identical to the reference's array TSV rendering
    # for UInt32 arrays
    spec = json.dumps(
        {"clear": clear_depth, "depths": depths, "dense": int(dense)}
    )
    fields = ", ".join(
        f"'a{k}', {a[3]}" for k, a in enumerate(arrays)
    )
    return (
        f"ch_enum_ranked('{spec}', to_json(named_struct({fields})))"
    )


def _dump_structure(tree, vals) -> str:
    """IColumn::dumpStructure for a const data column: each level
    prints name(size = N, children...) — Array carries its UInt64
    offsets column, Nullable its UInt8 null map
    (src/Columns/ColumnArray.h / ColumnNullable.h getName +
    IColumn::dumpStructure)."""
    head, kids = tree
    n = len(vals)
    if head == "Array" and kids:
        flat = []
        for v in vals:
            flat.extend(v if isinstance(v, list) else [])
        return (
            f"Array(size = {n}, UInt64(size = {n}), "
            f"{_dump_structure(kids[0], flat)})"
        )
    if head == "Nullable" and kids:
        return (
            f"Nullable(size = {n}, {_dump_structure(kids[0], vals)}, "
            f"UInt8(size = {n}))"
        )
    return f"{head}(size = {n})"


def _hash_arg_is_stringish(raw: list[str]) -> bool:
    """Whether a non-literal hash argument is string-valued: a declared
    String column or a visibly string-producing head."""
    if len(raw) == 1 and _is_ident(raw[0]):
        name = raw[0].strip('`"')
        env = _TYPE_ENV_CTX.get() or {}
        if name in env:
            return _ch_unwrap(env[name]).startswith(
                ("String", "FixedString")
            )
        schemas = _SCRIPT_SCHEMAS_CTX.get() or {}
        for cols in schemas.values():
            for c, st, _ in cols:
                if c == name:
                    return st.upper().startswith("STRING")
        return False
    t = _ch_type_of(raw, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT)
    if t is not None:
        return _ch_unwrap(t).startswith(("String", "FixedString"))
    head = _kw(raw[0]) if raw else ""
    if head == "ARRAYJOIN" and len(raw) >= 3:
        inner = _ch_type_of(
            _split_top(raw[2:-1], ",")[0] if raw[2:-1] else [],
            _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT,
        )
        if inner and inner.startswith("Array("):
            return _ch_unwrap(inner[6:-1]).startswith(
                ("String", "FixedString")
            )
    return head in (
        "TOSTRING", "CONCAT", "SUBSTRING", "SUBSTR", "LOWER", "UPPER",
        "REVERSE", "HEX", "REPLACEALL", "TRIM",
    ) or (raw and raw[0][:1] == "'")


_JSON_INT_RANGES = {
    "UInt8": (0, 255), "UInt16": (0, 65535), "UInt32": (0, 4294967295),
    "UInt64": (0, 18446744073709551615),
    "Int8": (-128, 127), "Int16": (-32768, 32767),
    "Int32": (-2147483648, 2147483647),
    "Int64": (-9223372036854775808, 9223372036854775807),
}


def _json_extract_typed(a: list[str]) -> str:
    """JSONExtract(json, key..., 'Type') (FunctionsJSON.h
    JSONExtractTree): integer targets accept only integral in-range
    numbers — anything else yields the type default (NULL when the
    target is Nullable)."""
    if len(a) < 2:
        _raise_dialect("JSONExtract: not enough arguments (42)")
    ty = a[-1].strip().strip("'")
    keys = a[1:-1]
    path = "concat('$.', " + ", '.', ".join(keys) + ")" if keys else "'$'"
    base = f"get_json_object({a[0]}, {path})"
    nullable = False
    m9 = re.fullmatch(r"Nullable\((.*)\)", ty)
    if m9:
        nullable = True
        ty = m9.group(1)
    lty = ty.lower()
    if lty in ("float", "float32"):
        return f"CAST({base} AS FLOAT)"
    if lty in ("double", "float64"):
        return f"CAST({base} AS DOUBLE)"
    if lty in ("string",):
        return base
    if lty in ("bool", "boolean", "uint8") or ty in _JSON_INT_RANGES:
        rng = _JSON_INT_RANGES.get(ty, (0, 255))
        # JSONExtractTree accepts JSON booleans for Bool and numeric
        # targets (true=1/false=0) before the numeric range check
        b = (
            f"IF({base} = 'true', '1', "
            f"IF({base} = 'false', '0', {base}))"
        )
        d = f"CAST({b} AS DOUBLE)"
        ok = (
            f"({d} = floor({d}) AND {d} >= {float(rng[0])!r} "
            f"AND {d} <= {float(rng[1])!r})"
        )
        val = f"IF({ok}, CAST({d} AS BIGINT), NULL)"
        return val if nullable else f"coalesce({val}, 0)"
    _raise_dialect(f"JSONExtract: unsupported target type {ty} (43)")


def _exact_hash_call(t: str, arg_parts: list[list[str]], args: list[str]) -> str | None:
    """Lower cityHash64/sipHash64/murmur*/halfMD5 with reference-exact
    values.  All-literal calls fold at translate time (chhash.fold);
    cityHash64 over dynamic args lowers to IntHash64Impl/Hash128to64
    in pure SQL for numerics and a registered UDF for strings.  Returns
    None to fall back to the approximate xxhash64 mapping."""
    from daisy_spark.functions import chhash

    kind = _EXACT_HASH_KINDS[t]
    nodes = [_parse_hash_lit(p) for p in arg_parts if p]
    if kind == "m3_128":
        # 16-byte FixedString result (only string args appear in tests)
        if (
            len(nodes) == 1 and nodes[0] is not None
            and nodes[0][0] == "str"
        ):
            h1, h2 = chhash.murmurhash3_128(nodes[0][1])
            raw = struct.pack("<QQ", h1, h2)
            return f"X'{raw.hex().upper()}'"
        return None
    if nodes and all(nd is not None for nd in nodes):
        flat = _flatten_hash_args(nodes)
        try:
            h = chhash.fold(kind, flat)
        except (ValueError, KeyError, struct.error):
            h = None
        if h is not None:
            if h < (1 << 63):
                return f"CAST({h} AS BIGINT)"
            return f"CAST('{h}' AS DECIMAL(20, 0))"
    if kind != "city":
        return None
    # dynamic cityHash64: per-arg IntHash64Impl (numeric) or CityHash64
    # UDF (string), folded with Hash128to64 — all JVM-side except the
    # string hash itself
    per = []
    for raw, nd, a in zip(arg_parts, nodes, args):
        if nd is not None and nd[0] != "array":
            flat = _flatten_hash_args([nd])
            try:
                hv = chhash.fold(kind, flat)
                per.append(str(chhash._to_i64(hv)))
                continue
            except (ValueError, KeyError, struct.error):
                pass
        if _hash_arg_is_stringish(raw):
            per.append(f"ch_cityhash64_str({a})")
        else:
            per.append(_sql_inthash64impl(a))
    h = per[0]
    for nxt in per[1:]:
        h = _sql_hash128to64(h, nxt)
    return _unsigned_u64(h)


def _respell_literal(tok: str) -> str:
    """Decode the reference's C-style escapes Spark lacks (\\xHH, \\a,
    \\v, \\f, \\?) into real bytes, then re-emit a Spark-safe literal
    (parsers/Lexer escape rules).  Hex escapes are BYTES — consecutive
    ones may form one UTF-8 character."""
    body = tok[1:-1]
    out: list[str] = []   # escape-safe literal pieces
    buf = bytearray()     # pending decoded raw bytes

    def _flush() -> None:
        if buf:
            s = bytes(buf).decode("utf-8", "replace")
            # decoded bytes may be a quote (\x27) or backslash (\x5c):
            # re-escape them so the rebuilt literal stays well-formed
            out.append(s.replace("\\", "\\\\").replace("'", "\\'"))
            buf.clear()

    i = 0
    n = len(body)
    while i < n:
        c = body[i]
        if c == "\\" and i + 1 < n:
            nx = body[i + 1]
            if nx == "x" and i + 3 < n:
                try:
                    buf.append(int(body[i + 2 : i + 4], 16))
                    i += 4
                    continue
                except ValueError:
                    pass
            if nx == "a":
                buf.append(7)
                i += 2
                continue
            if nx == "v":
                buf.append(11)
                i += 2
                continue
            if nx == "f":
                buf.append(12)
                i += 2
                continue
            if nx == "?":
                buf.append(63)
                i += 2
                continue
            # surviving escapes Spark understands (\n, \t, \', \\, ...)
            # pass through as written
            _flush()
            out.append(c + nx)
            i += 2
            continue
        buf += c.encode("utf-8", "surrogatepass")
        i += 1
    _flush()
    return "'" + "".join(out) + "'"


def _bool_lambda(lam: str) -> str:
    """Wrap a translated SQL lambda's body in a boolean cast (reference
    predicates are UInt8)."""
    head, arrow, body = lam.partition("->")
    if not arrow:
        return lam
    return f"{head}-> CAST(({body.strip()}) AS BOOLEAN)"


def _untuple_expr(arg: str) -> str:
    """untuple(t): expand a tuple into ``_ut_N`` columns (the
    reference's naming, src/Functions/tupleElement + untuple)."""
    labels = [int(x) for x in re.findall(r"'col(\d+)'", arg)]
    if arg.startswith("named_struct") and labels:
        return ", ".join(
            f"({arg}).col{i} AS _ut_{i}" for i in range(1, max(labels) + 1)
        )
    s = arg.strip()
    if s.startswith("(") and s.endswith(")"):
        parts = [p.strip() for p in _split_top(tokenize(s[1:-1]), ",") if p]
        if len(parts) > 1:
            return ", ".join(
                f"{_emit(p)} AS _ut_{i}" for i, p in enumerate(parts, 1)
            )
    _raise_dialect("untuple needs a tuple literal")


def _conv_backrefs(repl: str) -> str:
    """Convert re2-style ``\\1`` backrefs in a LITERAL replacement string
    to java.util.regex ``$1`` (and escape literal ``$``)."""
    if len(repl) >= 2 and repl[0] == "'" and repl[-1] == "'":
        body = repl[1:-1].replace("$", "\\\\$")
        body = re.sub(r"\\\\\\\\([0-9])", r"$\1", body)
        body = re.sub(r"\\\\([0-9])", r"$\1", body)
        return f"'{body}'"
    return repl


_DD_UNITS = {
    "YEAR": "YEAR", "YY": "YEAR", "YYYY": "YEAR",
    "QUARTER": "QUARTER", "QQ": "QUARTER", "Q": "QUARTER",
    "MONTH": "MONTH", "MM": "MONTH", "M": "MONTH",
    "WEEK": "WEEK", "WK": "WEEK", "WW": "WEEK",
    "DAY": "DAY", "DD": "DAY", "D": "DAY",
    "HOUR": "HOUR", "HH": "HOUR",
    "MINUTE": "MINUTE", "MI": "MINUTE", "N": "MINUTE",
    "SECOND": "SECOND", "SS": "SECOND", "S": "SECOND",
}


def _dd_unit(tok: str) -> str:
    """dateDiff unit: quoted ('month') or bare SQL keyword (MONTH, QQ,
    SQL_TSI_MONTH) — normalized to Spark's unit keyword."""
    u = tok.strip().strip("'").upper()
    if u.startswith("SQL_TSI_"):
        u = u[8:]
    return _DD_UNITS.get(u, u)


def _ts_add_expr(a: list[str], sign: int) -> str:
    """DATE_ADD/DATE_SUB/timestamp_add/timestamp_sub: (unit, n, d) or
    (d, INTERVAL n unit) forms; result stays a Date when the input is."""
    if len(a) == 2:
        # (d, interval) form
        base, iv = a[0], a[1]
        expr = f"({base} {'+' if sign > 0 else '-'} {iv})"
    else:
        unit, n, base = _dd_unit(a[0]), a[1], a[2]
        n = n if sign > 0 else f"-({n})"
        expr = f"timestampadd({unit}, {n}, {base})"
    if _dt_kind(base) == "date":
        return f"CAST({expr} AS DATE)"
    return expr


def _default_value_of(arg: str) -> str:
    """defaultValueOfArgumentType(x): type default, classified from the
    translated expression TEXT (src/Functions/defaultValueOfArgument
    Type.cpp) — 0 / '' / epoch date(-time); composites render as the
    reference's TSV literal."""
    s = arg.strip()
    compact = s.replace(" ", "")
    if compact.startswith("array(") or _is_arrayish(s):
        return "array()"
    if compact.startswith("named_struct("):
        elems = _struct_literal_elems(s)
        if elems is not None:
            fields = []
            for i, e in enumerate(elems, 1):
                fields.append(f"'col{i}', {_default_scalar_text(e)}")
            return f"named_struct({', '.join(fields)})"
        return "''"
    return _default_scalar_text(s)


def _struct_literal_elems(s: str) -> list[str] | None:
    if not (s.startswith("named_struct(") and s.endswith(")")):
        return None
    parts = [_emit(p) for p in _split_top(tokenize(s[13:-1]), ",") if p]
    return [parts[i] for i in range(1, len(parts), 2)]


def _default_scalar_text(e: str) -> str:
    """SQL expression for a scalar's type default (the TSV renderer
    turns values into the reference's spelling)."""
    e = e.replace(" ", "")
    k = _dt_kind(e)
    if k == "date":
        return "DATE '1970-01-01'"
    if k == "ts":
        return "to_timestamp('1970-01-01 00:00:00')"
    if e.startswith("'"):
        return "''"
    return "0"


def _gcd_expr(x: str, y: str) -> str:
    """gcd via a fixed-depth Euclid fold (64-bit gcd terminates in < 45
    iterations — Fibonacci worst case; src/Functions/gcdLcmImpl.h)."""
    return (
        f"(aggregate(sequence(1, 45), "
        f"named_struct('x', CAST(abs({x}) AS BIGINT), "
        f"'y', CAST(abs({y}) AS BIGINT)), "
        f"(__s, __i) -> IF(__s.y = 0, __s, "
        f"named_struct('x', __s.y, 'y', __s.x % __s.y)))).x"
    )


def _format_readable_expr(v: str, base: float, units: list[str]) -> str:
    """formatReadableSize/Quantity: scale into the largest unit below the
    next threshold, printf with 2 decimals (formatReadable.h)."""
    val = f"CAST({v} AS DOUBLE)"
    expr = f"printf('%.2f{units[-1]}', {val} / {base ** (len(units) - 1)!r})"
    for k in range(len(units) - 2, -1, -1):
        thresh = base ** (k + 1)
        expr = (
            f"CASE WHEN abs({val}) < {thresh!r} "
            f"THEN printf('%.2f{units[k]}', {val} / {base ** k!r}) "
            f"ELSE {expr} END"
        )
    return f"({expr})"


def _array_resize(a: list[str]) -> str:
    """arrayResize(arr, n[, fill]): truncate or pad to |n| elements;
    negative n pads/truncates at the FRONT (arrayResize.cpp).  Without an
    explicit fill the pad is the element type's default — NULL when the
    array carries NULLs, else a translate-time guess from the literal
    text (0 / '' / empty array)."""
    arr, n = a[0], a[1]
    if len(a) > 2:
        pad = a[2]
    elif "'" in arr:
        pad = "''"
    elif "array(array" in arr.replace(" ", ""):
        pad = "array()"
    else:
        pad = "0"
    pad = f"IF(exists({arr}, __e -> __e IS NULL), NULL, {pad})"
    fill = f"array_repeat({pad}, greatest(CAST(abs({n}) AS INT) - size({arr}), 0))"
    return (
        f"(CASE WHEN ({n}) >= 0 THEN "
        f"concat(slice({arr}, 1, CAST({n} AS INT)), {fill}) "
        f"ELSE concat({fill}, "
        f"slice({arr}, greatest(size({arr}) + ({n}) + 1, 1), "
        f"CAST(abs({n}) AS INT))) END)"
    )


def _neighbor_expr(a: list[str]) -> str:
    """neighbor(x, offset[, default]) — src/Functions/neighbor.cpp."""
    if len(a) < 2 or len(a) > 3:
        _raise_dialect("neighbor: wrong argument count (42)")
    off = a[1].strip()
    if re.search(r"(?i)\bNULL\b", off):
        # the reference rejects Nullable offsets (error 43)
        _raise_dialect("neighbor: offset must not be Nullable (43)")
    if len(a) > 2 and a[2].strip().startswith("'"):
        t9n = _ch_type_of(
            [a[0].strip().strip("`")],
            _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT,
        )
        if t9n and re.match(r"(?:Nullable\()?(UInt|Int|Float)", t9n):
            # string default for a numeric source (error 386)
            _raise_dialect("neighbor: default type mismatch (386)")
    if len(a) > 2 and re.fullmatch(r"\(*\s*-\s*\d+\s*\)*", a[2].strip()):
        t9n = _ch_type_of(
            [a[0].strip().strip("`")],
            _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT,
        )
        if t9n and _ch_unwrap(t9n).startswith("UInt"):
            # negative default for an unsigned source: no common
            # supertype (error 386)
            _raise_dialect("neighbor: no common supertype (386)")
    # no explicit default: the TYPE default — NULL when the source is
    # visibly nullable, else 0
    dflt = (
        a[2] if len(a) > 2
        else ("NULL" if re.search(r"(?i)\bNULL\b", a[0]) else "0")
    )
    m = re.fullmatch(r"\(*\s*(-?\s*\d+)\s*\)*", off)
    if m:
        k9 = int(m.group(1).replace(" ", ""))
        if abs(k9) > 2147483647:
            # offsets beyond the block bound (error 69, 01353)
            _raise_dialect("neighbor: offset out of bounds (69)")
        fn9 = "lead" if k9 >= 0 else "lag"
        return (
            f"{fn9}({a[0]}, {abs(k9)}, {dflt}) OVER "
            f"(ORDER BY monotonically_increasing_id())"
        )
    if re.search(r"(?i)\brand(64)?\s*\(", off):
        # a rand-driven offset exceeds the bound almost surely —
        # the reference rejects it the same way (01353)
        _raise_dialect("neighbor: offset out of bounds (69)")
    # dynamic offset: index into the full column (struct-wrapped so
    # collect_list keeps NULL elements)
    full = (
        f"collect_list(named_struct('v', {a[0]})) OVER "
        f"(ORDER BY monotonically_increasing_id() "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )
    rn = "row_number() OVER (ORDER BY monotonically_increasing_id())"
    pos = f"({rn} + CAST({off} AS BIGINT))"
    return (
        f"IF({pos} >= 1 AND {pos} <= size({full}), "
        f"element_at({full}, CAST({pos} AS INT)).v, {dflt})"
    )


def _array_split_expr_c(a: list[str], reverse: bool) -> str:
    """arraySplit / arrayReverseSplit (src/Functions/array/arraySplit.cpp):
    a true lambda value starts a new piece at that element (split on the
    LEFT); the Reverse form ends the piece there (split on the RIGHT)."""
    lam = a[0]
    arrs = a[1:]
    if len(arrs) == 1:
        flags = f"transform({arrs[0]}, {lam})"
    elif len(arrs) == 2:
        flags = f"zip_with({arrs[0]}, {arrs[1]}, {lam})"
    else:
        flags = (
            f"transform(sequence(1, size({arrs[0]})), __zi -> "
            + _inline_lambda(lam, *[
                f"element_at({x}, CAST(__zi AS INT))" for x in arrs
            ]) + ")"
        )
    arr = arrs[0]
    n = f"size({arr})"
    fl = f"CAST(element_at({flags}, CAST(__si AS INT)) AS BOOLEAN)"
    if not reverse:
        starts = f"filter(sequence(1, {n}), __si -> __si = 1 OR {fl})"
        at = f"element_at({starts}, CAST(__sk AS INT))"
        nxt = (
            f"IF(__sk < size({starts}), "
            f"element_at({starts}, CAST(__sk AS INT) + 1), {n} + 1)"
        )
        return (
            f"IF({n} = 0, array(), "
            f"transform(sequence(1, size({starts})), __sk -> "
            f"slice({arr}, {at}, {nxt} - {at})))"
        )
    ends = f"filter(sequence(1, {n}), __si -> __si = {n} OR {fl})"
    at = f"element_at({ends}, CAST(__sk AS INT))"
    prev = (
        f"IF(__sk = 1, 0, element_at({ends}, CAST(__sk AS INT) - 1))"
    )
    return (
        f"IF({n} = 0, array(), "
        f"transform(sequence(1, size({ends})), __sk -> "
        f"slice({arr}, {prev} + 1, {at} - {prev})))"
    )


def _inline_lambda(lam: str, *exprs: str) -> str:
    """Inline a translated SQL lambda ``(x, y) -> body`` by substituting
    the given expressions for its parameters (word-boundary replace)."""
    head, _, body = lam.partition("->")
    if "named_struct" in head:
        # multi-param lambdas are pre-packaged upstream as
        # named_struct('col1', x, 'col2', y) -> body
        params = re.findall(r"'col\d+'\s*,\s*([A-Za-z_]\w*)", head)
    else:
        params = [
            p.strip() for p in head.strip().strip("()").split(",") if p.strip()
        ]
    if len(params) != len(exprs):
        _raise_dialect(f"lambda arity {len(params)} != {len(exprs)}")
    for p, e in zip(params, exprs):
        body = re.sub(rf"\b{re.escape(p)}\b", f"({e})", body)
    return f"({body.strip()})"


def _array_fill_expr(a: list[str], reverse: bool) -> str:
    """arrayFill(pred, arr[, arr2]): replace elements where pred fails
    with the nearest preceding (following, for Reverse) element that
    passed; the edge element stays (src/Functions/array/arrayFill.cpp).
    A fold that appends either the element or the last kept value; the
    predicate may read a parallel condition array (2-array form)."""
    lam, arr = a[0], a[1]
    cond_arr = a[2] if len(a) > 2 else None
    src = f"reverse({arr})" if reverse else arr
    if cond_arr is not None:
        csrc = f"reverse({cond_arr})" if reverse else cond_arr
        # zip value and condition so one fold sees both
        zipped = (
            f"zip_with({src}, {csrc}, "
            f"(__zv, __zc) -> named_struct('v', __zv, 'c', __zc))"
        )
        pred = _inline_lambda(lam, "__e.v", "__e.c")
        elem = "__e.v"
    else:
        zipped = src
        pred = _inline_lambda(lam, "__e")
        elem = "__e"
    # typed-empty accumulator via a zero-length slice of the input itself
    fold = (
        f"aggregate({zipped}, slice({zipped}, 1, 0), "
        f"(__acc, __e) -> concat(__acc, array(IF(size(__acc) = 0 OR "
        f"CAST({pred} AS BOOLEAN), __e, element_at(__acc, -1)))))"
    )
    if cond_arr is not None:
        fold = f"transform({fold}, __fs -> __fs.v)"
    _ = elem
    return f"reverse({fold})" if reverse else fold


def _to_start_of_interval_expr(a: list[str]) -> str:
    """toStartOfInterval(t, INTERVAL n unit): floor to the interval grid
    (toStartOfInterval.cpp).  The interval argument arrives translated as
    make_interval(y, mo, w, d, h, mi, s)."""
    lit = re.match(
        r"(?i)^\s*INTERVAL\s+'?(-?\d+)'?\s+(\w+?)S?\s*$", a[1].strip()
    )
    if lit:
        nval = int(lit.group(1))
        unit = lit.group(2).upper()
        months = nval * {"YEAR": 12, "QUARTER": 3, "MONTH": 1}.get(unit, 0)
        secs = nval * {
            "WEEK": 604800, "DAY": 86400, "HOUR": 3600,
            "MINUTE": 60, "SECOND": 1,
        }.get(unit, 0)
        if not months and not secs:
            _raise_dialect(f"toStartOfInterval: unsupported unit {unit!r}")
    else:
        nums = re.findall(r"-?\d+", a[1])
        if len(nums) < 7:
            _raise_dialect(f"toStartOfInterval: unsupported interval {a[1]!r}")
        y, mo, w, d, h, mi, s = (int(x) for x in nums[:7])
        months = y * 12 + mo
        secs = ((w * 7 + d) * 86400) + h * 3600 + mi * 60 + s
    t = f"CAST({a[0]} AS TIMESTAMP)"
    if months:
        if months == 1:
            return f"to_date(date_trunc('month', {t}))"
        if months == 3:
            return f"to_date(date_trunc('quarter', {t}))"
        if months == 12:
            return f"to_date(date_trunc('year', {t}))"
        # generic month grid from epoch (1970-01)
        m_idx = f"((year({t}) - 1970) * 12 + month({t}) - 1)"
        return (
            f"add_months(DATE '1970-01-01', "
            f"CAST(floor({m_idx} / {months}) * {months} AS INT))"
        )
    if secs >= 86400 and secs % 86400 == 0:
        days = secs // 86400
        if days == 1:
            return f"to_date({t})"
        return (
            f"date_add(DATE '1970-01-01', "
            f"CAST(floor(datediff({t}, DATE '1970-01-01') / {days}) "
            f"* {days} AS INT))"
        )
    return (
        f"timestamp_seconds(CAST(floor(unix_timestamp({t}) / {secs}) "
        f"* {secs} AS BIGINT))"
    )


def _position_expr(a: list[str]) -> str:
    if len(a) == 1:
        m = re.match(r"^(.*\S)\s+IN\s+\(\s*(.*?)\s*\)$", a[0], re.S)
        if m:
            return _byte_position(m.group(2), m.group(1))
        _raise_dialect("position: single-argument form must be needle IN haystack")
    if len(a) == 3:
        return f"locate({a[1]}, {a[0]}, {a[2]})"
    return _byte_position(a[0], a[1])



def _scaled_round_sql(op: str, a: list[str]) -> str:
    """floor/ceil/trunc/rint with a scale argument.  Negative literal
    scales use the DIVISION form — pow(10, 5) is exact in double where
    pow(10, -5) is not, so floor(x * 1e-5) / 1e-5 leaves noise like
    123400000.00000001.  + 0.0 normalizes -0 on integer paths."""
    x = f"CAST({a[0]} AS DOUBLE)"
    m0 = re.fullmatch(r"\(*\s*-\s*(\d+)\s*\)*", a[1].strip())
    m1 = m0 or re.fullmatch(r"\(*\s*(\d+)\s*\)*", a[1].strip())
    if m1 and int(m1.group(1)) > 308:
        # FunctionsRound: scale beyond double range ->
        # ARGUMENT_OUT_OF_BOUND (error 69)
        raise DialectError("rounding scale out of bound")

    def core(v: str) -> str:
        if op == "trunc":
            return f"IF({x} >= 0, floor({v}), ceil({v}))"
        return f"{op}({v})"

    if m0:
        p = f"pow(10, {m0.group(1)})"
        return f"({core(f'{x} / {p}')} * {p} + 0.0d)"
    p = f"pow(10, {a[1]})"
    return f"({core(f'{x} * {p}')} / {p} + 0.0d)"


def _array_auc_expr(a: list[str]) -> str:
    """arrayAUC(scores, labels) exactly as arrayAUC.cpp: stable sort by
    score DESC, walk — positives raise the curve, negatives add the
    current positive count to the area; result = area / (P * N); nan
    for one-class input.  Literal arrays validate arity at translate
    time (errors 43/36)."""
    def _lit_arity(x: str) -> int | None:
        x = re.sub(r"\s+", "", x)
        if not x.startswith("array(") or not x.endswith(")"):
            return None
        inner = x[6:-1]
        if not inner:
            return 0
        d = 0
        cnt = 1
        in_s = False
        for ch in inner:
            if in_s:
                in_s = ch != "'"
            elif ch == "'":
                in_s = True
            elif ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            elif ch == "," and d == 0:
                cnt += 1
        return cnt
    n1, n2 = _lit_arity(a[0]), _lit_arity(a[1])
    if n1 == 0 or n2 == 0:
        raise DialectError("arrayAUC: empty array")
    if n1 is not None and n2 is not None and n1 != n2:
        raise DialectError("arrayAUC: array size mismatch")
    rows = (
        f"transform(sequence(1, size({a[0]})), __ai -> struct("
        f"CAST(element_at({a[0]}, CAST(__ai AS INT)) AS DOUBLE) AS sc, "
        f"CAST(element_at({a[1]}, CAST(__ai AS INT)) AS DOUBLE) AS lb, "
        f"__ai AS ix))"
    )
    srt = (
        f"array_sort({rows}, (x, y) -> CASE "
        f"WHEN x.sc > y.sc THEN -1 WHEN x.sc < y.sc THEN 1 "
        f"WHEN x.ix < y.ix THEN -1 ELSE 1 END)"
    )
    fold = (
        f"aggregate({srt}, struct(CAST(0 AS BIGINT) AS cp, "
        f"CAST(0 AS BIGINT) AS ar), (__ac, __e) -> "
        f"IF(__e.lb > 0, struct(__ac.cp + 1 AS cp, __ac.ar AS ar), "
        f"struct(__ac.cp AS cp, __ac.ar + __ac.cp AS ar)))"
    )
    return (
        f"(CASE WHEN ({fold}).cp = 0 OR ({fold}).cp = size({a[0]}) "
        f"THEN double('nan') ELSE CAST(({fold}).ar AS DOUBLE) / "
        f"({fold}).cp / (size({a[0]}) - ({fold}).cp) END)"
    )


def _ch_ln(v: str) -> str:
    """C log() semantics: ln(0) = -inf, ln(neg) = nan, ln(nan) = nan —
    where Spark's ln() returns NULL for non-positive inputs."""
    return (
        f"(CASE WHEN isnan({v}) THEN double('nan') "
        f"WHEN ({v}) = 0 THEN double('-inf') "
        f"WHEN ({v}) < 0 THEN double('nan') ELSE ln({v}) END)"
    )


def _sql_str_lit(s: str) -> str:
    """Render a Python string as a Spark SQL single-quoted literal
    (Spark unescapes backslashes inside string literals, so they are
    doubled here)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _const_str_of_raw(toks: list[str]) -> str | None:
    """Extract the compile-time string value of a raw argument when it
    is constant: a string literal, CAST(lit AS FixedString(n)) /
    toFixedString(lit, n) (padded with NULs to n), or repeat(lit, n).
    None for anything non-constant (materialize(), columns, calls)."""
    ts = list(toks)
    while len(ts) >= 3 and ts[0] == "(" and _match_paren(ts, 0) == len(ts) - 1:
        ts = ts[1:-1]
    if len(ts) == 1 and ts[0][:1] == "'":
        return _ch_str_bytes(ts[0]).decode("utf-8", "replace")
    if not ts or ts[1:2] != ["("]:
        return None
    kw0 = _kw(ts[0])
    if kw0 == "CAST" and len(ts) >= 4 and ts[2][:1] == "'":
        s = _ch_str_bytes(ts[2]).decode("utf-8", "replace")
        for k, tk in enumerate(ts):
            if tk == "FixedString" and k + 2 < len(ts) and ts[k + 2].isdigit():
                n = int(ts[k + 2])
                s = (s + "\x00" * n)[:n] if len(s) < n else s
        return s
    if kw0 == "TOFIXEDSTRING" and len(ts) >= 4 and ts[2][:1] == "'":
        s = _ch_str_bytes(ts[2]).decode("utf-8", "replace")
        if len(ts) >= 6 and ts[4].isdigit():
            n = int(ts[4])
            s = (s + "\x00" * n)[:n] if len(s) < n else s
        return s
    if kw0 == "REPEAT" and len(ts) >= 6 and ts[2][:1] == "'" and ts[4].isdigit():
        return _ch_str_bytes(ts[2]).decode("utf-8", "replace") * int(ts[4])
    if kw0 == "MATERIALIZE":
        return None
    return None


def _delta_sum_fold(arr: str) -> str:
    """deltaSum over an ordered array: sum of positive adjacent deltas
    (src/AggregateFunctions/AggregateFunctionDeltaSum.h)."""
    return (
        f"aggregate({arr}, named_struct('s', CAST(0 AS DOUBLE), "
        f"'l', CAST(NULL AS DOUBLE)), (__da, __dx) -> named_struct("
        f"'s', IF(__da.l IS NULL, __da.s, "
        f"__da.s + greatest(CAST(__dx AS DOUBLE) - __da.l, 0D)), "
        f"'l', CAST(__dx AS DOUBLE))).s"
    )


#: netloc/whole-URL restricted characters (src/Functions/URL/netloc.cpp);
#: expressed as a regex character class for Spark (class metachars
#: escaped; backslashes doubled for the SQL string literal layer)
_NETLOC_STOP_CLS = r" \\t<>%{}|\\\\^~\\[\\];=&/?#"


def _netloc_expr(a: list[str]) -> str:
    """netloc(url): authority part (user:pass@host:port).  Simplified
    vs src/Functions/URL/netloc.cpp: the scan stops at the first
    path/query/fragment or restricted character; the reference's
    has-identification backtracking corner (a '/' inside user-info) is
    not reproduced."""
    u = a[0]
    body = f"regexp_extract({u}, '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^{_NETLOC_STOP_CLS}]*)', 1)"
    bare = f"regexp_extract({u}, '^([^{_NETLOC_STOP_CLS}]*)', 1)"
    return (
        f"IF({u} RLIKE '^([A-Za-z][A-Za-z0-9+.-]*:)?//', {body}, {bare})"
    )


def _best_effort_parse_py(s: str, scale: int, tz: str | None) -> str | None:
    """Python-side best-effort DateTime64 parse of a LITERAL, rendered
    at the given scale in the given zone's wall clock
    (parseDateTimeBestEffortImpl, src/IO/parseDateTimeBestEffort.cpp —
    we cover the ISO-ish forms the corpus exercises).  None = cannot
    parse; a fraction past 18 digits raises (reference error 6)."""
    import datetime as _dt

    m = re.fullmatch(
        r"(\d{4})-(\d{2})-(\d{2})"
        r"(?:[T ](\d{2}):(\d{2})(?::(\d{2}))?)?"
        r"(?:\.(\d+))?"
        r"(Z|z|[+-]\d{2}:?\d{2})?",
        s.strip(),
    )
    if not m:
        return None
    frac = m.group(7) or ""
    if len(frac) > 18:
        raise DialectError(
            "parseDateTime64BestEffort: cannot parse fractional part "
            "(reference error 6)"
        )
    try:
        base = _dt.datetime(
            int(m.group(1)), int(m.group(2)), int(m.group(3)),
            int(m.group(4) or 0), int(m.group(5) or 0), int(m.group(6) or 0),
        )
    except ValueError:
        return None
    suffix = m.group(8)
    if suffix:
        if suffix.upper() != "Z":
            sign = 1 if suffix[0] == "+" else -1
            hh, mm = int(suffix[1:3]), int(suffix[-2:])
            base -= sign * _dt.timedelta(hours=hh, minutes=mm)
        # base is now the UTC instant; shift to the display zone
        if tz and tz != "UTC":
            import zoneinfo

            base = base.replace(tzinfo=_dt.timezone.utc).astimezone(
                zoneinfo.ZoneInfo(tz)
            ).replace(tzinfo=None)
    # naive input parses as the display zone's wall clock: no shift
    out = base.strftime("%Y-%m-%d %H:%M:%S")
    if scale:
        out += "." + (frac[:scale] if frac else "").ljust(scale, "0")
    return out


#: the reference test suite runs its server in Europe/Moscow
#: (tests/config/config.d/*timezone*); DateTime64 values carry wall-
#: clock text, so epoch conversions of UNTAGGED values re-base through
#: this zone to match the committed expectations
_SERVER_TZ = "Europe/Moscow"


def _strip_outer_parens_text(s: str) -> str:
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        ok = True
        for k, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and k != len(s) - 1:
                    ok = False
                    break
        if not ok:
            break
        s = s[1:-1].strip()
    return s


def _to_datetime64_expr(a: list[str]) -> str:
    """toDateTime64(x, scale[, tz]) -> wall-clock STRING at exactly
    `scale` fractional digits (FunctionsConversion.h DataTypeDateTime64).
    Spark timestamps stop at microseconds, so the scale-faithful (and
    nanosecond-capable) representation is the rendered text; downstream
    comparisons/CASTs coerce strings back to native types."""
    if not a:
        raise DialectError("toDateTime64: wrong arity")
    if len(a) == 1:
        return f"CAST({a[0]} AS TIMESTAMP)"
    s1 = _strip_outer_parens_text(a[1])
    if not re.fullmatch(r"[0-9]+", s1) or int(s1) > 9:
        return f"CAST({a[0]} AS TIMESTAMP)"
    scale = int(s1)
    core = _strip_outer_parens_text(a[0])
    if core.lower().startswith("materialize(") and core.endswith(")"):
        core = _strip_outer_parens_text(core[len("materialize("):-1])
    if core.startswith("'") and core.endswith("'"):
        out = _best_effort_parse_py(core[1:-1], scale, None)
        if out is not None:
            return f"'{out}'"
    frac = ("." + "S" * min(scale, 6) + "0" * max(0, scale - 6)) if (
        scale
    ) else ""
    return f"date_format(CAST({a[0]} AS TIMESTAMP), 'yyyy-MM-dd HH:mm:ss{frac}')"


def _dt64_frac_digits(x: str, k: int) -> str:
    """First k fraction digits of a DateTime64 wall-clock string,
    zero-padded (no '.' -> k zeros)."""
    return (
        f"CAST(substring(rpad(IF(locate('.', {x}) > 0, "
        f"substring({x}, locate('.', {x}) + 1), ''), 9, '0'), 1, {k}) "
        f"AS BIGINT)"
    )


def _to_unix_ts64_expr(a: list[str], k: int, tz: str | None = None) -> str:
    """toUnixTimestamp64Milli/Micro/Nano(dt64): epoch at 10^-k*3
    seconds; fraction digits come from the wall-clock TEXT so
    nanoseconds survive (src/Functions/FunctionsConversion.h).  The
    wall clock re-bases through the value's zone tag when statically
    known, else the server zone."""
    if len(a) != 1:
        raise DialectError("toUnixTimestamp64: wrong arity (42)")
    x0 = _strip_outer_parens_text(a[0])
    if x0.startswith("'") and not any(c.isdigit() for c in x0):
        raise DialectError("toUnixTimestamp64: not a DateTime64 (43)")
    x = f"CAST({a[0]} AS STRING)"
    zone = (tz or f"'{_SERVER_TZ}'").strip()
    sec = (
        f"unix_timestamp(to_utc_timestamp(CAST(substring({x}, 1, 19) "
        f"AS TIMESTAMP), {zone}))"
    )
    digits = {3: 1000, 6: 1000000, 9: 1000000000}[k]
    return f"({sec} * CAST({digits} AS BIGINT) + {_dt64_frac_digits(x, k)})"


def _from_unix_ts64_expr(a: list[str], k: int) -> str:
    """fromUnixTimestamp64Milli/Micro/Nano(i[, tz]) -> DateTime64(k)
    wall-clock string in tz (default: the server zone)."""
    if not 1 <= len(a) <= 2:
        raise DialectError("fromUnixTimestamp64: wrong arity (42)")
    x0 = _strip_outer_parens_text(a[0])
    if x0.startswith("'"):
        raise DialectError("fromUnixTimestamp64: not an integer (43)")
    tz = _SERVER_TZ
    if len(a) == 2:
        t2 = _strip_outer_parens_text(a[1])
        if not (t2.startswith("'") and t2.endswith("'")):
            raise DialectError(
                "fromUnixTimestamp64: timezone must be a string (43)"
            )
        tz = t2[1:-1]
    digits = {3: 1000, 6: 1000000, 9: 1000000000}[k]
    sec = f"FLOOR(CAST({a[0]} AS BIGINT) / {digits})"
    frac = f"lpad(CAST(pmod(CAST({a[0]} AS BIGINT), {digits}) AS STRING), {k}, '0')"
    wall = f"from_utc_timestamp(timestamp_seconds({sec}), '{tz}')"
    return f"concat(date_format({wall}, 'yyyy-MM-dd HH:mm:ss'), '.', {frac})"


def _has_token_expr(a: list[str], ci: bool = False, or_null: bool = False) -> str:
    """hasToken[CaseInsensitive][OrNull](haystack, needle)
    (src/Functions/hasToken.cpp; boundary rules from
    src/Common/StringSearcher.h TokenSearcher): the needle must be a
    whole token — neighbours are ASCII non-alphanumerics (non-ASCII
    bytes are NOT separators).  A needle containing a separator is
    error 36 (OrNull: NULL)."""
    if len(a) != 2:
        raise DialectError("hasToken: wrong number of arguments (42)")
    nd = _strip_outer_parens_text(a[1])
    if not (nd.startswith("'") and nd.endswith("'")):
        raise DialectError("hasToken: needle must be constant (44)")
    try:
        needle_b = _ch_str_bytes(nd)
    except Exception:  # noqa: BLE001
        needle_b = nd[1:-1].encode("utf-8", "ignore")
    needle = needle_b.decode("utf-8", "ignore")
    if b"\x00" in needle_b:
        # a NUL in the needle: the tokenbf index prunes every granule
        # before the function's separator check could run (01781)
        return "CAST(NULL AS INT)" if or_null else "CAST(0 AS INT)"
    if not needle or any(
        b < 128 and not chr(b).isalnum() for b in needle_b
    ):
        if or_null:
            return "CAST(NULL AS INT)"
        raise DialectError(
            "hasToken: needle must not contain separators (36)"
        )
    sep = r"[\\x00-\\x2F\\x3A-\\x40\\x5B-\\x60\\x7B-\\x7F]"
    flags = "(?i)" if ci else ""
    return (
        f"CAST(regexp_like({a[0]}, "
        f"'{flags}(^|{sep}){needle}({sep}|$)') AS INT)"
    )


def _to_start_of_second_expr(a: list[str], ap: list[list[str]]) -> str:
    """toStartOfSecond(dt64[, tz]) -> same-scale DateTime64 with the
    fraction zeroed (src/Functions/toStartOfSecond.cpp).  Only
    DateTime64 is legal (error 43); a tz argument re-bases the wall
    clock from the value's zone (or the server zone) into tz."""
    if len(a) not in (1, 2):
        raise DialectError("toStartOfSecond: wrong number of args (42)")
    if len(a) == 2:
        t1 = _strip_outer_parens_text(a[1])
        if not (t1.startswith("'") and t1.endswith("'")):
            raise DialectError(
                "toStartOfSecond: timezone must be a const string (43)"
            )
    env = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
    t0 = _ch_type_of(ap[0], env) if ap and ap[0] else None
    mm = re.fullmatch(
        r"(?:Nullable\()?DateTime64\((\d+)(?:\s*,\s*'([^']*)')?\)\)?",
        t0 or "",
    )
    if not mm:
        raise DialectError("toStartOfSecond: illegal argument type (43)")
    scale, src_tz = int(mm.group(1)), mm.group(2)
    sec = f"substring(CAST({a[0]} AS STRING), 1, 19)"
    if len(a) == 2:
        dst = _strip_outer_parens_text(a[1])[1:-1]
        sec = (
            f"date_format(from_utc_timestamp(to_utc_timestamp("
            f"CAST({sec} AS TIMESTAMP), '{src_tz or _SERVER_TZ}'), "
            f"'{dst}'), 'yyyy-MM-dd HH:mm:ss')"
        )
    if scale:
        return f"concat({sec}, '.{'0' * scale}')"
    return sec


def _parse_dt64_best_effort(a: list[str], kind: str) -> str:
    """parseDateTime64BestEffort[OrNull|OrZero](str[, scale[, tz]]) ->
    scale-rendered wall-clock string (FunctionsConversion.h).  Errors
    match the reference: wrong arity 42, wrong argument types 43,
    non-const precision/zone 44, unknown zone 1000, unparseable 41."""
    if not 1 <= len(a) <= 3:
        raise DialectError("parseDateTime64BestEffort: wrong arity")
    scale = 3
    if len(a) >= 2:
        if "materialize" in a[1]:
            raise DialectError(
                "parseDateTime64BestEffort: precision must be const (44)"
            )
        s1 = a[1].strip().strip("()").strip()
        if not re.fullmatch(r"[0-9]+", s1) or int(s1) > 9:
            raise DialectError(
                "parseDateTime64BestEffort: invalid precision (43)"
            )
        scale = int(s1)
    tz = None
    if len(a) == 3:
        if "materialize" in a[2]:
            raise DialectError(
                "parseDateTime64BestEffort: timezone must be const (44)"
            )
        t2 = a[2].strip()
        if not (t2.startswith("'") and t2.endswith("'")):
            raise DialectError(
                "parseDateTime64BestEffort: timezone must be a string (43)"
            )
        tz = t2[1:-1]
        import zoneinfo

        try:
            zoneinfo.ZoneInfo(tz)
        except Exception:
            raise DialectError(
                f"parseDateTime64BestEffort: unknown timezone {tz!r} (1000)"
            )
    x = a[0].strip()
    core = x
    if core.lower().startswith("materialize(") and core.endswith(")"):
        core = core[len("materialize("):-1].strip()
    if not core.startswith("'"):
        # a numeric or otherwise non-string literal argument is type
        # error 43; non-literal expressions get a runtime formatting
        if re.fullmatch(r"-?[0-9.]+", core):
            raise DialectError(
                "parseDateTime64BestEffort: argument must be a string (43)"
            )
        frac9 = ("." + "S" * min(scale, 6) + "0" * max(0, scale - 6)) if (
            scale
        ) else ""
        wall9 = f"try_cast({a[0]} AS TIMESTAMP)"
        if tz and tz != "UTC":
            wall9 = f"from_utc_timestamp({wall9}, '{tz}')"
        fmt9 = f"date_format({wall9}, 'yyyy-MM-dd HH:mm:ss{frac9}')"
        if kind == "null":
            return fmt9
        if kind == "zero":
            zero9 = "1970-01-01 00:00:00" + (
                "." + "0" * scale if scale else ""
            )
            return f"coalesce({fmt9}, '{zero9}')"
        return (
            f"coalesce({fmt9}, raise_error('parseDateTime64BestEffort: "
            f"cannot parse (41)'))"
        )
    if not core.endswith("'"):
        raise DialectError("parseDateTime64BestEffort: bad literal")
    out = _best_effort_parse_py(core[1:-1], scale, tz)
    if out is None:
        if kind == "null":
            return "CAST(NULL AS STRING)"
        if kind == "zero":
            return "'1970-01-01 00:00:00" + (
                "." + "0" * scale + "'" if scale else "'"
            )
        raise DialectError(
            "parseDateTime64BestEffort: cannot parse (41)"
        )
    return f"'{out}'"


def _tuple_of_arrays(t: str | None) -> tuple[str, str] | None:
    """Split 'Tuple(Array(K), Array(V))' into (K, V), paren-aware
    (K/V may nest parens, e.g. Enum16('a' = 1))."""
    if not t or not t.startswith("Tuple(") or not t.endswith(")"):
        return None
    inner, cut, parts = t[6:-1], 0, []
    for j, ch in _top_level(inner, brackets="("):
        if ch == ",":
            parts.append(inner[cut:j].strip())
            cut = j + 1
    if inner[cut:].strip():
        parts.append(inner[cut:].strip())
    if len(parts) != 2:
        return None
    if not all(p.startswith("Array(") and p.endswith(")") for p in parts):
        return None
    return parts[0][6:-1], parts[1][6:-1]


def _num_class(t: str | None) -> str | None:
    t = _ch_unwrap(t or "")
    t = re.sub(r"^LowCardinality\((.*)\)$", r"\1", t)
    if t.startswith("UInt"):
        return "uint"
    if t.startswith("Int"):
        return "int"
    if t.startswith("Float"):
        return "float"
    if t:
        return "other"
    return None


def _map_add_sub_expr(
    a: list[str], ap: list[list[str]], subtract: bool
) -> str:
    """mapAdd / mapSubtract over N (keys, values) tuples: per-row merge
    with summed (or first-minus-rest) values
    (src/Functions/array/mapOp.cpp).  Key types must agree exactly;
    value types must share a sign class and promote to
    UInt64/Int64/Float64 (UInt64 wraps modulo 2^64)."""
    if len(a) < 2:
        raise DialectError("mapAdd: at least two map arguments (42)")
    env9 = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
    kts, vts = [], []
    for p in ap:
        t9 = None
        try:
            t9 = _ch_type_of(p, env9)
        except Exception:  # noqa: BLE001
            t9 = None
        if t9 and re.sub(r"\s+", "", t9).lower().startswith("struct<"):
            from daisy_spark.chsyntax import spark_to_ch as _s2c9

            t9 = _s2c9(re.sub(r"\s+", "", t9))
        pair9 = _tuple_of_arrays(t9)
        if t9 and "?" not in t9 and pair9 is None:
            raise DialectError("mapAdd: arguments must be maps (42)")
        kts.append(pair9[0] if pair9 else None)
        vts.append(pair9[1] if pair9 else None)
        # a literal (keys, vals) tuple with unequal array lengths is
        # the reference's error 42
        if (
            len(p) >= 2 and p[0] == "(" and p[-1] == ")"
        ):
            parts9 = _split_top(p[1:-1], ",")
            if len(parts9) == 2 and all(
                q and q[0] == "[" and q[-1] == "]" for q in parts9
            ):
                n1 = len([x for x in _split_top(parts9[0][1:-1], ",") if x])
                n2 = len([x for x in _split_top(parts9[1][1:-1], ",") if x])
                if n1 != n2:
                    raise DialectError("mapAdd: array size mismatch (42)")
    kk = [t for t in kts if t]
    vk = [t for t in vts if t]
    if kk and any(_num_class(t) == "float" for t in kk):
        raise DialectError("mapAdd: float keys are not supported (44)")

    def _base9(t: str) -> str:
        b = re.sub(r"^LowCardinality\((.*)\)$", r"\1", _ch_unwrap(t))
        # script-table envs are sign-lossy (Spark bigint == Int64 for a
        # true UInt64), so integer keys compare by WIDTH — every
        # reference error case differs in width, not just sign
        m9 = re.fullmatch(r"U?Int(\d+)", b)
        return f"int{m9.group(1)}" if m9 else b

    if len({_base9(t) for t in kk}) > 1:
        raise DialectError("mapAdd: key types differ (43)")
    vcls = {_num_class(t) for t in vk}
    if len(vcls) > 1:
        raise DialectError("mapAdd: value types differ (43)")
    cls9 = next(iter(vcls), None) or "int"
    if cls9 == "float":
        acc_t, conv = "DOUBLE", "CAST({v} AS DOUBLE)"
    else:
        acc_t, conv = "BIGINT", "CAST({v} AS BIGINT)"
    pairs9 = []
    for ix, t9 in enumerate(a):
        sg = "- " if subtract and ix > 0 else ""
        pairs9.append(
            f"zip_with(({t9}).col1, ({t9}).col2, "
            f"(__mk, __mv) -> struct(__mk AS k, "
            f"{sg}{conv.format(v='__mv')} AS v))"
        )
    all9 = "concat(" + ", ".join(pairs9) + ")"
    ks9 = f"array_sort(array_distinct(transform({all9}, __p -> __p.k)))"
    per9 = (
        f"aggregate(filter({all9}, __p -> __p.k <=> __mkk), "
        f"CAST(0 AS {acc_t}), (__a, __p) -> __a + __p.v)"
    )
    if cls9 == "uint":
        per9 = f"CAST(pmod({per9}, 18446744073709551616) AS DECIMAL(20, 0))"
    return (
        f"struct({ks9} AS col1, "
        f"transform({ks9}, __mkk -> {per9}) AS col2)"
    )


def _agg_map_expr(
    a: list[str], ap: list[list[str]], fn: str, overflow: bool = False
) -> str:
    """minMap/maxMap/sumMap(keys, vals | (keys, vals)) as a real
    aggregate (AggregateFunctionSumMap.h): per distinct key, fold the
    values across rows; NULL values are skipped; sumMap drops zero
    totals; min/max keep the key with the type default when every
    value was NULL (the 01422 skip-null contract).  Lowered to
    collect_list + higher-order functions so it stays codegen-friendly
    and needs no UDAF."""
    env9 = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
    if len(a) == 1:
        at9 = None
        try:
            at9 = _ch_type_of(ap[0], env9) if ap else None
        except Exception:  # noqa: BLE001
            at9 = None
        if at9 and "Nothing" in at9:
            raise DialectError(f"{fn}Map: values of type Nothing (43)")
        k9, v9 = f"({a[0]}).col1", f"({a[0]}).col2"
        nullable = "null" in a[0].lower() or "Nullable" in (at9 or "")
        vet9 = None
        if at9 and at9.startswith("Tuple("):
            parts9t = _split_top(tokenize(at9[6:-1]), ",")
            if len(parts9t) == 2:
                vet9 = _emit(parts9t[1]).replace(" ", "")
    elif len(a) == 2:
        vt9 = None
        try:
            vt9 = _ch_type_of(ap[1], env9) if len(ap) > 1 else None
        except Exception:  # noqa: BLE001
            vt9 = None
        if vt9 and "Nothing" in vt9:
            raise DialectError(f"{fn}Map: values of type Nothing (43)")
        k9, v9 = a[0], a[1]
        nullable = "null" in a[1].lower() or "Nullable" in (vt9 or "")
        vet9 = (vt9 or "").replace(" ", "")
        vet9 = vet9[6:-1] if vet9.startswith("Array(") else None
    else:
        raise DialectError(f"{fn}Map: wrong number of arguments")
    ks9 = f"array_sort(array_distinct(flatten(collect_list({k9}))))"
    pairs9 = (
        f"zip_with(flatten(collect_list({k9})), "
        f"flatten(collect_list({v9})), "
        f"(__mk, __mv) -> struct(__mk AS k, __mv AS v))"
    )
    vk9 = (
        f"transform(filter({pairs9}, __p -> __p.k <=> __mkk "
        f"AND __p.v IS NOT NULL), __p -> __p.v)"
    )
    if fn == "sum":
        # accumulator type follows the value element type: Decimal
        # keeps its scale (promoted to the wide class), floats sum as
        # DOUBLE, integers as BIGINT (AggregateFunctionSumMap.h)
        ve9 = _ch_unwrap(vet9) if vet9 else ""
        md9 = re.fullmatch(
            r"Decimal(?:32|64|128|256)?\((?:(\d+),\s*)?(\d+)\)", ve9
        )
        if md9:
            acc9 = f"DECIMAL(38, {md9.group(2)})"
        elif ve9.startswith("Float"):
            acc9 = "DOUBLE"
        else:
            acc9 = "BIGINT"
        per9 = (
            f"aggregate({vk9}, CAST(0 AS {acc9}), "
            f"(__a, __x) -> __a + CAST(__x AS {acc9}))"
        )
        if overflow and re.fullmatch(r"U?Int(8|16|32)", ve9):
            # -WithOverflow keeps the ARGUMENT type: wrap modulo 2^bits
            bits9 = int(re.sub(r"\D", "", ve9))
            m9 = 1 << bits9
            if ve9.startswith("U"):
                per9 = f"pmod({per9}, {m9})"
            else:
                h9 = m9 >> 1
                per9 = f"(pmod(({per9}) + {h9}, {m9}) - {h9})"
        sums9 = f"transform({ks9}, __mkk -> {per9})"
        keep9 = (
            f"filter(zip_with({ks9}, {sums9}, "
            f"(__zk, __zv) -> struct(__zk AS k, __zv AS v)), "
            f"__z -> __z.v <> 0)"
        )
        return (
            f"struct(transform({keep9}, __z -> __z.k) AS col1, "
            f"transform({keep9}, __z -> __z.v) AS col2)"
        )
    base9 = f"array_{fn}({vk9})"
    per9 = f"coalesce({base9}, 0)" if nullable else base9
    return (
        f"struct({ks9} AS col1, "
        f"transform({ks9}, __mkk -> {per9}) AS col2)"
    )


#: bigint sign bit: XOR-flipping it maps UNSIGNED order onto signed
#: order, so array_sort/min/max/comparisons run in roaring's value space
_BM_SIGN = "-9223372036854775808"

#: the bitmap family (src/Functions/FunctionsBitmap.h + the groupBitmap
#: aggregates).  A bitmap value here is an ARRAY<BIGINT> holding the set
#: in unsigned ascending order: widths <=32 store wrapped modulo
#: 2^width (always non-negative), 64-bit values keep two's complement
#: and every ordered operation flips the sign bit first.
_BITMAP_FUNCS = {
    "bitmapBuild", "bitmapToArray", "bitmapAnd", "bitmapOr", "bitmapXor",
    "bitmapAndnot", "bitmapCardinality", "bitmapAndCardinality",
    "bitmapOrCardinality", "bitmapXorCardinality",
    "bitmapAndnotCardinality", "bitmapHasAny", "bitmapHasAll",
    "bitmapContains", "bitmapSubsetInRange", "bitmapSubsetLimit",
    "subBitmap", "bitmapMin", "bitmapMax", "bitmapTransform",
    "groupBitmap", "groupBitmapState", "groupBitmapMerge",
    "groupBitmapMergeState", "groupBitmapOr", "groupBitmapOrState",
    "groupBitmapAnd", "groupBitmapAndState", "groupBitmapXor",
    "groupBitmapXorState",
}


def _seq1(n: str) -> str:
    """``sequence(1, n)`` that is EMPTY for n < 1 (Spark's sequence
    COUNTS DOWN when stop < start — sequence(1, 0) is [1, 0], whose 0
    blows up element_at on empty arrays)."""
    return f"IF(({n}) < 1, array(), sequence(1, {n}))"


def _zip_arrays_struct(a: list[str]) -> str:
    """Zip N parallel arrays into one array of position structs."""
    fields = ", ".join(
        f"element_at({x}, CAST(__zi AS INT)) AS f{k}"
        for k, x in enumerate(a)
    )
    return (
        f"transform({_seq1(f'size({a[0]})')}, __zi -> struct({fields}))"
    )


def _bm_sort(arr: str) -> str:
    """Sort a bitmap array in UNSIGNED ascending order."""
    return (
        f"transform(array_sort(transform({arr}, "
        f"__bs -> __bs ^ {_BM_SIGN})), __bs -> __bs ^ {_BM_SIGN})"
    )


def _bm_mask(x: str, ch: str | None) -> str:
    """One set element -> its unsigned-bitmap bigint form: <=32-bit
    source types wrap modulo 2^width (AggregateFunctionGroupBitmapData
    stores UnsignedT); unknown / 64-bit keeps two's complement."""
    m = re.search(r"(?:UInt|Int)(8|16|32)\b", _ch_unwrap(ch or ""))
    if m:
        return f"(CAST({x} AS BIGINT) & {(1 << int(m.group(1))) - 1})"
    return f"CAST({x} AS BIGINT)"


def _bitmap_expr(t: str, a: list[str], ap: list[list[str]]) -> str:
    """ClickHouse bitmap family over sorted-unsigned BIGINT arrays
    (src/Functions/FunctionsBitmap.h; roaring semantics per
    src/AggregateFunctions/AggregateFunctionGroupBitmapData.h).  Set
    algebra lowers to Spark's array_* built-ins (JVM-side, codegen);
    the group aggregates lower to collect_list folds."""
    env = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT

    def _cht(ix: int) -> str | None:
        if len(ap) > ix and ap[ix]:
            try:
                return _ch_type_of(ap[ix], env)
            except Exception:  # noqa: BLE001
                return None
        return None

    def _elem(ix: int) -> str | None:
        ch = _cht(ix)
        if ch:
            m = re.fullmatch(
                r"AggregateFunction\(\s*groupBitmap\s*,\s*(.+)\)", ch
            )
            if m:
                return m.group(1).strip()
            if ch.startswith("Array("):
                return ch[6:-1]
        return None

    if t == "bitmapBuild":
        return _bm_sort(
            f"array_distinct(transform({a[0]}, "
            f"__bv -> {_bm_mask('__bv', _elem(0))}))"
        )
    if t == "bitmapToArray":
        return a[0]
    if t == "bitmapAnd":
        # array_intersect keeps the (sorted) left argument's order
        return f"array_intersect({a[0]}, {a[1]})"
    if t == "bitmapOr":
        return _bm_sort(f"array_union({a[0]}, {a[1]})")
    if t == "bitmapXor":
        return _bm_sort(
            f"array_union(array_except({a[0]}, {a[1]}), "
            f"array_except({a[1]}, {a[0]}))"
        )
    if t == "bitmapAndnot":
        return f"array_except({a[0]}, {a[1]})"
    if t == "bitmapCardinality":
        return f"CAST(size({a[0]}) AS BIGINT)"
    if t.startswith("bitmap") and t.endswith("Cardinality"):
        op = t[len("bitmap"):-len("Cardinality")]
        return f"CAST(size({_bitmap_expr('bitmap' + op, a, ap)}) AS BIGINT)"
    if t == "bitmapHasAny":
        return f"CAST(arrays_overlap({a[0]}, {a[1]}) AS INT)"
    if t == "bitmapHasAll":
        return f"CAST(size(array_except({a[1]}, {a[0]})) = 0 AS INT)"
    if t == "bitmapContains":
        return (
            f"CAST(array_contains({a[0]}, "
            f"{_bm_mask(a[1], _cht(1))}) AS INT)"
        )
    if t in ("bitmapSubsetInRange", "bitmapSubsetLimit"):
        lo = f"(CAST({a[1]} AS BIGINT) ^ {_BM_SIGN})"
        kept = f"filter({a[0]}, __bv -> (__bv ^ {_BM_SIGN}) >= {lo})"
        if t == "bitmapSubsetInRange":
            hi = f"(CAST({a[2]} AS BIGINT) ^ {_BM_SIGN})"
            return (
                f"filter({kept}, __bw -> (__bw ^ {_BM_SIGN}) < {hi})"
            )
        return f"slice({kept}, 1, greatest(CAST({a[2]} AS INT), 0))"
    if t == "subBitmap":
        return (
            f"slice({a[0]}, CAST({a[1]} AS INT) + 1, "
            f"greatest(CAST({a[2]} AS INT), 0))"
        )
    if t in ("bitmapMin", "bitmapMax"):
        fn = "array_min" if t == "bitmapMin" else "array_max"
        flip = f"transform({a[0]}, __bv -> __bv ^ {_BM_SIGN})"
        v = f"({fn}({flip}) ^ {_BM_SIGN})"
        # render in roaring's unsigned space; empty set -> 0 (rb_min /
        # rb_max both return 0 on an empty small-set)
        return (
            f"CAST(pmod(CAST(coalesce({v}, 0) AS DECIMAL(21, 0)), "
            f"CAST(18446744073709551616 AS DECIMAL(21, 0))) "
            f"AS DECIMAL(20, 0))"
        )
    if t == "bitmapTransform":
        remap = (
            f"map_from_arrays("
            f"transform({a[1]}, __bf -> CAST(__bf AS BIGINT)), "
            f"transform({a[2]}, __bt -> CAST(__bt AS BIGINT)))"
        )
        return _bm_sort(
            f"array_distinct(transform({a[0]}, "
            f"__bv -> coalesce(element_at({remap}, __bv), __bv)))"
        )
    # ---- aggregates ----
    if t == "groupBitmap":
        return f"count(DISTINCT {_bm_mask(a[0], _cht(0))})"
    if t == "groupBitmapState":
        return _bm_sort(
            f"array_distinct(collect_list({_bm_mask(a[0], _cht(0))}))"
        )
    if t in ("groupBitmapMerge", "groupBitmapOr"):
        return (
            f"CAST(size(array_distinct(flatten("
            f"collect_list({a[0]})))) AS BIGINT)"
        )
    if t in ("groupBitmapMergeState", "groupBitmapOrState"):
        return _bm_sort(f"array_distinct(flatten(collect_list({a[0]})))")
    # And / Xor fold pairwise across the group's bitmaps
    comb = (
        "array_intersect(__ba, __bx)" if "And" in t else
        "array_union(array_except(__ba, __bx), array_except(__bx, __ba))"
    )
    fold = (
        f"aggregate(collect_list({a[0]}), CAST(NULL AS ARRAY<BIGINT>), "
        f"(__ba, __bx) -> CASE WHEN __ba IS NULL THEN __bx "
        f"ELSE {comb} END)"
    )
    arr = f"coalesce({fold}, array())"
    if t.endswith("State"):
        return _bm_sort(arr)
    return f"CAST(size({arr}) AS BIGINT)"


def _map_populate_series_expr(a: list[str], ap: list[list[str]]) -> str:
    """mapPopulateSeries(keys, vals[, max]) -> Tuple(Array, Array):
    result keys run min(keys)..max(max(keys), max) step 1; values fill
    from the input map, 0 where missing
    (src/Functions/array/mapPopulateSeries.cpp).  The max argument must
    be typed exactly like the key elements (error 43), and a span past
    the reference's array-size cap raises (error 128)."""
    if len(a) not in (2, 3):
        raise DialectError("mapPopulateSeries: wrong number of arguments")
    env9 = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
    kt9 = _ch_type_of(ap[0], env9) if ap else None
    el9 = None
    if kt9 and kt9.startswith("Array(") and "?" not in kt9:
        el9 = kt9[6:-1]
        if not _ch_unwrap(el9).startswith(("UInt", "Int")):
            raise DialectError("mapPopulateSeries: keys must be integers")
    # literal-vs-literal length mismatch is a translate-time error 42
    def _is_arr_lit9(ts: list[str]) -> bool:
        if not ts or ts[0] != "[" or ts[-1] != "]":
            return False
        d9 = 0
        for q9, tk9 in enumerate(ts):
            if tk9 in ("(", "["):
                d9 += 1
            elif tk9 in (")", "]"):
                d9 -= 1
                if d9 == 0 and q9 != len(ts) - 1:
                    return False
        return d9 == 0

    if _is_arr_lit9(ap[0]) and _is_arr_lit9(ap[1]):
        nk9 = len([p for p in _split_top(ap[0][1:-1], ",") if p])
        nv9 = len([p for p in _split_top(ap[1][1:-1], ",") if p])
        if nk9 != nv9:
            raise DialectError("mapPopulateSeries: array size mismatch")
    if len(a) == 3 and el9:
        # the max key must be typed exactly like the key elements; our
        # env keeps lossy (signless) types for script-created tables, so
        # compare BIT WIDTH, which every reference case discriminates on
        # (1000 infers UInt16 vs UInt64 keys -> error 43)
        def _width9(tn: str | None) -> int | None:
            mo9 = re.fullmatch(r"U?Int(\d+)", _ch_unwrap(tn or ""))
            return int(mo9.group(1)) if mo9 else None

        mt9 = _ch_type_of(ap[2], env9)
        wk9, wm9 = _width9(el9), _width9(mt9)
        if wk9 and wm9 and wk9 != wm9:
            raise DialectError(
                "mapPopulateSeries: max must match the key type"
            )
    k9, v9 = a[0], a[1]
    mn9 = f"array_min({k9})"
    # an explicit max CAPS the range at exactly max (keys above it are
    # dropped); only without it does the range end at max(keys)
    mx9 = f"({a[2]})" if len(a) == 3 else f"array_max({k9})"
    # lazily-evaluated CASE: the raise_error branch is the reference's
    # TOO_LARGE_ARRAY_SIZE (128) cap; max < min yields the empty map
    keys9 = (
        f"CASE WHEN {mx9} < {mn9} THEN slice(array({mn9}), 1, 0) "
        f"WHEN {mx9} = {mn9} THEN array({mn9}) "
        f"WHEN CAST({mx9} AS DOUBLE) - CAST({mn9} AS DOUBLE) > 1000000.0 "
        f"THEN array(CAST(raise_error('mapPopulateSeries: too large "
        f"array (128)') AS BIGINT)) "
        f"ELSE sequence(CAST({mn9} AS BIGINT), CAST({mx9} AS BIGINT)) END"
    )
    vals9 = (
        f"transform({keys9}, __mpk -> IF(array_position({k9}, __mpk) > 0, "
        f"element_at({v9}, CAST(array_position({k9}, __mpk) AS INT)), 0))"
    )
    return (
        f"IF(size({k9}) = 0, struct(slice({k9}, 1, 0), slice({v9}, 1, 0)), "
        f"struct({keys9}, {vals9}))"
    )


def _port_expr(a: list[str]) -> str:
    """port(url[, default]): port of the URL's host; the host must
    look like a dotted domain / IPv4 (getURLHost: bracketed IPv6 and
    dot-less hosts yield 0 — the reference documents the same
    limitation in 01284_port)."""
    if len(a) > 2:
        raise DialectError("port: wrong number of arguments")
    # the default must arrive typed UInt16 (error 43 otherwise).  A bare
    # integer literal infers the NARROWEST unsigned type: 0..255 ->
    # UInt8 (rejected), 256..65535 -> UInt16 (accepted), wider -> UInt32+
    # (rejected).
    if len(a) == 2 and re.fullmatch(r"[0-9]+", a[1].strip()):
        lit16 = int(a[1].strip())
        if not (256 <= lit16 <= 65535):
            raise DialectError("port: default must be UInt16")
    if re.search(r"FixedString|rpad\(", a[0] or ""):
        raise DialectError("port: FixedString argument")
    dflt = a[1] if len(a) == 2 else "0"
    pat = (
        "'^(?:[A-Za-z][A-Za-z0-9+.-]*:)?(?://)?(?:[^/?#@]*@)?"
        "[A-Za-z0-9-]+(\\\\.[A-Za-z0-9-]+)+:([0-9]+)([/?#].*)?$'"
    )
    return (
        f"CAST(coalesce(CAST(nullif(regexp_extract({a[0]}, {pat}, 2), "
        f"'') AS INT), {dflt}) AS INT)"
    )


#: minimal reference error-code registry (src/Common/ErrorCodes.cpp);
#: gaps and out-of-range codes render as empty string
_CH_ERROR_CODE_NAMES = {0: "OK", 1: "UNSUPPORTED_METHOD"}


def _error_code_to_name_expr(a: list[str]) -> str:
    cases = " ".join(
        f"WHEN {k} THEN '{v}'" for k, v in _CH_ERROR_CODE_NAMES.items()
    )
    return f"(CASE CAST({a[0]} AS BIGINT) {cases} ELSE '' END)"


#: integer bounds for accurateCast range checks (wide types map to
#: DECIMAL(38,0) so 128/256-bit bounds clamp at the decimal ceiling)
_ACC_INT_BOUNDS = {
    "UInt8": (0, 255), "UInt16": (0, 65535), "UInt32": (0, 4294967295),
    "UInt64": (0, 18446744073709551615),
    "UInt128": (0, 10**38 - 1), "UInt256": (0, 10**38 - 1),
    "Int8": (-128, 127), "Int16": (-32768, 32767),
    "Int32": (-2147483648, 2147483647),
    "Int64": (-9223372036854775808, 9223372036854775807),
    "Int128": (-(10**38 - 1), 10**38 - 1),
    "Int256": (-(10**38 - 1), 10**38 - 1),
}


def _accurate_cast_expr(a: list[str], or_null: bool) -> str:
    """accurateCast / accurateCastOrNull (FunctionsConversion.h):
    bounds-checked cast — out-of-range / unrepresentable values raise
    (accurateCast) or yield NULL (accurateCastOrNull)."""
    if len(a) != 2:
        raise DialectError("accurateCast: needs 2 arguments")
    tgt = a[1].strip()
    if not (tgt.startswith("'") and tgt.endswith("'")):
        raise DialectError("accurateCast: type must be a constant string")
    ch_t = tgt[1:-1]
    x = a[0]
    fail = (
        "NULL" if or_null
        else f"raise_error('accurateCast: value out of range of {ch_t}')"
    )
    if ch_t in _ACC_INT_BOUNDS:
        lo, hi = _ACC_INT_BOUNDS[ch_t]
        st, _ = _map_type(tokenize(ch_t), 0)
        xd = f"CAST({x} AS DOUBLE)"
        ok = (
            f"({xd} IS NOT NULL AND NOT isnan({xd}) "
            f"AND {xd} >= {float(lo)!r} AND {xd} <= {float(hi)!r} "
            f"AND CAST({x} AS DECIMAL(38, 0)) BETWEEN {lo} AND {hi})"
        )
        return f"IF({ok}, CAST({x} AS {st}), {fail})"
    m9 = re.match(r"Decimal(32|64|128|256)\((\d+)\)$", ch_t)
    if m9:
        # the reference range-checks against the UNDERLYING integer
        # width (Int32/Int64/Int128), not 10^precision: 1 fits in
        # Decimal32(9) because 1e9 <= 2^31-1
        under = {
            "32": 2**31 - 1, "64": 2**63 - 1,
            "128": 2**127 - 1, "256": 2**255 - 1,
        }[m9.group(1)]
        scale = int(m9.group(2))
        ok = (
            f"(abs(CAST({x} AS DOUBLE)) * CAST(pow(10, {scale}) "
            f"AS DOUBLE) <= {float(under)!r})"
        )
        st = f"DECIMAL({min(scale + 10, 38)}, {min(scale, 37)})"
        return f"IF({ok}, CAST({x} AS {st}), {fail})"
    m9 = re.match(r"FixedString\((\d+)\)$", ch_t)
    if m9:
        n = int(m9.group(1))
        ok = f"(length(CAST({x} AS STRING)) <= {n})"
        val = f"rpad(CAST({x} AS STRING), {n}, chr(0))"
        return f"IF({ok}, {val}, {fail})"
    if ch_t in ("Float32", "Float64", "String", "Date", "DateTime"):
        st, _ = _map_type(tokenize(ch_t), 0)
        if or_null:
            return f"try_cast({x} AS {st})"
        return (
            f"coalesce(CAST({x} AS {st}), "
            f"IF({x} IS NULL, NULL, raise_error('accurateCast failed')))"
        )
    raise DialectError(f"accurateCast: unsupported target type {ch_t}")


_UUID_RE_SQL = (
    "'^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$'"
)


def _mjd_to_expr(a: list[str], or_null: bool) -> str:
    """toModifiedJulianDay[OrNull]: days since 1858-11-17 of a date
    given as String (src/Functions/toModifiedJulianDay.cpp); invalid
    dates raise / NULL."""
    s = f"TRIM(TRAILING chr(0) FROM CAST({a[0]} AS STRING))"
    d = (
        f"IF({s} RLIKE '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$', "
        f"try_to_date({s}, 'yyyy-MM-dd'), NULL)"
    )
    val = f"CAST(datediff({d}, DATE '1858-11-17') AS INT)"
    if or_null:
        return val
    return (
        f"IF({a[0]} IS NULL, NULL, IF({d} IS NULL, "
        f"CAST(raise_error('toModifiedJulianDay: cannot parse date') "
        f"AS INT), {val}))"
    )


def _mjd_from_expr(a: list[str], or_null: bool) -> str:
    """fromModifiedJulianDay[OrNull]: MJD number -> date string; the
    reference's valid range is [-678941, 2973483] (error 490
    outside)."""
    n = f"CAST({a[0]} AS BIGINT)"
    ok = f"({n} BETWEEN -678941 AND 2973483)"
    # Spark dates clamp at year 1/9999 — the render path only needs
    # the in-range corpus values; out-of-Spark-range stays NULL
    val = f"date_format(date_add(DATE '1858-11-17', CAST({a[0]} AS INT)), 'yyyy-MM-dd')"
    if or_null:
        return f"IF({ok}, {val}, NULL)"
    return (
        f"IF({a[0]} IS NULL, NULL, IF({ok}, {val}, "
        f"raise_error('fromModifiedJulianDay: day number out of range')))"
    )


FUNC_MAP: dict[str, object] = {
    # arithmetic / comparison / logic
    "plus": "({0} + {1})", "minus": "({0} - {1})", "multiply": "({0} * {1})",
    # intDiv accepts floats in the reference (truncates toward zero, like
    # C++ integer division); double-divide + BIGINT cast matches for both
    # numeric kinds (exactness loss only beyond 2^53)
    "divide": "(CAST({0} AS DOUBLE) / {1})",
    "intDiv": lambda a: _int_div_expr(a, or_zero=False),
    "if": lambda a: f"IF(CAST({a[0]} AS BOOLEAN), {a[1]}, {a[2]})",
    "modulo": "({0} % {1})", "negate": "(-{0})",
    "equals": "({0} = {1})", "notEquals": "({0} <> {1})",
    "less": "({0} < {1})", "greater": "({0} > {1})",
    "lessOrEquals": "({0} <= {1})", "greaterOrEquals": "({0} >= {1})",
    # logical functions are n-ary in the reference, with numeric
    # truthiness (nonzero = true)
    "and": lambda a: "(" + " AND ".join(_bool(x) for x in a) + ")",
    "or": lambda a: "(" + " OR ".join(_bool(x) for x in a) + ")",
    "not": lambda a: f"(NOT {_bool(a[0])})",
    "xor": lambda a: (
        "(("
        + " + ".join(f"CAST({_bool(x)} AS INT)" for x in a)
        + ") % 2 = 1)"
    ),
    # conditionals
    "multiIf": _multi_if, "ifNull": "coalesce({0}, {1})",
    "nullIf": "nullif({0}, {1})", "assumeNotNull": "{0}",
    # coalesce() with no/only-NULL args is legal in the reference
    "coalesce": lambda a: (
        "NULL" if not a or not any(x.strip() for x in a)
        else f"coalesce({', '.join(a)})"
    ),
    "ifNotFinite": "(CASE WHEN isnan({0}) OR {0} = double('inf') OR {0} = double('-inf') THEN {1} ELSE {0} END)",
    "isNull": "({0} IS NULL)", "isNotNull": "({0} IS NOT NULL)",
    # number classification — UInt8 0/1 like the reference, so results
    # compare against integer literals (isFinite(x) = 1)
    "isNaN": "CAST(isnan(CAST({0} AS DOUBLE)) AS INT)",
    "isFinite": (
        "(CASE WHEN isnan(CAST({0} AS DOUBLE)) "
        "OR abs(CAST({0} AS DOUBLE)) = double('inf') THEN 0 ELSE 1 END)"
    ),
    "isInfinite": (
        "(CASE WHEN abs(CAST({0} AS DOUBLE)) = double('inf') THEN 1 ELSE 0 END)"
    ),
    # composite renders: no space after commas, tuples use parens
    "visibleWidth": lambda a: (
        f"length(replace(CAST({a[0]} AS STRING), ', ', ','))"
        if _is_arrayish(a[0])
        else (
            f"length(translate(replace(CAST({a[0]} AS STRING), ', ', ','), "
            f"'{{}}', '()'))"
        )
        if a[0].replace(" ", "").startswith("named_struct(")
        else f"length(CAST({a[0]} AS STRING))"
    ),
    # empty/notEmpty see FixedString \0 padding as emptiness; array
    # arguments (arrayish text or known array-typed script column) test
    # size instead
    "empty": lambda a: (
        f"(size({a[0]}) = 0)"
        if _is_arrayish(a[0])
        else f"(coalesce(length(TRIM(TRAILING chr(0) FROM {a[0]})), 0) = 0)"
    ),
    "notEmpty": lambda a: (
        f"(size({a[0]}) > 0)"
        if _is_arrayish(a[0])
        else f"(coalesce(length(TRIM(TRAILING chr(0) FROM {a[0]})), 0) > 0)"
    ),
    # no-op wrappers (materialization/nullability are physical concepts
    # the reference exposes; Spark's optimizer owns both)
    "materialize": "{0}", "toNullable": "{0}", "assumeNotNullSafe": "{0}",
    # FixedString(n) is \0-padded to its width (DataTypeFixedString)
    # a BINARY producer stays binary (casting to STRING would mangle
    # non-UTF8 bytes); rpad handles (BINARY, INT, BINARY) natively
    "toFixedString": lambda a: (
        f"rpad({a[0]}, {a[1]}, X'00')"
        if re.match(
            r"(?i)\s*(unhex|ch_uuid_mem|ch_uuid_string_to_num|"
            r"ch_binrev|ch_ipv6_ston)\s*\(", a[0]
        )
        else f"rpad(CAST({a[0]} AS STRING), {a[1]}, chr(0))"
    ),
    "toLowCardinality": "{0}", "identity": "{0}",
    "ignore": lambda a: "0",
    # sleep caps at 3 seconds (FunctionsMiscellaneous sleep: TOO_SLOW
    # error 160 beyond it); the wait happens at translate time so
    # now()-relative data actually ages (00746)
    "sleep": lambda a: (
        _raise_dialect("sleep: too long")
        if re.fullmatch(r"[0-9.]+[DF]?", a[0].strip().strip("()"))
        and float(a[0].strip().strip("()").rstrip("DF")) > 3.0
        else _sleep_then_zero(a[0])
    ),
    "sleepEachRow": lambda a: (
        _raise_dialect("sleepEachRow: too long")
        if re.fullmatch(r"[0-9.]+[DF]?", a[0].strip().strip("()"))
        and float(a[0].strip().strip("()").rstrip("DF")) > 3.0
        else "0"
    ),
    "arrayWithConstant": "array_repeat({1}, CAST({0} AS INT))",
    # exists+equality instead of array_contains/overlap: comparison
    # coercion reconciles struct element types (Int32 vs Int64 fields)
    # that the array-function checker rejects in legacy mode
    "hasAny": "exists({1}, __ha -> exists({0}, __hb -> __hb = __ha))",
    "hasAll": "forall({1}, __ha -> exists({0}, __hb -> __hb = __ha))",
    # occurrence number of each element among its equals (first=1, ...)
    # multi-arg form enumerates by the TUPLE of per-position elements
    # (src/Functions/array/arrayEnumerateUniq: 128-bit key path, 01677)
    "arrayEnumerateUniq": lambda a: (
        (
            "transform({0}, (x, i) -> "
            "CAST(1 + size(filter(slice({0}, 1, i), y -> y <=> x)) "
            "AS INT))"
        ).format(a[0])
        if len(a) == 1
        else (
            lambda z: (
                f"transform({z}, (x, i) -> "
                f"CAST(1 + size(filter(slice({z}, 1, i), "
                f"y -> y <=> x)) AS INT))"
            )
        )(
            "transform(" + _seq1(f"size({a[0]})") + ", __zi -> struct("
            + ", ".join(
                f"element_at({ak}, CAST(__zi AS INT)) AS f{kk}"
                for kk, ak in enumerate(a)
            )
            + "))"
        )
    ),
    # arrayReduce('agg', arr...) for the common aggregate names
    "arrayReduce": lambda a: (
        _simple_linreg_expr(a[1], a[2])
        if a and a[0].strip("'").lower() == "simplelinearregression"
        else _array_reduce_expr(a)
    ),
    "multiMatchAny": "CAST(exists({1}, p -> {0} RLIKE p) AS INT)",
    "multiMatchAnyIndex": (
        "CAST(coalesce(array_position(transform({1}, p -> {0} RLIKE p), true), 0) AS INT)"
    ),
    # dense id per distinct value, in order of first appearance
    # first-occurrence index computed NULL-safely (<=> inside a bool
    # transform) — array_position(arr, NULL) would poison the slice
    "arrayEnumerateDense": (
        "transform({0}, x -> CAST(size(array_distinct("
        "slice({0}, 1, array_position("
        "transform({0}, __ed -> __ed <=> x), true)))) AS INT))"
    ),
    "toInt128": "CAST({0} AS DECIMAL(38, 0))",
    "toInt256": "CAST({0} AS DECIMAL(38, 0))",
    "toUInt128": "CAST({0} AS DECIMAL(38, 0))",
    "toUInt256": "CAST({0} AS DECIMAL(38, 0))",
    "toIntervalSecond": "make_interval(0, 0, 0, 0, 0, 0, {0})",
    "toIntervalMinute": "make_interval(0, 0, 0, 0, 0, {0}, 0)",
    "toIntervalHour": "make_interval(0, 0, 0, 0, {0}, 0, 0)",
    "toIntervalDay": "make_interval(0, 0, 0, {0}, 0, 0, 0)",
    "toIntervalWeek": "make_interval(0, 0, {0}, 0, 0, 0, 0)",
    "toIntervalMonth": "make_interval(0, {0}, 0, 0, 0, 0, 0)",
    "toIntervalYear": "make_interval({0}, 0, 0, 0, 0, 0, 0)",
    # div/mod-by-zero tolerant variants (reference intDivOrZero.cpp)
    "intDivOrZero": lambda a: _int_div_expr(a, or_zero=True),
    "moduloOrZero": "coalesce(({0} % nullif({1}, 0)), 0)",
    "divideOrZero": "coalesce((CAST({0} AS DOUBLE) / nullif({1}, 0)), 0.0)",
    # range(n) = [0..n-1]; Spark sequence(0, n-1) flips to descending for
    # n<=0, so the empty case is explicit
    # empty branch as a zero-length SLICE of a sequence: keeps the
    # element type BIGINT (bare array() is ARRAY<VOID>, which breaks
    # downstream element_at/aggregate type checks)
    "range": lambda a: (
        f"(CASE WHEN ({a[0]}) <= 0 THEN slice(sequence(0, 0), 1, 0) "
        f"ELSE sequence(0, ({a[0]}) - 1) END)"
        if len(a) == 1
        else f"(CASE WHEN ({a[1]}) <= ({a[0]}) THEN slice(sequence(0, 0), 1, 0) "
        f"ELSE sequence({a[0]}, ({a[1]}) - 1"
        + (f", {a[2]}" if len(a) >= 3 else "")
        + ") END)"
    ),
    # component after the last slash OF EITHER KIND (path.cpp splits on
    # both / and \)
    "basename": "regexp_extract({0}, '([^/\\\\\\\\]*)$', 1)",
    "path": (
        "regexp_extract({0}, "
        "'^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//[^/?#]*([^?#]*)', 1)"
    ),
    "pathFull": (
        "regexp_extract({0}, "
        "'^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//[^/?#]*([^#]*)', 1)"
    ),
    "toISOWeek": "extract(WEEK FROM {0})",
    "toISOYear": "extract(YEAROFWEEK FROM {0})",
    "substringUTF8": lambda a: _substring_expr(a, utf8=True),
    "CRC32": "crc32(CAST({0} AS BINARY))",
    # reference CRC32IEEE is the init-0/no-xorout reflected table, NOT
    # zlib (src/Functions/CRC.cpp CRCImpl<UInt32, 0xedb88320>)
    "CRC32IEEE": "ch_crc32ieee({0})",
    "multiSearchAllPositions": (
        "transform({1}, __n -> IF(locate(__n, {0}) = 0, 0, "
        "octet_length(substr({0}, 1, locate(__n, {0}) - 1)) + 1))"
    ),
    "appendTrailingCharIfAbsent": (
        "(CASE WHEN {0} IS NULL OR {0} = '' THEN {0} "
        "WHEN substring({0}, -1, 1) = {1} THEN {0} ELSE concat({0}, {1}) END)"
    ),
    # URL parameter family (src/Functions/URL/extractURLParameters.cpp
    # tokenizer): the parameter region starts after the first ? or #,
    # pieces split on & / #, and a '?' inside a piece's NAME restarts
    # the token ('#test?e=f' yields e=f, not test?e=f).  Fragment
    # parameters count — parse_url('QUERY') alone cannot see them.
    "extractURLParameter": lambda a: (
        f"coalesce(element_at(transform(filter({_url_params_expr(a[0])}, "
        f"__p -> __p = {a[1]} OR startswith(__p, concat({a[1]}, '='))), "
        f"__p -> IF(__p = {a[1]}, '', "
        f"substring(__p, length({a[1]}) + 2))), 1), '')"
    ),
    "extractURLParameters": lambda a: _url_params_expr(a[0]),
    "extractURLParameterNames": lambda a: (
        f"transform({_url_params_expr(a[0])}, "
        f"__p -> regexp_extract(__p, '^([^=]*)', 1))"
    ),
    # delete one `name=value` parameter plus ONE adjoining separator
    # (src/Functions/URL/cutURLParameter.cpp: the pattern is name + '=',
    # so valueless parameters are never cut; the FOLLOWING & is consumed
    # when present, else the preceding &; ? and # stay in place)
    "cutURLParameter": (
        "regexp_replace({0}, concat("
        "'(?<=[?#&])', {1}, '=[^&#]*&', "
        "'|&', {1}, '=[^&#]*', "
        "'|(?<=[?#])', {1}, '=[^&#]*'), '')"
    ),
    # the reference's sphinxsearch-derived fast geodist (float32 LUT
    # model, src/Functions/greatCircleDistance.cpp) — exact UDFs in
    # functions/chgeo.py; args (lon1, lat1, lon2, lat2)
    "greatCircleDistance": (
        "ch_great_circle_distance(CAST({0} AS FLOAT), CAST({1} AS FLOAT), "
        "CAST({2} AS FLOAT), CAST({3} AS FLOAT))"
    ),
    "geoDistance": (
        "ch_geo_distance(CAST({0} AS FLOAT), CAST({1} AS FLOAT), "
        "CAST({2} AS FLOAT), CAST({3} AS FLOAT))"
    ),
    "greatCircleAngle": (
        "ch_great_circle_angle(CAST({0} AS FLOAT), CAST({1} AS FLOAT), "
        "CAST({2} AS FLOAT), CAST({3} AS FLOAT))"
    ),
    # H3 cell-index functions (src/Functions/h3*.cpp) — pure-Python port
    # of the public H3 index spec in functions/chh3.py
    "h3GetResolution": "ch_h3_get_resolution(CAST({0} AS BIGINT))",
    "h3GetBaseCell": "ch_h3_get_base_cell(CAST({0} AS BIGINT))",
    "h3IsValid": "ch_h3_is_valid(CAST({0} AS BIGINT))",
    "h3ToParent": (
        "ch_h3_to_parent(CAST({0} AS BIGINT), CAST({1} AS INT))"
    ),
    "h3ToChildren": (
        "ch_h3_to_children(CAST({0} AS BIGINT), CAST({1} AS INT))"
    ),
    "h3ToString": "ch_h3_to_string(CAST({0} AS BIGINT))",
    "stringToH3": "ch_string_to_h3({0})",
    "h3EdgeLengthM": "ch_h3_edge_length_m(CAST({0} AS INT))",
    "h3HexAreaM2": "ch_h3_hex_area_m2(CAST({0} AS INT))",
    "h3EdgeAngle": "ch_h3_edge_angle(CAST({0} AS INT))",
    # polygon / WKT functions (src/Functions/polygons*.cpp, wkt.cpp,
    # readWkt.cpp) — functions/chpoly.py; geometry args ride through
    # to_json so one UDF accepts any point/ring/polygon/multi nesting
    "wkt": "ch_wkt(to_json({0}))",
    "readWktPoint": "ch_read_wkt_point({0})",
    "readWktRing": "ch_read_wkt_ring({0})",
    "readWktPolygon": "ch_read_wkt_polygon({0})",
    "readWktMultiPolygon": "ch_read_wkt_multipolygon({0})",
    "polygonPerimeterCartesian": (
        "ch_polygon_perimeter_cartesian(to_json({0}))"
    ),
    "polygonAreaCartesian": "ch_polygon_area_cartesian(to_json({0}))",
    "polygonAreaSpherical": "ch_polygon_area_spherical(to_json({0}))",
    "polygonsWithinCartesian": (
        "ch_polygons_within(to_json({0}), to_json({1}))"
    ),
    "polygonsWithinSpherical": (
        "ch_polygons_within(to_json({0}), to_json({1}))"
    ),
    "polygonsDistanceCartesian": (
        "ch_polygons_distance_cartesian(to_json({0}), to_json({1}))"
    ),
    "polygonsDistanceSpherical": (
        "ch_polygons_distance_spherical(to_json({0}), to_json({1}))"
    ),
    "polygonsEqualsCartesian": (
        "ch_polygons_equals(to_json({0}), to_json({1}))"
    ),
    "polygonConvexHullCartesian": (
        "ch_polygon_convex_hull_cartesian(to_json({0}))"
    ),
    "pointInPolygon": _point_in_polygon_expr,
    "bitShiftLeft": "shiftleft({0}, {1})",
    "bitShiftRight": "shiftright({0}, {1})",
    # precision 10: the underlying Int32 admits 10-digit unscaled values
    "toDecimal32": lambda a: f"CAST({a[0]} AS DECIMAL(10, {a[1] if len(a) > 1 else 0}))",
    # precision 19: the underlying Int64 admits the full signed range
    # (-2^63 fits although it is 19 digits; DataTypeDecimal64)
    "toDecimal64": lambda a: f"CAST({a[0]} AS DECIMAL(19, {a[1] if len(a) > 1 else 0}))",
    "toDecimal128": lambda a: f"CAST({a[0]} AS DECIMAL(38, {a[1] if len(a) > 1 else 0}))",
    # type conversion
    # toString strips FixedString \0 padding (convertToString)
    # integral Float64 values print bare (reference shortest-round-trip:
    # toString(10.0) = '10', toString(1e7) = '10000000'); Spark CAST
    # renders '10.0' / '1.0E7' — re-render those positionally
    "toString": (
        "(CASE WHEN TRIM(TRAILING chr(0) FROM CAST({0} AS STRING)) "
        "RLIKE '^-?[0-9]+(\\\\.0)?([eE][+]?[0-9]+)?$' "
        "AND try_cast(TRIM(TRAILING chr(0) FROM CAST({0} AS STRING)) "
        "AS DOUBLE) % 1.0d = 0.0d "
        "AND abs(try_cast(TRIM(TRAILING chr(0) FROM CAST({0} AS STRING)) "
        "AS DOUBLE)) < 1e38 "
        "THEN CAST(try_cast(TRIM(TRAILING chr(0) FROM "
        "CAST({0} AS STRING)) AS DECIMAL(38, 0)) AS STRING) "
        "ELSE TRIM(TRAILING chr(0) FROM CAST({0} AS STRING)) END)"
    ),
    # unsigned conversions WRAP modulo 2^bits like the reference
    # (src/Functions/FunctionsConversion.h — C++ integral conversion);
    # signed ones wrap via Spark's non-ANSI narrowing CAST.  Date args
    # convert to days-since-epoch, DateTime to seconds (the underlying
    # storage integers)
    "toUInt8": lambda a: _to_int_conv(a[0], "pmod({e}, 256)"),
    "toUInt16": lambda a: _to_int_conv(a[0], "pmod({e}, 65536)"),
    "toUInt32": lambda a: _to_int_conv(a[0], "pmod({e}, 4294967296)"),
    "toUInt64": lambda a: _to_int_conv(a[0], "{e}"),
    "toInt8": lambda a: _to_int_conv(a[0], "CAST({e} AS TINYINT)"),
    "toInt16": lambda a: _to_int_conv(a[0], "CAST({e} AS SMALLINT)"),
    "toInt32": lambda a: _to_int_conv(a[0], "CAST({e} AS INT)"),
    "toInt64": lambda a: _to_int_conv(a[0], "{e}"),
    "toFloat32": "CAST({0} AS FLOAT)", "toFloat64": "CAST({0} AS DOUBLE)",
    # -OrZero / -OrNull parse variants (FunctionsConversion.h): failed
    # parses yield 0 / NULL instead of an error
    "toUInt8OrZero": "IF({0} IS NULL, NULL, coalesce(CAST(IF(try_cast({0} AS BIGINT) >= 0 AND try_cast({0} AS BIGINT) <= 255, try_cast({0} AS BIGINT), NULL) AS SMALLINT), 0))",
    "toUInt16OrZero": "IF({0} IS NULL, NULL, coalesce(CAST(IF(try_cast({0} AS BIGINT) >= 0 AND try_cast({0} AS BIGINT) <= 65535, try_cast({0} AS BIGINT), NULL) AS INT), 0))",
    "toUInt32OrZero": "IF({0} IS NULL, NULL, coalesce(CAST(IF(try_cast({0} AS BIGINT) >= 0 AND try_cast({0} AS BIGINT) <= 4294967295, try_cast({0} AS BIGINT), NULL) AS BIGINT), 0))",
    "toUInt64OrZero": "IF({0} IS NULL, NULL, coalesce(CAST(IF(try_cast({0} AS BIGINT) >= 0, try_cast({0} AS BIGINT), NULL) AS BIGINT), 0))",
    "toInt8OrZero": "IF({0} IS NULL, NULL, coalesce(try_cast({0} AS TINYINT), 0))",
    "toInt16OrZero": "IF({0} IS NULL, NULL, coalesce(try_cast({0} AS SMALLINT), 0))",
    "toInt32OrZero": "IF({0} IS NULL, NULL, coalesce(try_cast({0} AS INT), 0))",
    "toInt64OrZero": "IF({0} IS NULL, NULL, coalesce(try_cast({0} AS BIGINT), 0))",
    "toFloat32OrZero": "IF({0} IS NULL, NULL, coalesce(try_cast({0} AS FLOAT), 0.0))",
    "toFloat64OrZero": "IF({0} IS NULL, NULL, coalesce(try_cast({0} AS DOUBLE), 0.0))",
    "toUInt8OrNull": "CAST(IF(try_cast({0} AS BIGINT) >= 0 AND try_cast({0} AS BIGINT) <= 255, try_cast({0} AS BIGINT), NULL) AS SMALLINT)",
    "toUInt16OrNull": "CAST(IF(try_cast({0} AS BIGINT) >= 0 AND try_cast({0} AS BIGINT) <= 65535, try_cast({0} AS BIGINT), NULL) AS INT)",
    "toUInt32OrNull": "CAST(IF(try_cast({0} AS BIGINT) >= 0 AND try_cast({0} AS BIGINT) <= 4294967295, try_cast({0} AS BIGINT), NULL) AS BIGINT)",
    "toUInt64OrNull": "CAST(IF(try_cast({0} AS BIGINT) >= 0, try_cast({0} AS BIGINT), NULL) AS BIGINT)",
    "toInt8OrNull": "try_cast({0} AS TINYINT)",
    "toInt16OrNull": "try_cast({0} AS SMALLINT)",
    "toInt32OrNull": "try_cast({0} AS INT)",
    "toInt64OrNull": "try_cast({0} AS BIGINT)",
    "toFloat32OrNull": "try_cast({0} AS FLOAT)",
    "toFloat64OrNull": "try_cast({0} AS DOUBLE)",
    "toDateOrNull": "IF(CAST({0} AS STRING) RLIKE '^\\\\s*[0-9]*\\\\s*$', NULL, try_cast({0} AS DATE))",
    # numeric argument = days since epoch (FunctionsConversion)
    # toDate(UInt) is epoch DAYS; strings/dates parse directly.  When
    # the argument's kind isn't visible at translate time, a string
    # round-trip dispatches at runtime (date-parse first, else days)
    # numeric days wrap in UInt16 (DataTypeDate stores 16-bit days)
    "toDate": lambda a: (
        f"date_add(DATE '1970-01-01', CAST(pmod({a[0]}, 65536) AS INT))"
        if a and (a[0].isdigit() or a[0].lstrip("-").isdigit())
        else f"CAST({a[0]} AS DATE)"
        if a and (
            a[0].startswith("'") or _dt_kind(a[0])
            or a[0].startswith(("concat(", "substring(", "substr("))
        )
        else (
            # outer CAST: marks the result date-typed for _dt_kind.
            # NUMERIC values are epoch days and must win over the date
            # parser (Spark parses '16222' as year-16222)
            f"CAST(coalesce(date_add(DATE '1970-01-01', "
            f"CAST(pmod(try_cast(CAST({a[0]} AS STRING) AS DOUBLE), "
            f"65536) AS INT)), "
            f"try_cast(CAST({a[0]} AS STRING) AS DATE)) AS DATE)"
        )
    ),
    # reference parses an all-digit string as a unix timestamp
    # (FunctionsConversion: parseDateTime accepts numeric strings)
    "toDateTime": lambda a: (
        _raise_dialect("toDateTime: cannot parse (41)")
        if a and a[0].strip().startswith("'")
        and not any(c.isdigit() for c in a[0])
        else
        f"timestamp_seconds({a[0][1:-1]})"
        if a[0].startswith("'") and a[0].strip("'").isdigit()
        else f"timestamp_seconds({a[0]})"
        if a[0].isdigit()
        else f"CAST({a[0]} AS TIMESTAMP)"
        if a[0].startswith("'") or _dt_kind(a[0])
        or a[0].startswith(("concat(", "substring(", "substr("))
        else (
            # numeric seconds wrap in UInt32 (DataTypeDateTime storage)
            f"CAST(coalesce(try_cast(CAST({a[0]} AS STRING) AS TIMESTAMP), "
            f"timestamp_seconds(CAST(pmod(try_cast("
            f"CAST({a[0]} AS STRING) AS DOUBLE), 4294967296) AS BIGINT))) "
            f"AS TIMESTAMP)"
        )
    ),
    "parseDateTimeBestEffortOrNull": "try_cast({0} AS TIMESTAMP)",
    "parseDateTime64BestEffort": lambda a: _parse_dt64_best_effort(
        a, "strict"
    ),
    "parseDateTime64BestEffortOrNull": lambda a: _parse_dt64_best_effort(
        a, "null"
    ),
    "parseDateTime64BestEffortOrZero": lambda a: _parse_dt64_best_effort(
        a, "zero"
    ),
    "parseDateTimeBestEffortOrZero": (
        "coalesce(try_cast({0} AS TIMESTAMP), "
        "to_timestamp('1970-01-01 00:00:00'))"
    ),
    # toUUID validates the canonical 8-4-4-4-12 hex form (error 6 on
    # garbage, 01528) and normalizes to lowercase like the reference
    "toUUID": lambda a: (
        f"IF({a[0]} IS NULL, NULL, IF(TRIM(TRAILING chr(0) FROM "
        f"CAST({a[0]} AS STRING)) RLIKE {_UUID_RE_SQL}, "
        f"lower(TRIM(TRAILING chr(0) FROM CAST({a[0]} AS STRING))), "
        f"raise_error('toUUID: cannot parse UUID')))"
    ),
    "toDateTime64": _to_datetime64_expr,
    # strict parse of a literal with no digit at all cannot be a
    # datetime in ANY input format — reference error 41 up front
    # (digit-bearing literals stay with CAST, whose accepted formats
    # are what the passing corpus relies on)
    "parseDateTimeBestEffort": lambda a: (
        _raise_dialect(
            "parseDateTimeBestEffort: cannot parse (41)"
        )
        if a and a[0].strip().startswith("'")
        and not any(c.isdigit() for c in a[0])
        else f"CAST({a[0]} AS TIMESTAMP)"
    ),
    "toUnixTimestamp": "unix_timestamp({0})",
    "toUnixTimestamp64Milli": lambda a: _to_unix_ts64_expr(a, 3),
    "toUnixTimestamp64Micro": lambda a: _to_unix_ts64_expr(a, 6),
    "toUnixTimestamp64Nano": lambda a: _to_unix_ts64_expr(a, 9),
    "fromUnixTimestamp64Milli": lambda a: _from_unix_ts64_expr(a, 3),
    "fromUnixTimestamp64Micro": lambda a: _from_unix_ts64_expr(a, 6),
    "fromUnixTimestamp64Nano": lambda a: _from_unix_ts64_expr(a, 9),
    # date/time parts
    "toYear": "year({0})", "toQuarter": "quarter({0})", "toMonth": "month({0})",
    "toDayOfMonth": "day({0})", "toDayOfYear": "dayofyear({0})",
    "toDayOfWeek": "(weekday({0}) + 1)",  # reference: Monday=1..Sunday=7
    "toHour": "hour({0})", "toMinute": "minute({0})", "toSecond": "second({0})",
    # the reference returns Date (not DateTime) for >= day granularity
    "toStartOfYear": "CAST(date_trunc('YEAR', {0}) AS DATE)",
    "toStartOfQuarter": "CAST(date_trunc('QUARTER', {0}) AS DATE)",
    "toStartOfMonth": "CAST(date_trunc('MONTH', {0}) AS DATE)",
    # default mode 0 = SUNDAY-start week (toCustomWeek.cpp); odd modes
    # are Monday-first
    "toStartOfWeek": lambda a: (
        f"CAST(date_trunc('WEEK', {a[0]}) AS DATE)"
        if len(a) > 1 and a[1].strip().strip("()").isdigit()
        and int(a[1].strip().strip("()")) % 2 == 1
        else f"date_sub(CAST({a[0]} AS DATE), "
        f"pmod(dayofweek({a[0]}) - 1, 7))"
    ),
    "toMonday": "CAST(date_trunc('WEEK', {0}) AS DATE)",
    "toStartOfDay": "date_trunc('DAY', {0})",
    "toStartOfHour": "date_trunc('HOUR', {0})",
    "toStartOfMinute": "date_trunc('MINUTE', {0})",
    # toTime: wall-clock time moved onto 1970-01-02
    # (src/Functions/DateTimeTransforms.h ToTimeImpl)
    "toTime": (
        "CAST(concat('1970-01-02 ', date_format({0}, 'HH:mm:ss')) "
        "AS TIMESTAMP)"
    ),
    "toStartOfFiveMinute": "timestamp_seconds(floor(unix_timestamp({0}) / 300) * 300)",
    "toStartOfTenMinutes": "timestamp_seconds(floor(unix_timestamp({0}) / 600) * 600)",
    "toStartOfFifteenMinutes": "timestamp_seconds(floor(unix_timestamp({0}) / 900) * 900)",
    # partitionId(v): the partition ID string for a value of the
    # partition expression — a single scalar renders as its text
    # (MergeTreePartition::getID single-field fast path)
    "partitionId": "CAST(({0}) AS STRING)",
    "toYYYYMM": "CAST(date_format({0}, 'yyyyMM') AS INT)",
    "toYYYYMMDD": "CAST(date_format({0}, 'yyyyMMdd') AS INT)",
    "now": "current_timestamp()", "today": "current_date()",
    "yesterday": "date_sub(current_date(), 1)",
    "addSeconds": "({0} + make_interval(0, 0, 0, 0, 0, 0, {1}))",
    "addMinutes": "({0} + make_interval(0, 0, 0, 0, 0, {1}, 0))",
    "addHours": "({0} + make_interval(0, 0, 0, 0, {1}, 0, 0))",
    "addDays": "({0} + make_interval(0, 0, 0, {1}, 0, 0, 0))",
    "addWeeks": "({0} + make_interval(0, 0, {1}, 0, 0, 0, 0))",
    "addMonths": "({0} + make_interval(0, {1}, 0, 0, 0, 0, 0))",
    "addYears": "({0} + make_interval({1}, 0, 0, 0, 0, 0, 0))",
    "subtractDays": "({0} - make_interval(0, 0, 0, {1}, 0, 0, 0))",
    "subtractYears": "({0} - make_interval({1}, 0, 0, 0, 0, 0, 0))",
    "subtractMonths": "({0} - make_interval(0, {1}, 0, 0, 0, 0, 0))",
    "subtractWeeks": "({0} - make_interval(0, 0, {1}, 0, 0, 0, 0))",
    "subtractHours": "({0} - make_interval(0, 0, 0, 0, {1}, 0, 0))",
    "subtractMinutes": "({0} - make_interval(0, 0, 0, 0, 0, {1}, 0))",
    "dateDiff": lambda a: f"timestampdiff({_dd_unit(a[0])}, {a[1]}, {a[2]})",
    "date_diff": lambda a: f"timestampdiff({_dd_unit(a[0])}, {a[1]}, {a[2]})",
    "date_add": lambda a: _ts_add_expr(a, 1),
    "dateAdd": lambda a: _ts_add_expr(a, 1),
    "date_sub": lambda a: _ts_add_expr(a, -1),
    "dateSub": lambda a: _ts_add_expr(a, -1),
    "timestamp_add": lambda a: _ts_add_expr(a, 1),
    "timestampAdd": lambda a: _ts_add_expr(a, 1),
    "timestamp_sub": lambda a: _ts_add_expr(a, -1),
    "timestampSub": lambda a: _ts_add_expr(a, -1),
    "formatDateTime": _format_datetime,
    "timeSlot": "timestamp_seconds(floor(unix_timestamp({0}) / 1800) * 1800)",
    # strings
    "lowerUTF8": "lower({0})", "upperUTF8": "upper({0})",
    "char_length": "length({0})", "lengthUTF8": "length({0})",
    # reference length() is polymorphic over strings AND arrays; Spark
    # splits it into octet_length()/size().  Heuristic on the translated
    # arg: expressions that are syntactically array-producing use size().
    # String length is BYTES in the reference (lengthUTF8 is characters)
    "length": lambda a: (
        f"size({a[0]})" if _is_arrayish(a[0])
        else f"octet_length({a[0]})"
    ),
    "trimBoth": "trim({0})", "trimLeft": "ltrim({0})", "trimRight": "rtrim({0})",
    "startsWith": "startswith({0}, {1})", "endsWith": "endswith({0}, {1})",
    # position(haystack, needle[, start]) — and the SQL-compat form
    # position(needle IN haystack), which reaches us as ONE rendered arg
    # 'needle IN ( haystack )' (src/Parsers/ExpressionListParsers.cpp
    # rewrites it the same way)
    "position": _position_expr,
    "positionUTF8": "locate({1}, {0})",  # character-based variant
    "positionCaseInsensitive": "locate(lower({1}), lower({0}))",
    "match": "({0} RLIKE {1})", "like": "({0} LIKE {1})",
    "notLike": "({0} NOT LIKE {1})", "ilike": "(lower({0}) LIKE lower({1}))",
    "replaceAll": "replace({0}, {1}, {2})",
    # the reference's replacement backrefs are \1..\9 (re2); Spark's are
    # $1..$9 (java.util.regex) — convert inside literal replacements
    "replaceRegexpAll": lambda a: (
        f"regexp_replace({a[0]}, {a[1]}, {_conv_backrefs(a[2])})"
    ),
    # replaceRegexpOne replaces only the FIRST match; exact when the
    # pattern is anchored (^/$ — every corpus use) or matches at most
    # once, approximated by replace-all otherwise
    "replaceRegexpOne": lambda a: (
        f"regexp_replace({a[0]}, {a[1]}, {_conv_backrefs(a[2])})"
    ),
    # extract is two functions: ANSI extract(UNIT FROM ts) (kept native —
    # Spark supports it) and the reference's regexp extract(s, pattern)
    "extract": _extract_expr,
    "extractAll": "regexp_extract_all({0}, {1}, 1)",
    "splitByChar": "split({1}, {0})",
    # splitByString('', '') -> [] and (sep, '') -> [''] per
    # src/Functions/splitByString (FunctionsStringArray.h)
    "splitByString": (
        "IF({1} = '', IF({0} = '', array(), array('')), split({1}, {0}))"
    ),
    "arrayStringConcat": lambda a: (
        f"array_join({a[0]}, {a[1] if len(a) > 1 else repr('')})"
    ),
    "leftPad": "lpad({0}, {1}, {2})", "rightPad": "rpad({0}, {1}, {2})",
    "countSubstrings": "(size(split({0}, {1})) - 1)",
    "base64Encode": "base64({0})", "base64Decode": "CAST(unbase64({0}) AS STRING)",
    # reference hex() prints whole BYTES — odd-length integer hex gets a
    # leading zero; floats/decimals hex their raw little-endian storage
    # bytes (src/Functions/FunctionsCoding.h)
    "hex": lambda a: _hex_expr(a[0]),
    "unhex": "unhex({0})",
    # JSON (props-style extraction; FunctionsJSON.h)
    "JSONExtractString": "get_json_object({0}, concat('$.', {1}))",
    "JSONExtractInt": "CAST(get_json_object({0}, concat('$.', {1})) AS BIGINT)",
    "JSONExtractFloat": "CAST(get_json_object({0}, concat('$.', {1})) AS DOUBLE)",
    "JSONExtractBool": "CAST(get_json_object({0}, concat('$.', {1})) AS BOOLEAN)",
    # Raw keeps JSON syntax: scalar strings stay quoted — the source is
    # a string iff the key is followed by a double quote in the document
    # (FunctionsJSON.h JSONExtractRawImpl)
    "JSONExtractRaw": (
        "(CASE WHEN get_json_object({0}, concat('$.', {1})) IS NULL THEN NULL "
        "WHEN ({0}) RLIKE concat('\"', {1}, '\"\\\\s*:\\\\s*\"') "
        "THEN concat('\"', get_json_object({0}, concat('$.', {1})), '\"') "
        "ELSE get_json_object({0}, concat('$.', {1})) END)"
    ),
    "JSONHas": "(get_json_object({0}, concat('$.', {1})) IS NOT NULL)",
    # visitParam* scan FRAGMENTS ("a":123 without braces); regex forms
    # coalesce with the strict JSON path for full documents
    "visitParamExtractString": (
        "coalesce(get_json_object({0}, concat('$.', {1})), "
        "regexp_extract({0}, concat('\"', {1}, '\":\\\\s*\"([^\"]*)'), 1))"
    ),
    "visitParamExtractInt": "CAST(get_json_object({0}, concat('$.', {1})) AS BIGINT)",
    "visitParamExtractUInt": (
        "CAST(coalesce(get_json_object({0}, concat('$.', {1})), "
        "regexp_extract({0}, concat('\"', {1}, '\":\\\\s*(\\\\d+)'), 1)) AS BIGINT)"
    ),
    "visitParamExtractRaw": (
        "coalesce(get_json_object({0}, concat('$.', {1})), "
        "regexp_extract({0}, concat('\"', {1}, '\":\\\\s*([^,}}]*)'), 1))"
    ),
    # arrays / higher-order (lambda-first in the reference, array-first in Spark)
    "has": "exists({0}, __hb -> __hb = {1})", "indexOf": "array_position({0}, {1})",
    "countEqual": "size(filter({0}, __e -> __e <=> {1}))",
    "arrayJoin": "explode({0})",
    # multi-array arrayMap zips (ArrayMapped in the reference); 3+
    # arrays index-walk with the lambda inlined per element
    "arrayMap": lambda a: (
        f"transform({a[1]}, {a[0]})" if len(a) == 2
        else f"zip_with({a[1]}, {a[2]}, {a[0]})" if len(a) == 3
        else (
            f"transform(sequence(1, size({a[1]})), __zi -> "
            + _inline_lambda(a[0], *[
                f"element_at({x}, CAST(__zi AS INT))" for x in a[1:]
            ]) + ")"
        )
    ),
    "arraySplit": lambda a: _array_split_expr_c(a, reverse=False),
    "arrayReverseSplit": lambda a: _array_split_expr_c(a, reverse=True),
    # reference HOF predicates return UInt8 — Spark's demand BOOLEAN, so
    # the lambda body gets a boolean cast (FunctionsHigherOrder.h)
    "arrayFilter": lambda a: f"filter({a[1]}, {_bool_lambda(a[0])})",
    "arrayExists": lambda a: (
        f"exists({a[1]}, {_bool_lambda(a[0])})"
        if len(a) > 1
        else f"exists({a[0]}, __ae -> CAST(__ae AS BOOLEAN))"
    ),
    "arrayAll": lambda a: (
        f"forall({a[1]}, {_bool_lambda(a[0])})"
        if len(a) > 1
        else f"forall({a[0]}, __aa -> CAST(__aa AS BOOLEAN))"
    ),
    "arrayCount": lambda a: (
        f"size(filter({a[1]}, {_bool_lambda(a[0])}))"
        if len(a) > 1
        else f"size(filter({a[0]}, __ac -> CAST(__ac AS BOOLEAN)))"
    ),
    "arrayFirst": lambda a: (
        f"element_at(filter({a[1]}, {_bool_lambda(a[0])}), 1)"
    ),
    "arrayFirstIndex": lambda a: (
        f"coalesce(array_position(transform({a[1]}, "
        f"{_bool_lambda(a[0])}), true), 0)"
    ),
    "arraySum": lambda a: (
        f"aggregate({a[0]}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        if len(a) == 1
        else f"aggregate(transform({a[1]}, {a[0]}), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    ),
    # NULL elements are excluded (src/Functions/array/arrayDistinct.cpp)
    "arrayDistinct": (
        "filter(array_distinct({0}), __x -> __x IS NOT NULL)"
    ),
    "arraySort": _array_sort,
    "arrayReverse": "reverse({0})", "arrayConcat": "concat({*})",
    "arrayPushBack": "concat({0}, array({1}))",
    "arrayPushFront": "concat(array({1}), {0})",
    "arrayPopBack": "slice({0}, 1, greatest(size({0}) - 1, 0))",
    "arrayPopFront": "slice({0}, 2, greatest(size({0}) - 1, 0))",
    # the reference's transform(x, from_arr, to_arr[, default]) VALUE
    # mapper (FunctionsTransform.cpp) — not Spark's lambda transform,
    # which only ever sees 2 args through arrayMap
    "transform": lambda a: (
        f"transform({', '.join(a)})"
        if len(a) <= 2
        else (
            f"(CASE WHEN array_position({a[1]}, {a[0]}) > 0 "
            f"THEN element_at({a[2]}, CAST(array_position({a[1]}, {a[0]}) AS INT)) "
            + (f"ELSE {a[3]} END)" if len(a) > 3 else f"ELSE {a[0]} END)")
        )
    ),
    # n-ary char(): one raw BYTE per argument mod 256, decoded as UTF-8
    # (FunctionChar.cpp truncates floats toward zero first; multi-byte
    # sequences across arguments must combine, so concat bytes not chars)
    "char": lambda a: (
        "decode(unhex(concat("
        + ", ".join(
            f"lpad(hex(((CAST(({x}) AS BIGINT) % 256) + 256) % 256), 2, '0')"
            for x in a
        )
        + ")), 'UTF-8')"
    ),
    # arraySlice: 2-arg takes to the end; negative LENGTH drops |len|
    # trailing elements (src/Functions/array/arraySlice.cpp)
    # out-of-range/zero offsets yield an empty slice (the reference
    # clamps; Spark's slice raises) — the CASE guards evaluation
    "arraySlice": lambda a: (
        f"(CASE WHEN ({a[1]}) = 0 OR "
        f"abs(CAST({a[1]} AS DOUBLE)) > size({a[0]}) "
        f"THEN slice({a[0]}, 1, 0) "
        f"ELSE slice({a[0]}, CAST({a[1]} AS INT), size({a[0]})) END)"
        if len(a) == 2
        else (
            f"(CASE WHEN ({a[1]}) = 0 OR "
            f"abs(CAST({a[1]} AS DOUBLE)) > size({a[0]}) "
            f"THEN slice({a[0]}, 1, 0) "
            f"ELSE slice({a[0]}, CAST({a[1]} AS INT), "
            f"CAST(greatest(CASE WHEN ({a[2]}) < 0 THEN "
            f"size({a[0]}) + ({a[2]}) - ({a[1]}) + 1 "
            f"ELSE ({a[2]}) END, 0) AS INT)) END)"
        )
    ),
    # flatten of a bare [] literal: Spark cannot type array(); the
    # reference returns []
    "arrayFlatten": lambda a: (
        "array()" if a[0].replace(" ", "") == "array()" else f"flatten({a[0]})"
    ),
    "flatten": lambda a: (
        "array()" if a[0].replace(" ", "") == "array()" else f"flatten({a[0]})"
    ),
    "arrayUniq": "size(array_distinct({0}))",
    # variadic; a single argument dedups (arrayIntersect.cpp — 00932)
    "arrayIntersect": lambda a: (
        f"array_distinct({a[0]})" if len(a) == 1
        else functools.reduce(
            lambda x, y: f"array_intersect({x}, {y})", a
        )
    ),
    "arrayEnumerate": "sequence(1, size({0}))",
    "emptyArrayToSingle": "(CASE WHEN size({0}) = 0 THEN array(NULL) ELSE {0} END)",
    "emptyArrayUInt8": lambda a: "CAST(array() AS ARRAY<SMALLINT>)",
    "emptyArrayUInt32": lambda a: "CAST(array() AS ARRAY<BIGINT>)",
    "emptyArrayUInt64": lambda a: "CAST(array() AS ARRAY<BIGINT>)",
    "emptyArrayInt32": lambda a: "CAST(array() AS ARRAY<INT>)",
    "emptyArrayInt64": lambda a: "CAST(array() AS ARRAY<BIGINT>)",
    "emptyArrayFloat64": lambda a: "CAST(array() AS ARRAY<DOUBLE>)",
    "emptyArrayString": lambda a: "CAST(array() AS ARRAY<STRING>)",
    "emptyArrayDate": lambda a: "CAST(array() AS ARRAY<DATE>)",
    "emptyArrayDateTime": lambda a: "CAST(array() AS ARRAY<TIMESTAMP>)",
    # maps / tuples
    "mapKeys": "map_keys({0})", "mapValues": "map_values({0})",
    # tuple fields must be col1..colN (ColumnTuple names) regardless of
    # the argument expressions, so named_struct, not struct
    "tuple": lambda a: "named_struct("
    + ", ".join(f"'col{k + 1}', {x}" for k, x in enumerate(a))
    + ")",
    # numeric index -> positional colN field; quoted name -> named field
    "tupleElement": lambda a: (
        f"{a[0]}.{a[1][1:-1]}"
        if a[1].startswith("'")
        else f"{a[0]}.col{a[1]}"
    ),
    # hashing fallback: _exact_hash_call folds literal arguments with the
    # reference's algorithms (functions/chhash.py) and lowers dynamic
    # cityHash64 exactly; the other dynamic calls land here, where
    # xxhash64 stands in (values differ from the reference)
    "cityHash64": "xxhash64({*})", "sipHash64": "xxhash64({*})",
    "xxHash64": "xxhash64({*})", "halfMD5": "xxhash64({*})",
    "MD5": "md5({0})", "SHA256": "sha2({0}, 256)", "SHA1": "sha1({0})",
    # aggregates
    # -If conditions are UInt8 in the reference — always boolean-cast
    "count": "count({*})",
    # 2-arg countIf(x, cond) counts ROWS where cond (x only contributes
    # NULL-skipping, AggregateFunctionCount with -If combinator)
    "countIf": lambda a: (
        f"count_if(CAST({a[0]} AS BOOLEAN))" if len(a) == 1
        else f"count(CASE WHEN CAST({a[1]} AS BOOLEAN) THEN {a[0]} END)"
    ),
    # 0 (the sum default) when no row matches, like the reference
    "sumIf": (
        "coalesce(sum(CASE WHEN CAST({1} AS BOOLEAN) THEN {0} END), 0)"
    ),
    "avgIf": "avg(CASE WHEN CAST({1} AS BOOLEAN) THEN {0} END)",
    "minIf": "min(CASE WHEN CAST({1} AS BOOLEAN) THEN {0} END)",
    "maxIf": "max(CASE WHEN CAST({1} AS BOOLEAN) THEN {0} END)",
    # ClickHouse aggregates over Nullable SKIP null rows
    # (AggregateFunctionNull.h unary wrapper) — any() latches the first
    # NON-NULL value, so Spark's ignoreNulls flag is required
    "any": "any_value({0}, true)", "anyLast": "any_value({0}, true)",
    "anyIf": "any_value(CASE WHEN CAST({1} AS BOOLEAN) THEN {0} END, true)",
    "anyLastIf": (
        "last(CASE WHEN CAST({1} AS BOOLEAN) THEN {0} END, true)"
    ),
    "anyLastMerge": "any_value({0}, true)",
    "anyMerge": "any_value({0}, true)",
    "argMax": "max_by({0}, {1})", "argMin": "min_by({0}, {1})",
    "avgWeighted": "(sum({0} * {1}) / sum({1}))",
    # multi-argument uniq counts distinct TUPLES; a bare arg list would
    # land in approx_count_distinct's rsd parameter
    # the reference's uniq/uniqCombined are EXACT below their adaptive
    # sampling threshold (~tens of thousands) — every stateless test
    # sits under it, so exact counting reproduces their output; the
    # 100-TB path is an HLL sketch (approx_count_distinct)
    "uniq": lambda a: (
        f"count(DISTINCT {a[0]})"
        if len(a) == 1
        else f"count(DISTINCT struct({', '.join(a)}))"
    ),
    "uniqCombined": lambda a: (
        f"count(DISTINCT {a[0]})"
        if len(a) == 1
        else f"count(DISTINCT struct({', '.join(a)}))"
    ),
    "uniqHLL12": lambda a: (
        f"approx_count_distinct({a[0]})"
        if len(a) == 1
        else f"approx_count_distinct(struct({', '.join(a)}))"
    ),
    "uniqExact": "count(DISTINCT {*})",
    # groupArray over a literal NULL (Nullable(Nothing)) is the Null
    # adaptor's only-null result: NULL, not [] (00529)
    "groupArray": lambda a: (
        "NULL" if a and a[0].strip().upper() == "NULL"
        else f"collect_list({a[0]})"
    ),
    "groupUniqArray": "collect_set({0})",
    # non-parametric call forms of the parametric aggregates
    "topK": lambda a: _topk_expr(["10"], a),
    "topKWeighted": lambda a: _topk_expr(["10"], a),
    # bare quantile spellings default to level 0.5
    # (AggregateFunctionQuantile.h: params are optional)
    "quantileExact": lambda a: _quantile_exact_expr(["0.5"], a, True),
    "quantileTiming": lambda a: _quantile_timing_expr(["0.5"], a, True),
    "quantileTimingWeighted": lambda a: _quantile_timing_weighted_expr(
        ["0.5"], a, True
    ),
    "quantileTDigest": lambda a: f"approx_percentile({a[0]}, 0.5)",
    "quantileDeterministic": lambda a: f"percentile({a[0]}, 0.5)",
    "retention": lambda a: _retention_expr(a),
    "groupBitAnd": "bit_and({0})", "groupBitOr": "bit_or({0})",
    "groupBitXor": "bit_xor({0})",
    "median": "median({0})",
    "entropy": _entropy_expr,
    "maxIntersections": lambda a: _max_intersections_expr(a, False),
    "maxIntersectionsPosition": lambda a: _max_intersections_expr(a, True),
    "firstSignificantSubdomain": _first_significant_subdomain_expr,
    "cutToFirstSignificantSubdomain": _cut_to_fss_expr,
    "cutToFirstSignificantSubdomainCustom": "ch_cut_fss_custom({0}, {1})",
    "cutToFirstSignificantSubdomainCustomWithWWW": (
        "ch_cut_fss_custom({0}, {1})"
    ),
    "firstSignificantSubdomainCustom": "ch_fss_custom({0}, {1})",
    "currentDatabase": lambda a: "'default'",
    # pure display-timezone change; with the session in UTC this renders
    # wall-clock time in the target zone like the reference does
    "toTimeZone": "from_utc_timestamp({0}, {1})",
    # toRelative*Num: monotone period counters since epoch
    # (src/Functions/DateTimeTransforms.h) — exact epoch-anchored values
    "toRelativeYearNum": "year({0})",
    "toRelativeQuarterNum": "(year({0}) * 4 + quarter({0}) - 1)",
    "toRelativeMonthNum": "(year({0}) * 12 + month({0}))",
    "toRelativeDayNum": "datediff({0}, DATE '1970-01-01')",
    "toRelativeHourNum": (
        "CAST(floor(unix_timestamp({0}) / 3600) AS BIGINT)"
    ),
    "toRelativeMinuteNum": (
        "CAST(floor(unix_timestamp({0}) / 60) AS BIGINT)"
    ),
    "toRelativeSecondNum": "unix_timestamp({0})",
    # fooState(...) translates as foo(...); stored states resolve via
    # the AggregateFunction column registry (_finalize_agg_expr)
    "finalizeAggregation": _finalize_agg_expr,
    "formatReadableTimeDelta": lambda a: (
        f"ch_fmt_timedelta(CAST({a[0]} AS DOUBLE), "
        + (a[1] if len(a) > 1 else "''") + ")"
    ),
    "normalizeQuery": "ch_normalize_query({0})",
    "normalizedQueryHash": lambda a: _unsigned_u64(
        f"ch_normalized_query_hash({a[0]})"
    ),
    "normalizedQueryHashKeepNames": lambda a: _unsigned_u64(
        f"ch_normalized_query_hash_keep({a[0]})"
    ),
    "normalizeQueryKeepNames": "ch_normalize_query_keep({0})",
    "UUIDNumToString": "ch_uuid_num_to_string({0})",
    "geohashesInBox": (
        "ch_geohashes_in_box(CAST({0} AS DOUBLE), CAST({1} AS DOUBLE), "
        "CAST({2} AS DOUBLE), CAST({3} AS DOUBLE), CAST({4} AS INT))"
    ),
    # pointInEllipses(x, y, x0, y0, a0, b0, ...): inside ANY ellipse
    # (src/Functions/pointInEllipses.cpp — sum of squared normalized
    # offsets <= 1)
    # arrayReduceInRanges('agg', [(start, len), ...], arr): per-range
    # aggregate over 1-based slices, clamped to the array
    # (src/Functions/array/arrayReduceInRanges.cpp)
    "arrayReduceInRanges": lambda a: (
        f"transform({a[1]}, __rr -> "
        + _array_reduce_expr([
            a[0],
            # negative index resolves from the END (n + i + 1); a
            # resolved position < 1 yields the empty range
            f"slice({a[2]}, greatest((CASE WHEN CAST(__rr.col1 AS INT) > 0 "
            f"THEN CAST(__rr.col1 AS INT) WHEN CAST(__rr.col1 AS INT) < 0 "
            f"THEN size({a[2]}) + CAST(__rr.col1 AS INT) + 1 "
            f"ELSE 0 END), 1), "
            f"IF((CASE WHEN CAST(__rr.col1 AS INT) > 0 "
            f"THEN CAST(__rr.col1 AS INT) WHEN CAST(__rr.col1 AS INT) < 0 "
            f"THEN size({a[2]}) + CAST(__rr.col1 AS INT) + 1 "
            f"ELSE 0 END) < 1, 0, greatest(CAST(__rr.col2 AS INT), 0)))",
        ])
        + ")"
    ),
    "pointInEllipses": lambda a: "CAST((" + " OR ".join(
        f"(pow(({a[0]}) - ({a[k]}), 2) / pow({a[k + 2]}, 2) + "
        f"pow(({a[1]}) - ({a[k + 1]}), 2) / pow({a[k + 3]}, 2)) <= 1.0"
        for k in range(2, len(a), 4)
    ) + ") AS INT)",
    "UUIDStringToNum": "ch_uuid_string_to_num({0})",
    "defaultValueOfTypeName": lambda a: (
        _default_of_ch_type(a[0].strip()[1:-1])
        or _raise_dialect(f"defaultValueOfTypeName: unmodeled {a[0]}")
    ),
    "joinGet": lambda a: _join_get_expr(a, False),
    "dictGet": lambda a: _dict_get_expr(a),
    "dictGetOrDefault": lambda a: _dict_get_expr(a, or_default=True),
    "dictGetOrNull": lambda a: _dict_get_expr(a, or_null=True),
    "dictHas": _dict_has_expr,
    "dictGetHierarchy": lambda a: _dict_hierarchy_expr(a),
    "dictIsIn": lambda a: (
        f"IF(array_contains({_dict_hierarchy_expr(a[:2])}, "
        f"CAST(({a[2]}) AS BIGINT)), 1, 0)"
    ),
    **{
        f"dictGet{t}": (lambda a: _dict_get_expr(a))
        for t in (
            "UInt8", "UInt16", "UInt32", "UInt64",
            "Int8", "Int16", "Int32", "Int64",
            "Float32", "Float64", "String", "Date", "DateTime", "UUID",
        )
    },
    "joinGetOrNull": lambda a: _join_get_expr(a, True),
    "medianTiming": lambda a: _quantile_timing_expr(["0.5"], a, True),
    "quantileExactWeighted": lambda a: _quantile_exact_weighted_expr(
        ["0.5"], a, True
    ),
    "medianExactWeighted": lambda a: _quantile_exact_weighted_expr(
        ["0.5"], a, True
    ),
    "medianTimingWeighted": lambda a: _quantile_timing_weighted_expr(
        ["0.5"], a, True
    ),
    # single-value/empty sample stats are nan in the reference
    # (AggregateFunctionStatistics: 0/0), never NULL
    "stddevPop": "coalesce(stddev_pop({0}), double('nan'))",
    "stddevSamp": "coalesce(stddev_samp({0}), double('nan'))",
    "varPop": "coalesce(var_pop({0}), double('nan'))",
    "varSamp": "coalesce(var_samp({0}), double('nan'))",
    "covarPop": "covar_pop({0}, {1})", "covarSamp": "covar_samp({0}, {1})",
    "corr": "corr({0}, {1})", "skewPop": "skewness({0})",
    "kurtPop": "kurtosis({0})",
    # *Stable variants: numerically-stable accumulation
    # (src/AggregateFunctions/AggregateFunctionStatistics.h) — Spark's
    # built-ins already use the stable one-pass formulations
    "stddevPopStable": "stddev_pop({0})", "stddevSampStable": "stddev_samp({0})",
    "varPopStable": "var_pop({0})", "varSampStable": "var_samp({0})",
    "covarPopStable": "covar_pop({0}, {1})",
    "covarSampStable": "covar_samp({0}, {1})", "corrStable": "corr({0}, {1})",
    # -Array combinator forms: aggregate over all array elements
    # (DOUBLE accumulator — renderers fold integral floats back)
    "sumArray": (
        "sum(aggregate({0}, CAST(0 AS DOUBLE), (acc, e) -> acc + e))"
    ),
    "minArray": "min(array_min({0}))", "maxArray": "max(array_max({0}))",
    "avgArray": (
        "(sum(aggregate({0}, CAST(0 AS DOUBLE), (acc, e) -> acc + e))"
        " / sum(size({0})))"
    ),
    "countArray": "sum(size({0}))",
    "sumArrayIf": (
        "sum(aggregate(CASE WHEN {1} THEN {0} ELSE array() END, "
        "CAST(0 AS DOUBLE), (acc, e) -> acc + e))"
    ),
    # flatten-then-distinct inside one agg expression; fine at the SQL
    # compat scale — the distributed path is functions.states' -Array.
    # Multi-arg forms count distinct POSITION-TUPLES across the
    # parallel arrays (AggregateFunctionArray.h zips its arguments)
    "uniqArray": lambda a: (
        "size(array_distinct(flatten(collect_list("
        + (a[0] if len(a) == 1 else _zip_arrays_struct(a))
        + "))))"
    ),
    "uniqExactArray": lambda a: (
        "size(array_distinct(flatten(collect_list("
        + (a[0] if len(a) == 1 else _zip_arrays_struct(a))
        + "))))"
    ),
    # fallback only: _translate_expr folds sumMap as a real aggregate
    # over the group (_agg_map_expr)
    "sumMap": "map_from_arrays({0}, {1})",
    # misc
    "e": "exp(1)", "pi": "pi()", "sqrt": "sqrt({0})", "cbrt": "cbrt({0})",
    "exp2": "pow(CAST(2 AS DOUBLE), {0})",
    # integral powers of ten parse exactly from scientific notation
    # (pow() is one ulp off for large negative exponents)
    "exp10": (
        "(CASE WHEN ({0}) = floor({0}) AND abs({0}) < 400 "
        "THEN CAST(concat('1e', CAST({0} AS BIGINT)) AS DOUBLE) "
        "ELSE pow(CAST(10 AS DOUBLE), {0}) END)"
    ),
    "log1p": "log1p({0})", "expm1": "expm1({0})",
    # bit shift keeps 64-bit exactness where pow() would round
    "intExp2": (
        "(CASE WHEN ({0}) BETWEEN 0 AND 62 "
        "THEN CAST(shiftleft(CAST(1 AS BIGINT), CAST({0} AS INT)) "
        "AS DECIMAL(20, 0)) "
        "WHEN ({0}) = 63 THEN CAST(9223372036854775808 AS DECIMAL(20, 0)) "
        "WHEN ({0}) < 0 THEN CAST(0 AS DECIMAL(20, 0)) "
        "ELSE CAST(18446744073709551615 AS DECIMAL(20, 0)) END)"
    ),
    # UInt64 range with saturation at the top (intExp10 clamps to
    # 18446744073709551615 past 10^19)
    "intExp10": (
        "(CASE WHEN ({0}) BETWEEN 0 AND 19 "
        "THEN CAST(CAST(concat('1e', CAST({0} AS BIGINT)) AS DOUBLE) "
        "AS DECIMAL(20, 0)) "
        "WHEN ({0}) < 0 THEN CAST(0 AS DECIMAL(20, 0)) "
        "ELSE CAST(18446744073709551615 AS DECIMAL(20, 0)) END)"
    ),
    "toTypeName": lambda a: _to_type_name_expr(a[0]),
    "generateUUIDv4": "uuid()",
    # rand(N): the seed arg only labels INDEPENDENT streams — the same N
    # yields the SAME value everywhere it appears within a row (src/
    # Functions/rand.cpp), which expressions like `f(rand(1)) =
    # g(rand(1))` rely on.  Lowered to a per-row hash of
    # monotonically_increasing_id salted by the seed TEXT: per-row
    # distinct (uniq(rand(1)) ~ N, ORDER BY rand(1) shuffles), equal
    # across instances of the same seed in one projection (each
    # instance's row counter advances in lockstep for unconditional
    # evaluation — the corpus usage), distinct across seeds.  Tests can
    # only depend on that consistency, never on exact values.
    "rand": lambda a: (
        "CAST(rand() * 4294967296 AS BIGINT)" if not a or not a[0].strip()
        else "ch_rand_seeded({})".format(
            __import__("zlib").crc32(a[0].encode())
        )
    ),
    # randConstant: one random value shared by every row of the query
    # (src/Functions/randConstant.cpp).  A scalar subquery over rand() is
    # re-evaluated per row by Spark, so fold a Python-drawn literal at
    # TRANSLATE time — constant within the query, fresh across queries.
    "randConstant": lambda a: (
        f"CAST({__import__('random').randrange(2**32)} AS BIGINT)"
    ),
    # block introspection (src/Functions/blockSize.cpp, blockNumber.cpp,
    # rowNumberInBlock.cpp): Spark has no row blocks — the whole result
    # set behaves as ONE block, which is exactly the reference's answer
    # under max_block_size >= result size.  Row order follows the input
    # partition order (monotonically_increasing_id), matching the
    # reference's stream order for sorted/single-stream inputs.
    "blockSize": lambda a: "count(*) OVER ()",
    "blockNumber": lambda a: "CAST(1 AS BIGINT)",
    "rowNumberInBlock": lambda a: (
        "(row_number() OVER (ORDER BY monotonically_increasing_id()) - 1)"
    ),
    "rowNumberInAllBlocks": lambda a: (
        "(row_number() OVER (ORDER BY monotonically_increasing_id()) - 1)"
    ),
    # replicate(x, arr): constant x expanded to an array shaped like arr
    # (src/Functions/replicate.cpp)
    "replicate": "transform({1}, __rep_e -> {0})",
    # runningAccumulate(state[, grouping]) over fooState columns: the
    # dialect renders fooState as the finalized aggregate, so the running
    # re-merge of sum states is a cumulative window sum in stream order
    # (src/Functions/runningAccumulate.cpp); the optional second argument
    # resets accumulation on change, i.e. a window partition
    # runningDifference(x): x - previous x in stream order, 0 for the
    # first row (src/Functions/runningDifference.h; whole result = one
    # block here, same assumption as blockSize)
    "runningDifference": lambda a: (
        f"(CASE WHEN ({a[0]}) IS NULL THEN NULL "
        f"ELSE coalesce({a[0]} - lag({a[0]}) IGNORE NULLS OVER "
        f"(ORDER BY monotonically_increasing_id()), 0) END)"
    ),
    # ...StartingWithFirstValue: first row yields ITSELF, not 0
    "runningDifferenceStartingWithFirstValue": lambda a: (
        f"(CASE WHEN ({a[0]}) IS NULL THEN NULL "
        f"ELSE coalesce({a[0]} - lag({a[0]}) IGNORE NULLS OVER "
        f"(ORDER BY monotonically_increasing_id()), {a[0]}) END)"
    ),
    "countDistinct": "count(DISTINCT {*})",
    "tryBase64Decode": (
        "coalesce(CAST(try_to_binary({0}, 'base64') AS STRING), '')"
    ),
    # hasSubstr: contiguous subsequence with null-safe equality
    # (src/Functions/array/hasSubstr.cpp)
    "hasSubstr": lambda a: (
        f"(CASE WHEN size({a[1]}) = 0 THEN 1 "
        f"WHEN size({a[0]}) < size({a[1]}) THEN 0 "
        f"ELSE CAST(exists(sequence(1, size({a[0]}) - size({a[1]}) + 1), "
        f"__hi -> forall(sequence(1, size({a[1]})), __hj -> "
        f"element_at({a[0]}, CAST(__hi + __hj - 1 AS INT)) <=> "
        f"element_at({a[1]}, CAST(__hj AS INT)))) AS INT) END)"
    ),
    "multiSearchAny": lambda a: (
        f"CAST(exists({a[1]}, __n -> instr({a[0]}, __n) > 0) AS INT)"
    ),
    # timeSlots(t, dur[, size=1800]): slot starts from floor(t/size) to
    # floor((t+dur)/size) (src/Functions/timeSlots.cpp)
    "timeSlots": lambda a: (
        _raise_dialect("timeSlots: numeric arguments required")
        if any(x.strip().startswith("'") for x in a[1:])
        or (len(a) > 2 and a[2].strip().strip("()") == "0")
        else f"transform(sequence(CAST(floor(unix_timestamp({a[0]}) / "
        f"{a[2] if len(a) > 2 else 1800}) AS BIGINT), "
        f"CAST(floor((unix_timestamp({a[0]}) + ({a[1]})) / "
        f"{a[2] if len(a) > 2 else 1800}) AS BIGINT)), "
        f"__ts -> to_timestamp(__ts * {a[2] if len(a) > 2 else 1800}))"
    ),
    # roundDown(x, arr): largest element <= x, clamped to the minimum
    # (src/Functions/roundDown.cpp)
    "roundDown": lambda a: (
        f"coalesce(array_max(filter({a[1]}, __rd -> __rd <= ({a[0]}))), "
        f"array_min({a[1]}))"
        if "array()" not in a[1].replace(" ", "")
        else _raise_dialect("roundDown: empty boundary array")
    ),
    # MySQL-mode week numbering (toCustomWeek.cpp -> chweek.py UDFs)
    "toWeek": lambda a: (
        f"ch_to_week(CAST({a[0]} AS STRING), "
        f"{a[1] if len(a) > 1 else 0})"
    ),
    "toYearWeek": lambda a: (
        f"ch_to_year_week(CAST({a[0]} AS STRING), "
        f"{a[1] if len(a) > 1 else 0})"
    ),
    "arrayAUC": _array_auc_expr,
    # --- round-8 additions -------------------------------------------
    # hasToken: exact token match, tokens = maximal [0-9A-Za-z_] runs
    # (src/Functions/hasToken.cpp via HasTokenImpl / isWordCharASCII)
    "hasToken": (
        "CAST(array_contains(split({0}, '[^0-9A-Za-z_]+'), {1}) AS INT)"
    ),
    "hasTokenCaseInsensitive": (
        "CAST(array_contains(split(lower({0}), '[^0-9A-Za-z_]+'), "
        "lower({1})) AS INT)"
    ),
    # XML component codec (src/Functions/encodeXMLComponent.cpp,
    # decodeXMLComponent.cpp — decode via chtext.decode_xml_component)
    "encodeXMLComponent": (
        "replace(replace(replace(replace(replace({0}, '&', '&amp;'), "
        "'<', '&lt;'), '>', '&gt;'), '\"', '&quot;'), '\\'', '&apos;')"
    ),
    "decodeXMLComponent": "ch_decode_xml({0})",
    "netloc": _netloc_expr,
    # domainWithoutWWW(): URL host (getURLHost — requires a dotted
    # host) with one leading www. stripped (src/Functions/URL/domain.h)
    "domainWithoutWWW": (
        "regexp_replace(regexp_extract(regexp_replace({0}, "
        "'^([A-Za-z][A-Za-z0-9+.-]*:)?//', ''), "
        "'^(?:[^/?#@]*@)?([A-Za-z0-9-]+(?:\\.[A-Za-z0-9-]+)+)', 1), "
        "'^www\\.', '')"
    ),
    "port": _port_expr,
    "errorCodeToName": _error_code_to_name_expr,
    # throwIf(cond[, message]): per-row error when cond is true, else 0
    # (src/Functions/throwIf.cpp)
    "throwIf": lambda a: (
        f"IF(coalesce(CAST({a[0]} AS BOOLEAN), false), "
        f"CAST(raise_error({a[1] if len(a) > 1 else chr(39) + 'throwIf' + chr(39)}) AS INT), 0)"
    ),
    "connection_id": "CAST(0 AS BIGINT)",
    "connectionid": "CAST(0 AS BIGINT)",
    "accurateCast": lambda a: _accurate_cast_expr(a, False),
    "accurateCastOrNull": lambda a: _accurate_cast_expr(a, True),
    "toModifiedJulianDay": lambda a: _mjd_to_expr(a, False),
    "toModifiedJulianDayOrNull": lambda a: _mjd_to_expr(a, True),
    "fromModifiedJulianDay": lambda a: _mjd_from_expr(a, False),
    "fromModifiedJulianDayOrNull": lambda a: _mjd_from_expr(a, True),
    "toUUIDOrNull": lambda a: (
        f"IF(TRIM(TRAILING chr(0) FROM CAST({a[0]} AS STRING)) RLIKE "
        f"{_UUID_RE_SQL}, lower(TRIM(TRAILING chr(0) FROM "
        f"CAST({a[0]} AS STRING))), NULL)"
    ),
    "toUUIDOrZero": lambda a: (
        f"coalesce(IF(TRIM(TRAILING chr(0) FROM CAST({a[0]} AS STRING)) "
        f"RLIKE {_UUID_RE_SQL}, lower(TRIM(TRAILING chr(0) FROM "
        f"CAST({a[0]} AS STRING))), NULL), "
        f"'00000000-0000-0000-0000-000000000000')"
    ),
    # deltaSum: sum of positive adjacent deltas in arrival order
    # (src/AggregateFunctions/AggregateFunctionDeltaSum.h)
    "deltaSum": lambda a: _delta_sum_fold(
        f"collect_list(CAST({a[0]} AS DOUBLE))"
    ),
    # deltaSumTimestamp: parts are ordered by the timestamp column on
    # merge (AggregateFunctionDeltaSumTimestamp.h) — sort, then fold
    "deltaSumTimestamp": lambda a: _delta_sum_fold(
        f"transform(array_sort(collect_list(named_struct("
        f"'t', CAST(CAST({a[1]} AS TIMESTAMP) AS DOUBLE), "
        f"'v', CAST({a[0]} AS DOUBLE)))), "
        f"__dt -> __dt.v)"
    ),
    # statistical tests — bit-exact Python finalizers over ONE collected
    # row per group (functions/chstats.py replays the reference's
    # Simpson-integration p-values); the scale path is functions/stats.py
    "welchTTest": (
        "ch_welch_ttest(collect_list(CAST({0} AS DOUBLE)), "
        "collect_list(CAST({1} AS INT)))"
    ),
    "studentTTest": (
        "ch_student_ttest(collect_list(CAST({0} AS DOUBLE)), "
        "collect_list(CAST({1} AS INT)))"
    ),
    "mannWhitneyUTest": (
        "ch_mann_whitney(collect_list(CAST({0} AS DOUBLE)), "
        "collect_list(CAST({1} AS INT)), 'two-sided', 1)"
    ),
    "rankCorr": (
        "ch_rank_corr(collect_list(CAST({0} AS DOUBLE)), "
        "collect_list(CAST({1} AS DOUBLE)))"
    ),
    # anyHeavy: heavy-hitter (most frequent value, first-seen tiebreak)
    # — exact mode via the topK fold (AggregateFunctionAnyHeavy ~ k=1)
    "anyHeavy": lambda a: (
        # untyped empty-array literals can't thread the frequency fold
        # (array_position rejects NULL-typed arrays) — any_value is
        # exact for a constant column anyway
        f"any_value({a[0]}, true)"
        if "array()" in a[0].replace(" ", "")
        else f"element_at({_topk_expr(['1'], a)}, 1)"
    ),
    # categoricalInformationValue(x1..xn, tag)
    # (AggregateFunctionCategoricalInformationValue.h): per indicator
    # (no/sum_no - yes/sum_yes) * (ln(no/sum_no) - ln(yes/sum_yes)),
    # with C IEEE semantics (1/0 = inf, 0*inf = nan, ln(0) = -inf)
    # that Spark's NULL-on-zero-division division must not mask
    "categoricalInformationValue": lambda a: (
        lambda y: "array(" + ", ".join(
            (
                lambda no, yes, rn, ry: (
                    f"(({no} * {rn} - {yes} * {ry}) * "
                    f"({_ch_ln(f'{no} * {rn}')} - "
                    f"{_ch_ln(f'{yes} * {ry}')}))"
                )
            )(
                f"CAST(coalesce(sum(IF(CAST({xi} AS BOOLEAN) AND NOT "
                f"CAST({y} AS BOOLEAN), 1, 0)), 0) AS DOUBLE)",
                f"CAST(coalesce(sum(IF(CAST({xi} AS BOOLEAN) AND "
                f"CAST({y} AS BOOLEAN), 1, 0)), 0) AS DOUBLE)",
                f"IF(coalesce(sum(IF(CAST({y} AS BOOLEAN), 0, 1)), 0) = 0, "
                f"double('inf'), CAST(1 AS DOUBLE) / "
                f"sum(IF(CAST({y} AS BOOLEAN), 0, 1)))",
                f"IF(coalesce(sum(IF(CAST({y} AS BOOLEAN), 1, 0)), 0) = 0, "
                f"double('inf'), CAST(1 AS DOUBLE) / "
                f"sum(IF(CAST({y} AS BOOLEAN), 1, 0)))",
            )
            for xi in a[:-1]
        ) + ")"
    )(a[-1]),
    # bit reinterpretation between same-width ints and floats
    # (src/Functions/reinterpretAs.cpp) — Java Float/Double bit casts
    # via the reflect() SQL function (JVM-side, string result cast back)
    "reinterpretAsFloat32": (
        "CAST(reflect('java.lang.Float', 'intBitsToFloat', "
        "CAST({0} AS INT)) AS FLOAT)"
    ),
    "reinterpretAsFloat64": (
        "CAST(reflect('java.lang.Double', 'longBitsToDouble', "
        "CAST({0} AS BIGINT)) AS DOUBLE)"
    ),
    "hasToken": lambda a: _has_token_expr(a),
    "hasTokenCaseInsensitive": lambda a: _has_token_expr(a, ci=True),
    "hasTokenOrNull": lambda a: _has_token_expr(a, or_null=True),
    "hasTokenCaseInsensitiveOrNull": lambda a: _has_token_expr(
        a, ci=True, or_null=True
    ),
    # now64(scale[, tz]): subsecond now, rendered at the given scale
    # (src/Functions/now64.cpp; scale > 9 is error 69).  STRING-shaped:
    # only the rendering is observable in the corpus tier
    "now64": lambda a: (
        _raise_dialect("now64: scale out of range")
        if a and re.fullmatch(r"[0-9]+", a[0].strip().strip("()"))
        and int(a[0].strip().strip("()")) > 9
        else (
            lambda p: (
                "date_format(now(), 'yyyy-MM-dd HH:mm:ss')" if p == 0
                else f"concat(date_format(now(), 'yyyy-MM-dd HH:mm:ss'),"
                f" '.', substr(rpad(date_format(now(), 'SSSSSS'), "
                f"{max(p, 6)}, '0'), 1, {p}))"
            )
        )(
            int(a[0].strip().strip("()"))
            if a and re.fullmatch(r"[0-9]+", a[0].strip().strip("()"))
            else 3
        )
    ),
    # build/system introspection: a stable pseudo build id; filesystem
    # numbers read from the real filesystem at translate time (only the
    # capacity >= free >= available >= 0 ordering is observable)
    "buildId": lambda a: "'" + "d41d8cd98f00b204e9800998ecf8427e" + "'",
    "filesystemCapacity": lambda a: str(
        __import__("os").statvfs("/").f_blocks
        * __import__("os").statvfs("/").f_frsize
    ),
    "filesystemFree": lambda a: str(
        __import__("os").statvfs("/").f_bfree
        * __import__("os").statvfs("/").f_frsize
    ),
    "filesystemAvailable": lambda a: str(
        __import__("os").statvfs("/").f_bavail
        * __import__("os").statvfs("/").f_frsize
    ),
    # --- end round-8 additions ---------------------------------------
    "jumpConsistentHash": (
        "ch_jump_hash(CAST({0} AS STRING), CAST({1} AS INT))"
    ),
    # n caps at 32768 (yandexConsistentHash.cpp max_buckets, error 36)
    "yandexConsistentHash": lambda a: (
        _raise_dialect("yandexConsistentHash: too many buckets")
        if a[1].strip().strip("()").isdigit()
        and int(a[1].strip().strip("()")) > 32768
        else f"ch_yandex_hash(CAST({a[0]} AS STRING), CAST({a[1]} AS INT))"
    ),
    # neighbor(x, offset[, default]): value offset rows away in stream
    # order (src/Functions/neighbor.cpp); a non-constant offset indexes
    # into the whole collected column (lead/lag demand a constant)
    "neighbor": lambda a: _neighbor_expr(a),
    "runningAccumulate": lambda a: (
        # set states (collect_set/collect_list renderings) accumulate by
        # running union; numeric states by running sum
        (
            f"array_distinct(flatten(collect_list({a[0]}) OVER ("
            + (f"PARTITION BY {a[1]} " if len(a) > 1 else "")
            + "ORDER BY monotonically_increasing_id() "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))"
        )
        if "collect_set" in a[0] or "collect_list" in a[0]
        else (
            f"sum({a[0]}) OVER ("
            + (f"PARTITION BY {a[1]} " if len(a) > 1 else "")
            + "ORDER BY monotonically_increasing_id() "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
    ),
    # sumWithOverflow keeps the input type width (wraparound); at the
    # value level it equals sum whenever no overflow occurs
    "sumWithOverflow": "sum({0})",
    # reinterpretAsString(n): the little-endian bytes of the integer with
    # trailing zero bytes dropped (src/Functions/reinterpretAs.cpp) —
    # hex() is big-endian minimal, so pad to whole bytes, reverse the
    # byte pairs, decode as UTF-8
    # isConstant: decided at TRANSLATE time — constant iff the translated
    # argument references no column identifier (src/Functions/
    # isConstant.cpp); SQL keywords / type names / emitted builtins are
    # stripped before the check
    "isConstant": lambda a: (
        "0"
        if re.search(
            r"[A-Za-z_][A-Za-z0-9_]*",
            re.sub(
                r"(?i)\b(CAST|AS|DOUBLE|BIGINT|INT|SMALLINT|TINYINT|STRING|"
                r"BOOLEAN|DECIMAL|CASE|WHEN|THEN|ELSE|END|IF|NOT|AND|OR|"
                r"TRUE|FALSE|NULL|array|named_struct|struct|coalesce|chr|"
                r"rpad|TRIM|TRAILING|FROM|SELECT|e)\b",
                "",
                re.sub(r"'[^']*'", "", a[0]),
            ),
        )
        else "1"
    ),
    # reinterpretAsUInt*: little-endian byte value of a (byte-)string;
    # numbers pass through the same formula via their decimal digits'
    # semantics not applying — corpus usage is single-char strings
    **{
        f"reinterpretAsUInt{w}": (
            lambda a, _w=w: (
                f"aggregate(sequence(1, least(length({a[0]}), {_w // 8})), "
                f"CAST(0 AS BIGINT), (acc, __i) -> acc + ascii(substr({a[0]}, __i, 1)) "
                f"* CAST(pow(256, __i - 1) AS BIGINT))"
            )
        )
        for w in (8, 16, 32, 64)
    },
    # malformed-UTF8 byte patterns (most small integers) cannot equal any
    # valid string literal, so they surface as NULL instead of a decode
    # error — equality filters behave exactly like the reference's
    "reinterpretAsString": lambda a: (
        # a UUID value exposes its in-memory image (reversed LE halves)
        f"ch_uuid_mem({a[0]})"
        if re.match(
            r"(?i)\s*\(*\s*(uuid\(\)|ch_reinterpret_uuid\(|"
            r"'[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
            r"[0-9a-f]{12}')",
            a[0],
        )
        else (
            "IF(is_valid_utf8(unhex(concat_ws('', reverse(regexp_extract_all("
            "lpad(hex({0}), CAST(ceil(length(hex({0})) / 2) * 2 AS INT), '0'), "
            "'(..)'))))), "
            "decode(unhex(concat_ws('', reverse(regexp_extract_all("
            "lpad(hex({0}), CAST(ceil(length(hex({0})) / 2) * 2 AS INT), '0'), "
            "'(..)')))), 'UTF-8'), NULL)"
        ).format(a[0])
    ),
    "reinterpretAsUUID": "ch_reinterpret_uuid({0})",
    # reverse over a binary producer must stay byte-wise (Spark's
    # reverse only takes string/array)
    "reverse": lambda a: (
        f"ch_binrev({a[0]})"
        if re.match(r"(?i)\s*(ch_uuid_mem|unhex)\s*\(", a[0])
        else f"reverse({a[0]})"
    ),
    "rand64": "CAST(rand() * 9.223372036854776e18 AS BIGINT)",
    # bar(x, min, max[, width=80]): whole blocks only (the reference
    # also renders 1/8 partials; NaN/negative widths give empty)
    # UnicodeBar::render — whole blocks + one eighth-block partial
    # (remainder list has ▋ twice, matching the reference byte-for-byte)
    "bar": lambda a: _bar_expr(a),
    "least": "least({*})", "greatest": "greatest({*})",
    # intHash64/intHash32 (src/Common/HashTable/Hash.h via
    # IntHash64Impl/IntHash32Impl): literal args fold exactly at
    # translate time; dynamic intHash64 lowers to exact wrap-around
    # BIGINT arithmetic, dynamic intHash32 to a registered UDF
    "intHash64": lambda a: _int_hash_fn(a[0], 64),
    "intHash32": lambda a: _int_hash_fn(a[0], 32),
    "farmHash64": "xxhash64({*})",
    # approximate fallbacks for murmur over non-literal args (literal
    # calls fold exactly via _exact_hash_call)
    "murmurHash2_32": "(abs(xxhash64({*})) % 4294967296)",
    "murmurHash2_64": "xxhash64({*})",
    "murmurHash3_64": "xxhash64({*})",
    "gccMurmurHash": "xxhash64({*})",
    "IPv4NumToString": (
        "concat(CAST(shiftright({0}, 24) % 256 AS STRING), '.', "
        "CAST(shiftright({0}, 16) % 256 AS STRING), '.', "
        "CAST(shiftright({0}, 8) % 256 AS STRING), '.', CAST({0} % 256 AS STRING))"
    ),
    "IPv4StringToNum": (
        "(CAST(split({0}, '\\\\.')[0] AS BIGINT) * 16777216 + "
        "CAST(split({0}, '\\\\.')[1] AS BIGINT) * 65536 + "
        "CAST(split({0}, '\\\\.')[2] AS BIGINT) * 256 + "
        "CAST(split({0}, '\\\\.')[3] AS BIGINT))"
    ),
    # ------------------------------------------------------------------
    # round-10 routine-tail batch (UDFs in functions/chcoding.py /
    # functions/chgeo.py; reference-exact algorithms, corpus tier)
    # ------------------------------------------------------------------
    # CRC32 is zlib's (src/Functions/CRC.cpp CRC32ZLIBImpl) = Spark's
    # builtin; IEEE/64 use the reference's init-0 reflected tables
    "crc32": "crc32(CAST({0} AS BINARY))",
    "crc32ieee": "ch_crc32ieee({0})",
    # decimal display is the unsigned UInt64 (hex() strips the wrapper
    # in _hex_expr — the signed long's two's-complement bytes ARE the
    # unsigned value's bytes)
    "crc64": lambda a: _unsigned_u64(f"ch_crc64({a[0]})"),
    "IPv6NumToString": "ch_ipv6_ntos({0})",
    "IPv6StringToNum": "ch_ipv6_ston({0})",
    "INET6_NTOA": "ch_ipv6_ntos({0})",
    "INET6_ATON": "ch_ipv6_ston({0})",
    "geohashEncode": lambda a: (
        "ch_geohash_encode(CAST(" + a[0] + " AS DOUBLE), CAST("
        + a[1] + " AS DOUBLE), " + (a[2] if len(a) > 2 else "12") + ")"
    ),
    "geohashDecode": "ch_geohash_decode({0})",
    # coalesce: out-of-range arrayElement substitutes the type default
    # ('' for String) in the reference, not NULL
    "URLHash": lambda a: (
        f"ch_urlhash(coalesce({a[0]}, ''), NULL)" if len(a) == 1
        else f"ch_urlhash(coalesce({a[0]}, ''), {a[1]})"
    ),
    "URLHierarchy": "ch_url_hierarchy({0})",
    # weeks since epoch, Monday-based, +8 underflow guard, UInt16 wrap
    # (base/common/DateLUTImpl.h:542 toRelativeWeekNum)
    "toRelativeWeekNum": (
        "pmod((datediff(CAST({0} AS DATE), DATE '1970-01-01') + 8 "
        "- (weekday(CAST({0} AS DATE)) + 1)) div 7, 65536)"
    ),
    # generic typed JSONExtract (src/Functions/FunctionsJSON.h
    # JSONExtractTree): numeric targets fail (-> type default, or NULL
    # under Nullable) on fractional or out-of-range doubles
    "JSONExtract": lambda a: _json_extract_typed(a),
    # ------------------------------------------------------------------
    # round-4 long-tail batch (corpus burn-down)
    # ------------------------------------------------------------------
    # bit functions (src/Functions/bitAnd.cpp family); UInt64 semantics
    # ride on BIGINT two's-complement, identical bit patterns
    "bitAnd": "({0} & {1})", "bitOr": "({0} | {1})", "bitXor": "({0} ^ {1})",
    "bitNot": "(~{0})",
    "bitTest": (
        "CAST((shiftright(CAST({0} AS BIGINT), CAST({1} AS INT)) & 1) "
        "AS TINYINT)"
    ),
    "bitTestAny": lambda a: (
        "CAST(("
        + " OR ".join(
            f"(shiftright(CAST({a[0]} AS BIGINT), CAST({x} AS INT)) & 1) = 1"
            for x in a[1:]
        )
        + ") AS TINYINT)"
    ),
    "bitTestAll": lambda a: (
        "CAST(("
        + " AND ".join(
            f"(shiftright(CAST({a[0]} AS BIGINT), CAST({x} AS INT)) & 1) = 1"
            for x in a[1:]
        )
        + ") AS TINYINT)"
    ),
    "bitCount": "bit_count({0})",
    "bitHammingDistance": "bit_count(CAST({0} AS BIGINT) ^ CAST({1} AS BIGINT))",
    "bitRotateLeft": (
        "(shiftleft(CAST({0} AS BIGINT), CAST({1} AS INT)) | "
        "shiftrightunsigned(CAST({0} AS BIGINT), 64 - CAST({1} AS INT)))"
    ),
    "bitRotateRight": (
        "(shiftrightunsigned(CAST({0} AS BIGINT), CAST({1} AS INT)) | "
        "shiftleft(CAST({0} AS BIGINT), 64 - CAST({1} AS INT)))"
    ),
    # string/misc aliases
    "mid": lambda a: _substring_expr(a),
    "substr": lambda a: _substring_expr(a),
    "substring": lambda a: _substring_expr(a),
    "lcase": "lower({0})", "ucase": "upper({0})",
    "locate": lambda a: _position_expr(a),
    "sigmoid": "(1.0 / (1.0 + exp(-(CAST({0} AS DOUBLE)))))",
    # erf/erfc via commons-math3 (on Spark's classpath); reflect returns
    # the double's shortest round-trip string — cast back is exact
    "erf": (
        "CAST(reflect('org.apache.commons.math3.special.Erf', 'erf', "
        "CAST({0} AS DOUBLE)) AS DOUBLE)"
    ),
    "erfc": (
        "CAST(reflect('org.apache.commons.math3.special.Erf', 'erfc', "
        "CAST({0} AS DOUBLE)) AS DOUBLE)"
    ),
    "sumDistinct": "sum(DISTINCT {0})",
    # sumKahan: plain sum (no compensated accumulation in one expression;
    # differs only where double summation error exceeds Kahan's)
    "sumKahan": "sum({0})",
    "isZeroOrNull": "CAST(({0} IS NULL OR {0} = 0) AS INT)",
    # floor/ceil/trunc with a scale argument (FunctionsRound.h: scale may
    # be negative = round to tens/hundreds; trunc is toward zero);
    # 1-arg floor/ceil pass through to Spark's own
    "floor": lambda a: (
        f"floor({a[0]})" if len(a) == 1 else _scaled_round_sql("floor", a)
    ),
    "ceil": lambda a: (
        f"ceil({a[0]})" if len(a) == 1 else _scaled_round_sql("ceil", a)
    ),
    "ceiling": lambda a: (
        f"ceil({a[0]})" if len(a) == 1 else _scaled_round_sql("ceil", a)
    ),
    "trunc": lambda a: (
        f"IF(CAST({a[0]} AS DOUBLE) >= 0, floor({a[0]}), ceil({a[0]}))"
        if len(a) == 1 else _scaled_round_sql("trunc", a)
    ),
    "truncate": lambda a: (
        f"IF(CAST({a[0]} AS DOUBLE) >= 0, floor({a[0]}), ceil({a[0]}))"
        if len(a) == 1 else _scaled_round_sql("trunc", a)
    ),
    # roundBankers = half-even; rint is the IEEE 754 roundTiesToEven
    "roundBankers": lambda a: (
        f"rint(CAST({a[0]} AS DOUBLE))"
        if len(a) == 1
        # + 0.0 normalizes the -0 that rint leaves on small negative
        # integers scaled by a negative exponent (Int paths print 0)
        else _scaled_round_sql("rint", a)
    ),
    # roundAge/roundDuration: the reference's fixed breakpoints
    # (src/Functions/roundAge.cpp, roundDuration.cpp)
    "roundAge": (
        "(CASE WHEN {0} < 1 THEN 0 WHEN {0} < 18 THEN 17 "
        "WHEN {0} < 25 THEN 18 WHEN {0} < 35 THEN 25 WHEN {0} < 45 THEN 35 "
        "WHEN {0} < 55 THEN 45 ELSE 55 END)"
    ),
    "roundDuration": (
        "(CASE WHEN {0} < 1 THEN 0 WHEN {0} < 10 THEN 1 WHEN {0} < 30 THEN 10 "
        "WHEN {0} < 60 THEN 30 WHEN {0} < 120 THEN 60 WHEN {0} < 180 THEN 120 "
        "WHEN {0} < 240 THEN 180 WHEN {0} < 300 THEN 240 "
        "WHEN {0} < 600 THEN 300 WHEN {0} < 1200 THEN 600 "
        "WHEN {0} < 1800 THEN 1200 WHEN {0} < 3600 THEN 1800 "
        "WHEN {0} < 7200 THEN 3600 WHEN {0} < 18000 THEN 7200 "
        "WHEN {0} < 36000 THEN 18000 ELSE 36000 END)"
    ),
    "roundToExp2": (
        "CAST(CASE WHEN {0} < 1 THEN 0 "
        "ELSE pow(2, floor(log2(CAST({0} AS DOUBLE)))) END AS BIGINT)"
    ),
    "hostName": lambda a: "'localhost'", "hostname": lambda a: "'localhost'",
    "FROM_BASE64": "CAST(unbase64({0}) AS STRING)",
    "TO_BASE64": "base64(CAST({0} AS BINARY))",
    "INET_NTOA": (
        "concat(CAST(shiftright({0}, 24) % 256 AS STRING), '.', "
        "CAST(shiftright({0}, 16) % 256 AS STRING), '.', "
        "CAST(shiftright({0}, 8) % 256 AS STRING), '.', CAST({0} % 256 AS STRING))"
    ),
    "INET_ATON": (
        "(CAST(split({0}, '\\\\.')[0] AS BIGINT) * 16777216 + "
        "CAST(split({0}, '\\\\.')[1] AS BIGINT) * 65536 + "
        "CAST(split({0}, '\\\\.')[2] AS BIGINT) * 256 + "
        "CAST(split({0}, '\\\\.')[3] AS BIGINT))"
    ),
    "IPv4NumToStringClassC": (
        "concat(CAST(shiftright({0}, 24) % 256 AS STRING), '.', "
        "CAST(shiftright({0}, 16) % 256 AS STRING), '.', "
        "CAST(shiftright({0}, 8) % 256 AS STRING), '.xxx')"
    ),
    "MACNumToString": (
        "upper(concat_ws(':', transform(sequence(5, 0, -1), "
        "__m -> lpad(hex(shiftright(CAST({0} AS BIGINT), __m * 8) & 255), "
        "2, '0'))))"
    ),
    "MACStringToNum": (
        "(CASE WHEN size(split({0}, ':')) = 6 THEN "
        "aggregate(split({0}, ':'), CAST(0 AS BIGINT), "
        "(__a, __h) -> __a * 256 + CAST(conv(__h, 16, 10) AS BIGINT)) "
        "ELSE 0 END)"
    ),
    "decodeURLComponent": "url_decode({0})",
    "visitParamExtractFloat": (
        "CAST(get_json_object({0}, concat('$.', {1})) AS DOUBLE)"
    ),
    "JSONLength": lambda a: (
        f"coalesce(CASE WHEN ltrim({a[0]}) LIKE '[%' "
        f"THEN json_array_length({a[0]}) "
        f"ELSE size(json_object_keys({a[0]})) END, 0)"
        if len(a) == 1
        else "0"
    ),
    # default value of the ARGUMENT's type, inferred at translate time
    # from the translated literal (the corpus calls it on literals only)
    "defaultValueOfArgumentType": lambda a: _default_value_of(a[0]),
    # schema lookup answered at translate time from the active script
    # tables (src/Functions/hasColumnInTable.cpp)
    "hasColumnInTable": lambda a: (
        "1"
        if (
            (lambda tbl, col, schemas: any(
                c[0] == col for c in schemas.get(tbl, [])
            ))(
                a[-2].strip("'"), a[-1].strip("'"),
                _SCRIPT_SCHEMAS_CTX.get() or {},
            )
        )
        else "0"
    ),
    "gcd": lambda a: _gcd_expr(a[0], a[1]),
    "lcm": lambda a: (
        f"CAST(abs(CAST({a[0]} AS BIGINT) * CAST({a[1]} AS BIGINT)) / "
        f"{_gcd_expr(a[0], a[1])} AS BIGINT)"
    ),
    # Java String.hashCode: 31-based fold with int wraparound (non-ANSI
    # CAST truncates to the low 32 bits, same as Java overflow)
    "javaHash": (
        "aggregate(sequence(1, length({0})), 0, "
        "(__h, __i) -> CAST(31 * __h + ascii(substring({0}, __i, 1)) AS INT))"
    ),
    # hiveHash = javaHash with the sign bit cleared (FunctionsHashing.h
    # HiveHashImpl)
    "hiveHash": (
        "(aggregate(sequence(1, length({0})), 0, "
        "(__h, __i) -> CAST(31 * __h + ascii(substring({0}, __i, 1)) AS INT))"
        " & 2147483647)"
    ),
    # digits of the UNDERLYING integer: decimals count unscaled digits,
    # zero counts 0 (src/Functions/countDigits.cpp)
    "countDigits": (
        "length(regexp_replace(regexp_replace(CAST(abs({0}) AS STRING), "
        "'[^0-9]', ''), '^0+', ''))"
    ),
    # random* appear in tests only via length()/toTypeName() invariants —
    # a deterministic filler has identical observable behavior here
    "randomPrintableASCII": "repeat('a', CAST({0} AS INT))",
    "randomString": "repeat(chr(1), CAST({0} AS INT))",
    "formatReadableSize": lambda a: _format_readable_expr(
        a[0], 1024.0, [" B", " KiB", " MiB", " GiB", " TiB", " PiB",
                       " EiB", " ZiB", " YiB"]
    ),
    "formatReadableQuantity": lambda a: _format_readable_expr(
        a[0], 1000.0,
        ["", " thousand", " million", " billion", " trillion", " quadrillion"],
    ),
    # array long tail (src/Functions/array/*)
    "arrayDifference": (
        "transform({0}, (__x, __i) -> CASE WHEN __i = 0 THEN 0 "
        "ELSE __x - element_at({0}, __i) END)"
    ),
    "arrayCumSum": (
        "transform({0}, (__x, __i) -> aggregate(slice({0}, 1, __i + 1), "
        "CAST(0 AS DOUBLE), (__a, __y) -> __a + __y))"
    ),
    "arrayCumSumNonNegative": (
        "slice(aggregate({0}, array(CAST(0 AS DOUBLE)), "
        "(__acc, __x) -> concat(__acc, array(greatest("
        "element_at(__acc, -1) + __x, CAST(0 AS DOUBLE))))), 2, size({0}))"
    ),
    "arrayProduct": "aggregate({0}, CAST(1 AS DOUBLE), (__a, __x) -> __a * __x)",
    # collapse consecutive duplicates (arrayCompact.cpp); element i kept
    # iff first or differs from element i-1 (element_at is 1-based, __i 0-based)
    "arrayCompact": (
        "transform(filter(transform({0}, (__x, __i) -> "
        "named_struct('v', __x, 'i', __i)), __s -> __s.i = 0 OR "
        "NOT (__s.v <=> element_at({0}, __s.i))), __s -> __s.v)"
    ),
    "arrayResize": _array_resize,
    "arrayReverseSort": lambda a: _array_sort(a, desc=True),
    "arrayZip": "arrays_zip({*})",
    "arrayFill": lambda a: _array_fill_expr(a, reverse=False),
    "arrayReverseFill": lambda a: _array_fill_expr(a, reverse=True),
    "splitByRegexp": "split({1}, {0})",
    "regexpQuoteMeta": (
        "regexp_replace({0}, '([\\\\x00\\\\\\\\|()^$.\\\\[\\\\]?*+{{:-])', '\\\\\\\\$1')"
    ),
    "toStringCutToZero": "element_at(split(CAST({0} AS STRING), chr(0)), 1)",
    "reinterpretAsFloat64": (
        "CAST(reflect('java.lang.Double', 'longBitsToDouble', "
        "CAST({0} AS BIGINT)) AS DOUBLE)"
    ),
    "reinterpretAsFloat32": (
        "CAST(reflect('java.lang.Float', 'intBitsToFloat', "
        "CAST({0} AS INT)) AS FLOAT)"
    ),
    "toDateOrZero": (
        "IF({0} IS NULL, NULL, coalesce(IF(CAST({0} AS STRING) RLIKE '^\\\\s*[0-9]*\\\\s*$', NULL, try_cast({0} AS DATE)), DATE '1970-01-01'))"
    ),
    "toDateTimeOrZero": (
        "IF({0} IS NULL, NULL, coalesce("
        "IF(CAST({0} AS STRING) RLIKE '^\\\\s*[0-9]*\\\\s*$', NULL, "
        "try_cast({0} AS TIMESTAMP)), "
        "to_timestamp('1970-01-01 00:00:00')))"
    ),
    "toDecimal32OrZero": lambda a: (
        f"coalesce(try_cast({a[0]} AS DECIMAL(9, {a[1]})), "
        f"CAST(0 AS DECIMAL(9, {a[1]})))"
    ),
    "toDecimal64OrZero": lambda a: (
        f"coalesce(try_cast({a[0]} AS DECIMAL(18, {a[1]})), "
        f"CAST(0 AS DECIMAL(18, {a[1]})))"
    ),
    "toDecimal128OrZero": lambda a: (
        f"coalesce(try_cast({a[0]} AS DECIMAL(38, {a[1]})), "
        f"CAST(0 AS DECIMAL(38, {a[1]})))"
    ),
    "toDecimal32OrNull": lambda a: f"try_cast({a[0]} AS DECIMAL(9, {a[1]}))",
    "toDecimal64OrNull": lambda a: f"try_cast({a[0]} AS DECIMAL(18, {a[1]}))",
    "toDecimal128OrNull": lambda a: (
        f"try_cast({a[0]} AS DECIMAL(38, {a[1]}))"
    ),
    "toDecimal256": lambda a: f"CAST({a[0]} AS DECIMAL(38, {a[1]}))",
    "toYYYYMMDDhhmmss": (
        "CAST(date_format(CAST({0} AS TIMESTAMP), 'yyyyMMddHHmmss') AS BIGINT)"
    ),
    # ISO year y starts at the Monday of the week containing Jan 4
    "toStartOfISOYear": (
        "to_date(date_trunc('week', "
        "make_date(CAST(extract(YEAROFWEEK FROM {0}) AS INT), 1, 4)))"
    ),
    "subtractSeconds": (
        "(CAST({0} AS TIMESTAMP) - make_interval(0, 0, 0, 0, 0, 0, {1}))"
    ),
    "toStartOfInterval": lambda a: _to_start_of_interval_expr(a),
    # aggregate combinators (long tail)
    "groupArrayArray": "flatten(collect_list({0}))",
    "groupUniqArrayArray": (
        "array_distinct(flatten(collect_list({0})))"
    ),
    # -Array combinator over TWO-argument argMin/argMax: all element
    # pairs across rows compete (AggregateFunctionArray + argMin)
    "argMinArray": (
        "element_at(array_sort(flatten(collect_list(zip_with({0}, {1}, "
        "(__v, __w) -> named_struct('v', __v, 'w', __w)))), "
        "(__l, __r) -> CASE WHEN __l.w < __r.w THEN -1 "
        "WHEN __l.w > __r.w THEN 1 ELSE 0 END), 1).v"
    ),
    "argMaxArray": (
        "element_at(array_sort(flatten(collect_list(zip_with({0}, {1}, "
        "(__v, __w) -> named_struct('v', __v, 'w', __w)))), "
        "(__l, __r) -> CASE WHEN __l.w > __r.w THEN -1 "
        "WHEN __l.w < __r.w THEN 1 ELSE 0 END), 1).v"
    ),
    "visitParamExtractBool": (
        "CAST(get_json_object({0}, concat('$.', {1})) = 'true' AS INT)"
    ),
    "toDateTimeOrNull": "IF(CAST({0} AS STRING) RLIKE '^\\\\s*[0-9]*\\\\s*$', NULL, try_cast({0} AS TIMESTAMP))",
    "bitmaskToArray": (
        "transform(filter(sequence(0, 62), "
        "__b -> (shiftright(CAST({0} AS BIGINT), __b) & 1) = 1), "
        "__b -> shiftleft(CAST(1 AS BIGINT), __b))"
    ),
    # simpleJSON* are the documented names of the visitParam* family
    "simpleJSONExtractInt": (
        "CAST(get_json_object({0}, concat('$.', {1})) AS BIGINT)"
    ),
    "simpleJSONExtractUInt": (
        "CAST(get_json_object({0}, concat('$.', {1})) AS BIGINT)"
    ),
    "simpleJSONExtractFloat": (
        "CAST(get_json_object({0}, concat('$.', {1})) AS DOUBLE)"
    ),
    "simpleJSONExtractBool": (
        "CAST(get_json_object({0}, concat('$.', {1})) = 'true' AS INT)"
    ),
    "simpleJSONHas": (
        "CAST(get_json_object({0}, concat('$.', {1})) IS NOT NULL AS INT)"
    ),
    "simpleJSONExtractString": (
        "coalesce(get_json_object({0}, concat('$.', {1})), "
        "regexp_extract({0}, concat('\"', {1}, '\":\\\\s*\"([^\"]*)'), 1))"
    ),
    "simpleJSONExtractRaw": (
        "coalesce(get_json_object({0}, concat('$.', {1})), "
        "regexp_extract({0}, concat('\"', {1}, '\":\\\\s*([^,}}]*)'), 1))"
    ),
    "bitmaskToList": (
        "concat_ws(',', transform(filter(sequence(0, 62), "
        "__b -> (shiftright(CAST({0} AS BIGINT), __b) & 1) = 1), "
        "__b -> CAST(shiftleft(CAST(1 AS BIGINT), __b) AS STRING)))"
    ),
    "groupUniqArrayIf": (
        "collect_set(CASE WHEN CAST({1} AS BOOLEAN) THEN {0} END)"
    ),
    # accepts both the full XX:XX:XX:XX:XX:XX form and the 3-group OUI
    # prefix (src/Functions/FunctionsCoding.h parses the first 3 groups)
    "MACStringToOUI": (
        "(CASE WHEN size(split({0}, ':')) IN (3, 6) THEN "
        "aggregate(slice(split({0}, ':'), 1, 3), CAST(0 AS BIGINT), "
        "(__a, __h) -> __a * 256 + CAST(conv(__h, 16, 10) AS BIGINT)) "
        "ELSE 0 END)"
    ),
    "boundingRatio": (
        "coalesce((max_by(CAST({1} AS DOUBLE), {0}) - "
        "min_by(CAST({1} AS DOUBLE), {0})) / "
        "(max(CAST({0} AS DOUBLE)) - min(CAST({0} AS DOUBLE))), "
        "double('nan'))"
    ),
    "uniqCombined64": "approx_count_distinct({*})",
    "lgamma": (
        "CAST(reflect('org.apache.commons.math3.special.Gamma', "
        "'logGamma', CAST({0} AS DOUBLE)) AS DOUBLE)"
    ),
    "tgamma": (
        "CAST(reflect('org.apache.commons.math3.special.Gamma', "
        "'gamma', CAST({0} AS DOUBLE)) AS DOUBLE)"
    ),
    # UTF16LE bytes of ASCII text hash like the UTF8 form
    "javaHashUTF16LE": (
        "aggregate(sequence(1, length({0})), 0, "
        "(__h, __i) -> CAST(31 * __h + ascii(substring({0}, __i, 1)) AS INT))"
    ),
    "uniqExactIf": "count(DISTINCT CASE WHEN CAST({1} AS BOOLEAN) THEN {0} END)",
    "sumOrNull": "IF(count({0}) = 0, NULL, sum({0}))",
    "minOrNull": "min({0})", "maxOrNull": "max({0})", "avgOrNull": "avg({0})",
    # function spellings of the IN operators (src/Functions/in.cpp);
    # GLOBAL variants are a distribution hint only
    "in": lambda a: f"({a[0]} IN {a[1] if a[1].startswith('(') else '(' + a[1] + ')'})",
    "notIn": lambda a: f"({a[0]} NOT IN {a[1] if a[1].startswith('(') else '(' + a[1] + ')'})",
    "globalIn": lambda a: f"({a[0]} IN {a[1] if a[1].startswith('(') else '(' + a[1] + ')'})",
    "globalNotIn": lambda a: f"({a[0]} NOT IN {a[1] if a[1].startswith('(') else '(' + a[1] + ')'})",
    # nullIn = IN under transform_null_in=1: NULL matches NULL (null-safe)
    "nullIn": lambda a: _null_in_expr(a, neg=False),
    "notNullIn": lambda a: _null_in_expr(a, neg=True),
    "globalNullIn": lambda a: _null_in_expr(a, neg=False),
    "globalNotNullIn": lambda a: _null_in_expr(a, neg=True),
    # reference sums/averages UInt8 comparison results directly — wrap
    # visibly-boolean arguments (top-level comparison/logic operator)
    # empty-set keyless aggregation: the reference yields type defaults
    # (sum 0, avg nan — AggregateFunctionAvg returns 0/0) where Spark
    # yields NULL; the coalesce only ever fires on that empty case
    "sum": lambda a: (
        f"coalesce(sum(CAST(({a[0]}) AS INT)), 0)"
        if _is_boolish(a[0])
        # Nullable inputs (by text or declared schema) keep NULL
        # (AggregateFunctionNull): only non-nullable empty sets read 0
        else f"sum({a[0]})"
        if _agg_input_nullable(a[0])
        else f"coalesce(sum({a[0]}), 0)"
    ),
    "avg": lambda a: (
        f"coalesce(avg(CAST(({a[0]}) AS INT)), double('NaN'))"
        if _is_boolish(a[0])
        # same Nullable guard as sum (AggregateFunctionNull)
        else f"avg({a[0]})"
        if _agg_input_nullable(a[0])
        else f"coalesce(avg({a[0]}), double('NaN'))"
    ),
    "min": lambda a: (
        f"min(CAST(({a[0]}) AS INT))"
        if len(a) == 1 and _is_boolish(a[0])
        else f"min({', '.join(a)})"
    ),
    "max": lambda a: (
        f"max(CAST(({a[0]}) AS INT))"
        if len(a) == 1 and _is_boolish(a[0])
        else f"max({', '.join(a)})"
    ),
    "countOrNull": lambda a: (
        f"IF(count({a[0] if a else '*'}) = 0, NULL, "
        f"count({a[0] if a else '*'}))"
    ),
    # untuple(t): expands the tuple into _ut_N columns (the reference
    # names them by element index); arity read off the translated
    # named_struct literal
    "untuple": lambda a: _untuple_expr(a[0]),
    # initializeAggregation('aggState', v): the state after aggregating
    # the single value v; finalized rendering (states are finalized here)
    "initializeAggregation": lambda a: (
        (lambda root, v: (
            v if root in ("sum", "min", "max", "any", "anyLast", "first")
            else "1" if root.startswith(("uniq", "count"))
            else f"array({v})" if root in ("groupArray", "groupUniqArray")
            # sumMap single-row state = the (keys, values) tuple itself
            else f"named_struct('col1', {a[1]}, 'col2', {a[2]})"
            if root == "sumMap" and len(a) > 2
            else _raise_dialect(f"initializeAggregation: {root}")
        ))(
            re.sub(
                r"(State)$", "", a[0].strip("'")
            ),
            ", ".join(a[1:]),
        )
    ),
    # -ForEach: elementwise aggregation over array columns — fold the
    # collected arrays pairwise, padding the accumulator to each row's
    # length (AggregateFunctionForEach.h semantics: result length = max)
    "sumForEach": (
        "aggregate(collect_list({0}), CAST(array() AS ARRAY<DOUBLE>), "
        "(__acc, __x) -> zip_with("
        "concat(__acc, array_repeat(CAST(0 AS DOUBLE), "
        "greatest(size(__x) - size(__acc), 0))), __x, "
        "(__p, __q) -> __p + coalesce(__q, 0)))"
    ),
    "maxForEach": (
        "aggregate(collect_list({0}), CAST(array() AS ARRAY<DOUBLE>), "
        "(__acc, __x) -> zip_with("
        "concat(__acc, array_repeat(CAST(double('-inf') AS DOUBLE), "
        "greatest(size(__x) - size(__acc), 0))), __x, "
        "(__p, __q) -> greatest(__p, coalesce(__q, double('-inf')))))"
    ),
    "minForEach": (
        "aggregate(collect_list({0}), CAST(array() AS ARRAY<DOUBLE>), "
        "(__acc, __x) -> zip_with("
        "concat(__acc, array_repeat(CAST(double('inf') AS DOUBLE), "
        "greatest(size(__x) - size(__acc), 0))), __x, "
        "(__p, __q) -> least(__p, coalesce(__q, double('inf')))))"
    ),
}

def _topk_expr(p: list[str], a: list[str]) -> str:
    """topK(k)(v) / topKWeighted(k)(v, w) as ONE aggregate expression:
    frequency map built by an aggregate() fold over collect_list, sorted
    by (-count, value).  The typed empty map comes from slicing the
    collected array itself (no literal cast needed, works for any value
    type).  O(n·distinct) interpreted — correct for dialect/test-scale
    inputs; the 100-TB path is operators/topk.top_k_df (two-level
    hash aggregation)."""
    # parameter bounds (AggregateFunctionTopK.cpp:10,88-94:
    # TOP_K_MAX_SIZE=0xFFFFFF; load_factor >= 1; k, load_factor and
    # k*load_factor all <= 0xFFFFFF) — error for out-of-range literals.
    # Validating HERE also keeps an expected-error statement over the
    # unbounded numbers range from launching a 1e9-row collect_list.
    pvals: list[int | None] = []
    for px in p:
        px = px.strip().strip("()").replace(" ", "")
        try:
            pvals.append(int(px))
        except ValueError:
            pvals.append(None)
    for pv in pvals:
        if pv is not None and not 1 <= pv <= 0xFFFFFF:
            raise DialectError("topK: parameter out of range")
    if (
        len(pvals) >= 2
        and pvals[0] is not None
        and pvals[1] is not None
        and pvals[0] * pvals[1] > 0xFFFFFF
    ):
        raise DialectError("topK: parameter out of range")
    k = p[0] if p else "10"
    val = a[0]
    w = f"CAST({a[1]} AS BIGINT)" if len(a) > 1 else "1L"
    arr = f"collect_list(struct({val} AS v, {w} AS w))"
    empty_keys = f"slice(transform({arr}, e -> e.v), 1, 0)"
    empty_vals = "slice(array(0L), 1, 0)"
    freq = (
        f"aggregate({arr}, map_from_arrays({empty_keys}, {empty_vals}), "
        f"(m, e) -> map_concat(map_filter(m, (mk, mv) -> NOT (mk <=> e.v)), "
        f"map(e.v, coalesce(element_at(m, e.v), 0L) + e.w)))"
    )
    # ties break by ARRIVAL order (SpaceSaving keeps first-seen rank),
    # not value order — 00840's equal-weight case expects insertion order.
    # First-seen sequence folds alongside; the 2-arg transform lambda
    # supplies each key's arrival index for the comparator.
    vals_seq = f"transform({arr}, __tkv -> __tkv.v)"
    seen = (
        f"aggregate({arr}, slice({vals_seq}, 1, 0), (__s, __e) -> "
        f"IF(array_contains(__s, __e.v), __s, concat(__s, array(__e.v))))"
    )
    entries = (
        f"transform({seen}, (__k9, __i9) -> "
        f"struct(__k9 AS k, __i9 AS i, "
        f"coalesce(element_at({freq}, __k9), 0L) AS c))"
    )
    ranked = (
        f"array_sort({entries}, (x, y) -> "
        f"CASE WHEN x.c > y.c THEN -1 WHEN x.c < y.c THEN 1 "
        f"WHEN x.i < y.i THEN -1 WHEN x.i > y.i THEN 1 ELSE 0 END)"
    )
    return f"transform(slice({ranked}, 1, {k}), e -> e.k)"


def _window_funnel_expr(p: list[str], a: list[str]) -> str:
    """windowFunnel(window)(ts, cond1..condN) as ONE aggregate expression
    (AggregateFunctionWindowFunnel.h getEventLevel): fold the
    time-sorted (t, cond_idx) entries through a per-level chain-start
    state array; level = count of reached levels (st is a monotone
    prefix).  cond0 always overwrites its slot (latest first-event is
    optimal); cond j chains when it lands within window of the level
    j-1 chain start."""
    win = p[0]
    ts, conds = a[0], a[1:]
    n = len(conds)
    entry = lambda i, c: (  # noqa: E731
        f"if({c}, array(struct(CAST({ts} AS DOUBLE) AS t, {i} AS e)), "
        f"slice(array(struct(CAST({ts} AS DOUBLE) AS t, {i} AS e)), 1, 0))"
    )
    entries = "concat(" + ", ".join(entry(i, c) for i, c in enumerate(conds)) + ")"
    events = f"array_sort(flatten(collect_list({entries})))"
    step = (
        "transform(st, (s, j) -> CASE "
        "WHEN ev.e = 0 AND j = 0 THEN ev.t "
        "WHEN j >= 1 AND ev.e = j "
        "AND element_at(st, greatest(j, 1)) <> CAST(-1 AS DOUBLE) "
        f"AND ev.t - element_at(st, greatest(j, 1)) <= {win} "
        "THEN element_at(st, greatest(j, 1)) ELSE s END)"
    )
    return (
        f"aggregate({events}, array_repeat(CAST(-1 AS DOUBLE), {n}), "
        f"(st, ev) -> {step}, "
        f"st -> size(filter(st, s -> s <> CAST(-1 AS DOUBLE))))"
    )


def _seq_events_str(ts: str, conds: list[str]) -> str:
    """Sorted per-group event string for sequenceMatch/Count: one char
    per row matching >= 1 condition, char = 97 + condition bitmask."""
    if len(conds) > 4:
        raise DialectError("sequenceMatch supports at most 4 conditions")
    bm = " + ".join(
        f"if({c}, {1 << i}, 0)" for i, c in enumerate(conds)
    )
    pairs = (
        f"if(({bm}) > 0, "
        f"array(struct(CAST({ts} AS DOUBLE) AS t, char(97 + ({bm})) AS c)), "
        f"slice(array(struct(CAST({ts} AS DOUBLE) AS t, 'a' AS c)), 1, 0))"
    )
    return (
        f"concat_ws('', transform(array_sort(flatten(collect_list({pairs}))), "
        f"e -> e.c))"
    )


def _seq_regex(pattern_lit: str, n: int) -> str:
    """Reference sequence pattern -> regex over the bitmask-char string.
    (?N) -> char class of bitmasks with bit N-1 set; .* / . pass through.
    Time conditions ((?t>..)) are not translatable."""
    pat = pattern_lit.strip()
    if len(pat) >= 2 and pat[0] == "'" and pat[-1] == "'":
        pat = pat[1:-1]
    out = []
    i = 0
    while i < len(pat):
        if pat.startswith("(?t", i):
            raise DialectError(
                "sequenceMatch time conditions are not supported in SQL; "
                "use daisy_spark.functions.timeseries.sequence_match"
            )
        if pat.startswith("(?", i):
            close = pat.index(")", i)
            cnum = int(pat[i + 2 : close])
            chars = "".join(
                chr(97 + b) for b in range(1, 1 << n) if b & (1 << (cnum - 1))
            )
            out.append(f"[{chars}]")
            i = close + 1
        elif pat.startswith(".*", i):
            out.append(".*")
            i += 2
        elif pat[i] == ".":
            out.append(".")
            i += 1
        else:
            raise DialectError(
                f"unsupported sequenceMatch pattern element: {pat[i:]!r}"
            )
    return "".join(out)


def _sequence_match_expr(p: list[str], a: list[str]) -> str:
    rx = _seq_regex(p[0], len(a) - 1)
    return f"CAST({_seq_events_str(a[0], a[1:])} RLIKE '{rx}' AS INT)"


def _sequence_count_expr(p: list[str], a: list[str]) -> str:
    rx = _seq_regex(p[0], len(a) - 1)
    return (
        f"size(regexp_extract_all({_seq_events_str(a[0], a[1:])}, '{rx}', 0))"
    )


def _retention_expr(a: list[str]) -> str:
    """retention(c1..cn): r[0] = any(c1); r[i] = any(c1) AND any(c_i+1).
    Conditions are UInt8-truthy in the reference (a literal 1 is
    valid, 00938) — boolify each."""
    first = f"max(if({_bool(a[0])}, 1, 0))"
    items = [f"CAST({first} AS INT)"] + [
        f"CAST(least({first}, max(if({_bool(c)}, 1, 0))) AS INT)"
        for c in a[1:]
    ]
    return f"array({', '.join(items)})"


def _histogram_expr(p: list[str], a: list[str]) -> str:
    """histogram(bins)(x) as width-bucket triples (lo, hi, cnt) from one
    collected array (same fixed-width semantics as
    functions/timeseries.histogram_df; the reference's adaptive centers
    are a documented divergence)."""
    bins = p[0]
    arr = f"collect_list(CAST({a[0]} AS DOUBLE))"
    mn, mx = f"array_min({arr})", f"array_max({arr})"
    w = f"(({mx}) - ({mn})) / {bins}"
    return (
        f"transform(sequence(0, {bins} - 1), i -> struct("
        f"({mn}) + i * ({w}) AS lo, ({mn}) + (i + 1) * ({w}) AS hi, "
        f"size(filter({arr}, v -> v >= ({mn}) + i * ({w}) AND "
        f"(v < ({mn}) + (i + 1) * ({w}) OR i = {bins} - 1 AND "
        f"v <= ({mn}) + (i + 1) * ({w})))) AS cnt))"
    )


def _quantile_exact_expr(p: list[str], a: list[str], single: bool) -> str:
    """QuantileExact::getImpl — DISCRETE selection: the element at
    floor(level * n) of the sorted sample (level 1 -> last), no
    interpolation (src/AggregateFunctions/QuantileExact.h:85-92)."""
    arr = f"array_sort(collect_list({a[0]}))"
    n = f"size({arr})"

    def one(level: str) -> str:
        idx = (
            f"IF(({level}) >= 1, {n}, "
            f"least(CAST(floor(({level}) * {n}) AS INT) + 1, {n}))"
        )
        return f"element_at({arr}, {idx})"

    if single:
        return one(p[0])
    return f"array({', '.join(one(lv) for lv in p)})"


def _quantile_exclusive_expr(p: list[str], a: list[str], single: bool) -> str:
    """R-6 (PERCENTILE.EXC) exact quantile: h = level*(n+1), linear
    interpolation between floor(h) and floor(h)+1 of the sorted sample,
    clamped to the sample range (QuantileExact.h exclusive variant)."""
    arr = f"array_sort(collect_list(CAST({a[0]} AS DOUBLE)))"
    n = f"size({arr})"

    def one(level: str) -> str:
        h = f"greatest(1.0, least(CAST({n} AS DOUBLE), ({level}) * ({n} + 1)))"
        k = f"CAST(floor({h}) AS INT)"
        return (
            f"(element_at({arr}, {k}) + ({h} - {k}) * "
            f"(element_at({arr}, least({k} + 1, {n})) - element_at({arr}, {k})))"
        )

    if single:
        return one(p[0])
    return f"array({', '.join(one(lv) for lv in p)})"


def _quantile_exact_weighted_expr(
    p: list[str], a: list[str], single: bool, from_arrays: bool = False
) -> str:
    """quantileExactWeighted (QuantileExactWeighted.h:75-123): DISCRETE
    selection — sort by value, threshold = ceil(level * total_weight),
    return the first value whose cumulative weight reaches the threshold
    (last value if none does).  No interpolation: values (1,2) with
    weights (1,1) at level 0.5 give 1, not 1.5.  The scan yields a 1-based
    index so the accumulator needs no value-typed NULL; the element keeps
    its input type (the reference returns Value, not Float64)."""
    if from_arrays:
        # -Array combinator: each row contributes its (values, weights)
        # array pair element-wise
        s = (
            f"array_sort(flatten(collect_list(zip_with({a[0]}, {a[1]}, "
            f"(__qv, __qw) -> named_struct("
            f"'v', __qv, 'w', CAST(__qw AS DOUBLE)))))) "
        ).strip()
    else:
        s = (
            f"array_sort(collect_list(named_struct("
            f"'v', {a[0]}, 'w', CAST({a[1]} AS DOUBLE))))"
        )
    n = f"size({s})"
    total = f"aggregate({s}, CAST(0 AS DOUBLE), (acc, e) -> acc + e.w)"

    def one(level: str) -> str:
        thr = f"ceil({total} * ({level}))"
        scan = (
            f"aggregate({s}, named_struct('c', CAST(0 AS DOUBLE), "
            f"'i', 0, 'r', CAST(NULL AS INT)), (acc, e) -> "
            f"IF(acc.r IS NOT NULL, acc, "
            f"IF(acc.c + e.w >= {thr}, "
            f"named_struct('c', acc.c + e.w, 'i', acc.i + 1, 'r', acc.i + 1), "
            f"named_struct('c', acc.c + e.w, 'i', acc.i + 1, "
            f"'r', CAST(NULL AS INT))))).r"
        )
        return f"element_at({s}, coalesce({scan}, greatest({n}, 1))).v"

    if single:
        return one(p[0])
    return f"array({', '.join(one(lv) for lv in p)})"


def _int_hash32_salt0_sql(e: str) -> str:
    """intHash32<0> (src/Common/HashTable/Hash.h:389) as pure SQL —
    each mixing step bound once via a 1-element transform lambda so the
    text stays linear.  Logical right shifts, wrapping 64-bit adds and
    multiply (non-ANSI mode)."""
    def rot(k: str, r: int) -> str:
        return f"(shiftrightunsigned({k}, {r}) | shiftleft({k}, {64 - r}))"

    steps = [
        lambda k: f"((~{k}) + shiftleft({k}, 18))",
        lambda k: f"({k} ^ {rot(k, 31)})",
        lambda k: f"({k} * CAST(21 AS BIGINT))",
        lambda k: f"({k} ^ {rot(k, 11)})",
        lambda k: f"({k} + shiftleft({k}, 6))",
        lambda k: f"({k} ^ {rot(k, 22)})",
    ]
    body = "(__th6 & CAST(4294967295 AS BIGINT))"
    for n in range(6, 0, -1):
        inner = steps[n - 1](f"__th{n - 1}")
        body = (
            f"element_at(transform(array({inner}), __th{n} -> {body}), 1)"
        )
    return (
        f"element_at(transform(array(CAST({e} AS BIGINT)), "
        f"__th0 -> {body}), 1)"
    )


def _timing_clamp(x: str) -> str:
    """The reference's timing sketch value mapping
    (src/AggregateFunctions/QuantileTiming.h): exact below 1024, 16-wide
    buckets up to 30000 whose representative value carries a hash
    offset — (i * 16) + 1024 + (intHash32<0>(i) % 16 - 8)
    (QuantileTiming.h:258) — capped at 30000 above."""
    v = f"CAST({x} AS BIGINT)"
    i = f"CAST(({v} - 1024) / 16 AS BIGINT)"
    off = f"(({_int_hash32_salt0_sql(i)} & 15) - 8)"
    return (
        f"(CASE WHEN {v} >= 30000 THEN CAST(30000 AS BIGINT) "
        f"WHEN {v} >= 1024 THEN 1024 + {i} * 16 + {off} "
        f"ELSE {v} END)"
    )


def _quantile_timing_expr(p: list[str], a: list[str], single: bool) -> str:
    """quantileTiming / quantilesTiming (QuantileTiming.h): Tiny/Medium
    states keep EXACT values clamped at 30000 — the Large histogram
    (exact < 1024, 16-wide jittered buckets to 30000) only kicks in at
    count >= 5672 elements (mediumIsWorthToConvertToLarge: half of
    sizeof(QuantileTimingLarge) UInt16 slots).  Selection index is
    floor(level*n) 0-based for Medium, ceil(level*n) cumulative for
    Large; nan on empty input.  Values >= 30000 (incl. UInt64-wrapped
    negatives) clamp to 30000 in every state."""
    v0 = f"CAST({a[0]} AS BIGINT)"
    ex = f"IF({v0} < 0 OR {v0} >= 30000, CAST(30000 AS BIGINT), {v0})"
    arr = f"array_sort(collect_list({ex}))"
    n = f"size({arr})"
    # bucket reconstruction is monotone (max of bucket i = 16i+1031 <
    # min of bucket i+1 = 16i+1032), so mapping AFTER the sort is sound
    arr_big = f"transform({arr}, __tv -> {_timing_clamp('__tv')})"

    def one(level: str) -> str:
        idx_m = f"least(CAST(floor(({level}) * {n}) AS INT) + 1, {n})"
        idx_l = (
            f"greatest(least(CAST(ceil(({level}) * {n}) AS INT), {n}), 1)"
        )
        return (
            f"IF({n} = 0, double('nan'), IF({n} < 5672, "
            f"CAST(element_at({arr}, {idx_m}) AS DOUBLE), "
            f"CAST(element_at({arr_big}, {idx_l}) AS DOUBLE)))"
        )

    if single:
        return one(p[0])
    return f"array({', '.join(one(lv) for lv in p)})"


def _quantile_timing_weighted_expr(p: list[str], a: list[str], single: bool) -> str:
    """Weighted form: first value whose cumulative weight exceeds
    level * total_weight (zero-weight rows contribute nothing; all-zero
    weights -> nan, matching the reference's empty-sketch answer)."""
    s = (
        f"array_sort(collect_list(named_struct("
        f"'v', {_timing_clamp(a[0])}, 'w', CAST({a[1]} AS BIGINT))))"
    )
    # total weight accumulates in UInt64 WITH wraparound (count is
    # UInt64; QuantileTiming.h get(): pos = ceil(count * level), the
    # scan accumulates per-bucket counts in double, >= pos takes the
    # bucket, exhaustion -> BIG_THRESHOLD)
    total = f"aggregate({s}, CAST(0 AS BIGINT), (acc, e) -> acc + e.w)"

    def u64d(x: str) -> str:
        return (
            f"(CAST({x} AS DOUBLE) + "
            f"IF({x} < 0, 18446744073709551616.0d, 0.0d))"
        )

    def one(level: str) -> str:
        # double-valued ceil: Spark's ceil(DOUBLE) returns BIGINT and
        # wraps for totals beyond 2^63 (the UBsan corpus case)
        xd = f"({u64d(total)} * ({level}))"
        pos = (
            f"IF({xd} % 1.0d = 0.0d, {xd}, "
            f"{xd} - ({xd} % 1.0d) + 1.0d)"
        )
        scan = (
            f"aggregate({s}, named_struct('c', CAST(0 AS DOUBLE), "
            f"'r', CAST(NULL AS BIGINT)), (acc, e) -> "
            f"IF(acc.r IS NOT NULL OR e.w = 0, acc, "
            f"IF(acc.c + {u64d('e.w')} >= {pos}, "
            f"named_struct('c', acc.c + {u64d('e.w')}, 'r', e.v), "
            f"named_struct('c', acc.c + {u64d('e.w')}, "
            f"'r', CAST(NULL AS BIGINT))))).r"
        )
        return (
            f"IF({total} = 0, double('nan'), "
            f"CAST(coalesce({scan}, 30000) AS DOUBLE))"
        )

    if single:
        return one(p[0])
    return f"array({', '.join(one(lv) for lv in p)})"


#: parametric aggregates fn(params)(args)
PARAMETRIC_MAP: dict[str, object] = {
    # sumMapFiltered(keys_to_keep)(keys, vals): sumMap restricted to
    # the parameter key set (AggregateFunctionSumMap.h
    # AggregateFunctionSumMapFiltered) — pre-filter each row's pairs,
    # then the normal sumMap fold
    "sumMapFiltered": lambda p, a: _agg_map_expr(
        [
            (
                f"transform(filter(zip_with({a[0]}, {a[1]}, "
                f"(__fk, __fv) -> struct(__fk AS k, __fv AS v)), "
                f"__fp -> array_contains({p[0]}, __fp.k)), __fp -> __fp.k)"
            ),
            (
                f"transform(filter(zip_with({a[0]}, {a[1]}, "
                f"(__fk, __fv) -> struct(__fk AS k, __fv AS v)), "
                f"__fp -> array_contains({p[0]}, __fp.k)), __fp -> __fp.v)"
            ),
        ],
        [],
        "sum",
    ),
    # groupArrayInsertAt(default[, length])(x, pos): x placed at index
    # pos, gaps/padding filled with default; an explicit length fixes
    # the result size (AggregateFunctionGroupArrayInsertAt.h)
    "groupArrayInsertAt": lambda p, a: (
        (lambda pairs, width, dflt: (
            f"transform(IF(({width}) < 1, array(), "
            f"sequence(0, ({width}) - 1)), __gi -> coalesce("
            f"element_at(filter({pairs}, __gs -> __gs.p = __gi), 1).v, "
            f"{dflt}))"
        ))(
            f"array_sort(collect_list(struct(CAST({a[1]} AS INT) AS p, "
            f"{a[0]} AS v)))",
            p[1] if len(p) > 1 else (
                f"element_at(array_sort(collect_list(struct("
                f"CAST({a[1]} AS INT) AS p, {a[0]} AS v))), -1).p + 1"
            ),
            p[0] if p else "NULL",
        )
    ),
    "quantileTiming": lambda p, a: _quantile_timing_expr(p, a, True),
    "quantilesTiming": lambda p, a: _quantile_timing_expr(p, a, False),
    "quantileTimingWeighted": lambda p, a: _quantile_timing_weighted_expr(p, a, True),
    "quantilesTimingWeighted": lambda p, a: _quantile_timing_weighted_expr(p, a, False),
    "quantile": lambda p, a: f"approx_percentile({a[0]}, {p[0]})",
    "quantileExact": lambda p, a: _quantile_exact_expr(p, a, True),
    "quantileTDigest": lambda p, a: f"approx_percentile({a[0]}, {p[0]})",
    "quantiles": lambda p, a: f"percentile({a[0]}, array({', '.join(p)}))",
    "quantilesExact": lambda p, a: _quantile_exact_expr(p, a, False),
    "quantileExactWeighted": lambda p, a: _quantile_exact_weighted_expr(p, a, True),
    "quantilesExactWeighted": lambda p, a: _quantile_exact_weighted_expr(p, a, False),
    "quantileExactWeightedArray": lambda p, a: (
        _quantile_exact_weighted_expr(p, a, True, from_arrays=True)
    ),
    "quantilesExactWeightedArray": lambda p, a: (
        _quantile_exact_weighted_expr(p, a, False, from_arrays=True)
    ),
    # Deterministic = hash-determined reservoir sample; below the sample
    # cap it degenerates to the exact quantile, so the determinator
    # argument carries no information here
    "quantileDeterministic": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantilesDeterministic": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}))"
    ),
    "quantilesTDigest": lambda p, a: (
        f"approx_percentile({a[0]}, array({', '.join(p)}))"
    ),
    # parameter = HLL precision hint; exact counting below the adaptive
    # threshold reproduces reference output (see the FUNC_MAP entries)
    "uniqCombined": lambda p, a: (
        f"count(DISTINCT {a[0]})"
        if len(a) == 1
        else f"count(DISTINCT struct({', '.join(a)}))"
    ),
    "uniqHLL12": lambda p, a: (
        f"approx_count_distinct({a[0]})"
        if len(a) == 1
        else f"approx_count_distinct(struct({', '.join(a)}))"
    ),
    # Inclusive = R-7 (Spark percentile's interpolation); Exclusive = R-6
    "quantileExactInclusive": lambda p, a: f"percentile({a[0]}, {p[0]})",
    "quantilesExactInclusive": lambda p, a: (
        f"percentile({a[0]}, array({', '.join(p)}))"
    ),
    "quantileExactExclusive": lambda p, a: _quantile_exclusive_expr(p, a, True),
    "quantilesExactExclusive": lambda p, a: _quantile_exclusive_expr(p, a, False),
    "uniqUpTo": lambda p, a: f"least(count(DISTINCT {', '.join(a)}), {p[0]} + 1)",
    # -Array form: distinct POSITION-TUPLES across the parallel arrays
    "uniqUpToArray": lambda p, a: (
        "least(size(array_distinct(flatten(collect_list("
        + (a[0] if len(a) == 1 else _zip_arrays_struct(a))
        + f")))), {p[0]} + 1)"
    ),
    "groupArraySample": lambda p, a: f"slice(shuffle(collect_list({a[0]})), 1, {p[0]})",
    "groupArray": lambda p, a: f"slice(collect_list({a[0]}), 1, {p[0]})",
    "groupUniqArray": lambda p, a: (
        f"slice(array_distinct(collect_list({a[0]})), 1, {p[0]})"
    ),
    "topK": _topk_expr,
    "topKWeighted": _topk_expr,
    # mannWhitneyUTest('two-sided'|'less'|'greater'[, continuity])(v, g)
    # (AggregateFunctionMannWhitney.h)
    "mannWhitneyUTest": lambda p, a: (
        f"ch_mann_whitney(collect_list(CAST({a[0]} AS DOUBLE)), "
        f"collect_list(CAST({a[1]} AS INT)), "
        f"{p[0] if p else chr(39) + 'two-sided' + chr(39)}, "
        f"{p[1] if len(p) > 1 else 1})"
    ),
    "windowFunnel": _window_funnel_expr,
    "sequenceMatch": _sequence_match_expr,
    "sequenceCount": _sequence_count_expr,
    "histogram": _histogram_expr,
}

# ---------------------------------------------------------------------------
# Expression translation (recursive token walk)
# ---------------------------------------------------------------------------

#: identifiers that must never be parsed as function names even when a
#: '(' follows (e.g. ``x IN (1, 2)``, ``EXISTS (SELECT ...)``)
_SQL_KEYWORDS = {
    "IN", "AND", "OR", "NOT", "AS", "ON", "BY", "OVER", "CASE", "WHEN",
    "THEN", "ELSE", "END", "BETWEEN", "LIKE", "RLIKE", "ILIKE", "IS",
    "NULL", "EXISTS", "ALL", "ANY", "SOME", "VALUES", "JOIN", "UNION",
    "FROM", "WHERE", "SELECT", "HAVING", "LIMIT", "OFFSET", "DISTINCT",
    "INTERVAL", "ROWS", "RANGE", "PARTITION", "ORDER", "GROUP", "ASC",
    "DESC", "NULLS", "FIRST", "LAST", "USING", "INNER", "LEFT", "RIGHT",
    "FULL", "CROSS", "SEMI", "ANTI", "WITH",
}


def _ends_operand(tok: str) -> bool:
    """Whether a token can END an operand (so a following and/or/not is
    the binary/unary operator, not the reference's function form)."""
    if tok in (")", "]"):
        return True
    # opaque pre-rendered tokens (inlined aliases) end an operand
    if tok.endswith((")", "]", "`")) and len(tok) > 1:
        return True
    if tok.startswith("'"):
        return True
    if tok and (tok[0].isdigit() or (tok[0] == "." and len(tok) > 1)):
        return True
    if _is_ident(tok):
        return _kw(tok) not in _SQL_KEYWORDS or _kw(tok) in (
            "END", "NULL", "TRUE", "FALSE",
        )
    return False


def _rewrite_ternary(toks: list[str]) -> list[str]:
    """``cond ? a : b`` -> ``IF(cond, a, b)`` (lowest precedence,
    right-associative, per the reference's ternary operator).  Applied
    per top-level comma item; nested ternaries recurse via the b-branch."""
    if "?" not in toks:
        return toks
    parts = _split_top(toks, ",")
    if len(parts) > 1:
        out: list[str] = []
        for k, p in enumerate(parts):
            if k:
                out.append(",")
            out += _rewrite_ternary(p)
        return out
    # a top-level lambda arrow means the ternary is the lambda BODY:
    # keep `params ->` outside and rewrite only the body
    for j, tk in _top_level(toks):
        if tk == "->":
            return toks[: j + 1] + _rewrite_ternary(toks[j + 1 :])
    q_idx = None
    for j, tk in _top_level(toks):
        if tk == "?":
            q_idx = j
            break
    if q_idx is None:
        return toks
    # matching ':' — skip ':' of any nested '?' pairs
    pend = 1
    c_idx = None
    for j, tk in _top_level(toks, q_idx + 1):
        if tk == "?":
            pend += 1
        elif tk == ":":
            pend -= 1
            if pend == 0:
                c_idx = j
                break
    if c_idx is None:
        raise DialectError("ternary '?' without matching ':'")
    # alias suffix (``cond ? a : b AS name``) binds to the whole ternary
    b_part = toks[c_idx + 1 :]
    suffix: list[str] = []
    if len(b_part) >= 2 and _kw(b_part[-2]) == "AS" and _is_ident(b_part[-1]):
        suffix = b_part[-2:]
        b_part = b_part[:-2]
    return (
        ["IF", "(", "CAST", "("]
        + toks[:q_idx]
        + ["AS", "BOOLEAN", ")", ","]
        + toks[q_idx + 1 : c_idx]
        + [","]
        + _rewrite_ternary(b_part)
        + [")"]
        + suffix
    )


def _operand_start(out: list[str], j: int) -> int:
    """Start index of the single operand whose last token sits at j."""
    if out[j] == ")":
        depth = 0
        while j >= 0:
            if out[j] == ")":
                depth += 1
            elif out[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j > 0 and _is_ident(out[j - 1]) and _kw(out[j - 1]) not in _SQL_KEYWORDS:
            j -= 1
    return j


def _pop_operand(out: list[str]) -> list[str]:
    """Remove and return the trailing operand tokens from an output list:
    a paren group (with optional preceding function name), or a single
    token, plus any ``.field`` suffix tokens and ``tbl .`` qualifiers."""
    if not out:
        raise DialectError("subscript with no preceding operand")
    start = _operand_start(out, len(out) - 1)
    # glued field-access tokens (".col2") bind to the operand before them
    while start > 0 and out[start].startswith(".") and len(out[start]) > 1:
        start = _operand_start(out, start - 1)
    # dotted qualification with separate "." tokens: `t . c`
    while start >= 2 and out[start - 1] == "." and (
        _is_ident(out[start - 2]) or out[start - 2] in (")", "]")
    ):
        start -= 2
    operand = out[start:]
    del out[start:]
    return operand


def _is_nan_tokens(ts: list[str]) -> bool:
    while len(ts) >= 3 and ts[0] == "(" and _match_paren(ts, 0) == len(ts) - 1:
        ts = ts[1:-1]
    if len(ts) == 1 and ts[0] in ("nan", "-nan"):
        return True
    return len(ts) == 2 and ts[0] == "-" and ts[1] == "nan"


def _translate_expr(toks: list[str], in_list: bool = False) -> list[str]:
    toks = _rewrite_ternary(toks)
    # Spark's lambda grammar parenthesizes only MULTI-param lambdas:
    # (x) -> e is a parse error there, x -> e is required
    k_lp = 0
    while k_lp + 3 < len(toks):
        if (
            toks[k_lp] == "("
            and _is_ident(toks[k_lp + 1])
            and toks[k_lp + 2] == ")"
            and toks[k_lp + 3] == "->"
        ):
            toks = toks[:k_lp] + [toks[k_lp + 1]] + toks[k_lp + 3 :]
        else:
            k_lp += 1
    # IEEE NaN comparison folding: the reference compares NaN false to
    # everything except != (Spark instead orders NaN LARGEST) — fold
    # per comma segment when a side is the literal nan (00712)
    if "nan" in toks:
        _CMP_NC = ("=", "==", "!=", "<>", "<", ">", "<=", ">=")

        def _operand_span_nc(seg: list[str], k: int) -> tuple[int, int]:
            # left operand start: walk back from the comparison at
            # segment depth 0 until a boolean keyword or another
            # comparison at the same level
            ls, j, d = k, k - 1, 0
            while j >= 0:
                t = seg[j]
                if t in (")", "]"):
                    d += 1
                elif t in ("(", "["):
                    if d == 0:
                        break
                    d -= 1
                elif d == 0 and (
                    t in _CMP_NC or _kw(t) in ("AND", "OR", "NOT")
                ):
                    break
                ls = j
                j -= 1
            # right operand end: walk forward symmetrically
            rE, j, d = k, k + 1, 0
            while j < len(seg):
                t = seg[j]
                if t in ("(", "["):
                    d += 1
                elif t in (")", "]"):
                    if d == 0:
                        break
                    d -= 1
                elif d == 0 and (t in _CMP_NC or _kw(t) in ("AND", "OR")):
                    break
                rE = j
                j += 1
            return ls, rE

        segs_nc = _split_top(toks, ",")
        changed_nc = False
        for si_nc in range(len(segs_nc)):
            seg_nc = segs_nc[si_nc]
            again_nc = True
            while again_nc:
                again_nc = False
                for k_nc, t_nc in _top_level(seg_nc):
                    if t_nc in _CMP_NC:
                        ls_nc, re_nc = _operand_span_nc(seg_nc, k_nc)
                        if _is_nan_tokens(
                            seg_nc[ls_nc:k_nc]
                        ) or _is_nan_tokens(seg_nc[k_nc + 1 : re_nc + 1]):
                            # fold only the comparison's own span —
                            # trailing AND/OR operands must survive
                            seg_nc = (
                                seg_nc[:ls_nc]
                                + ["1" if t_nc in ("!=", "<>") else "0"]
                                + seg_nc[re_nc + 1 :]
                            )
                            changed_nc = True
                            again_nc = True
                            break
            segs_nc[si_nc] = seg_nc
        if changed_nc:
            toks = []
            for si_nc, seg_nc in enumerate(segs_nc):
                if si_nc:
                    toks.append(",")
                toks += seg_nc
    # DateTime - DateTime across DIFFERENT timezones: values are stored
    # as each zone's wall clock, so the instant difference needs
    # per-side to_utc_timestamp (01699: toDateTime(toString(x),'UTC')-x
    # measures the offset).  Same-tz pairs keep the plain path.
    # PERF GATE: the pass runs _ch_type_of per minus segment, which is
    # too hot for general expressions — only expressions that visibly
    # involve tz-capable datetime constructors enter it.
    if (
        ("-" in toks or "+" in toks)
        and len(toks) >= 3
        and any(
            tk.startswith(("toDateTime", "toTimeZone", "toStartOf"))
            for tk in toks
            if tk and tk[0] == "t"
        )
    ):
        segs_dt = _split_top(toks, ",")
        changed_dt = False
        env_dt = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
        for si_dt in range(len(segs_dt)):
            seg_dt = segs_dt[si_dt]
            alias_dt: list[str] = []
            if (
                len(seg_dt) >= 3 and _kw(seg_dt[-2]) == "AS"
                and _is_ident(seg_dt[-1])
                and _tail_at_top(seg_dt)
            ):
                alias_dt = seg_dt[-2:]
                seg_dt = seg_dt[:-2]
            while (
                len(seg_dt) >= 3 and seg_dt[0] == "("
                and _match_paren(seg_dt, 0) == len(seg_dt) - 1
                and len(_split_top(seg_dt[1:-1], ",")) == 1
            ):
                seg_dt = seg_dt[1:-1]
            pos_dt = -1
            for k_dt, tk_dt in _top_level(seg_dt):
                if (
                    tk_dt in ("-", "+") and k_dt > 0
                    and seg_dt[k_dt - 1] not in (
                        "(", "[", ",", "+", "-", "*", "/", "%",
                    )
                    and _kw(seg_dt[k_dt - 1]) not in _SQL_KEYWORDS
                ):
                    pos_dt = k_dt
            if pos_dt < 1 or pos_dt >= len(seg_dt) - 1:
                continue
            op_dt = seg_dt[pos_dt]
            try:
                lt_dt = _ch_type_of(seg_dt[:pos_dt], env_dt)
                rt_dt = _ch_type_of(seg_dt[pos_dt + 1 :], env_dt)
            except Exception:  # noqa: BLE001
                continue
            if not (lt_dt and _ch_unwrap(lt_dt).startswith("DateTime")):
                continue
            tzl_dt = _dt_tz_of(seg_dt[:pos_dt]) or "'UTC'"
            if (
                op_dt == "-" and rt_dt
                and _ch_unwrap(rt_dt).startswith("DateTime")
            ):
                tzr_dt = _dt_tz_of(seg_dt[pos_dt + 1 :]) or "'UTC'"
                if tzl_dt == tzr_dt:
                    continue
                l_dt = _emit(_translate_expr(seg_dt[:pos_dt]))
                r_dt = _emit(_translate_expr(seg_dt[pos_dt + 1 :]))
                segs_dt[si_dt] = [
                    f"CAST(CAST(to_utc_timestamp({l_dt}, {tzl_dt}) "
                    f"AS DOUBLE) - CAST(to_utc_timestamp({r_dt}, "
                    f"{tzr_dt}) AS DOUBLE) AS INT)"
                ] + alias_dt
                changed_dt = True
                continue
            # DateTime('tz') ± interval/number: the reference adds to
            # the INSTANT and re-renders the wall clock — plain wall
            # arithmetic misses DST transitions (01698/01699 fall-back)
            if (
                tzl_dt != "'UTC'"
                and not (
                    rt_dt and _ch_unwrap(rt_dt).startswith(
                        ("Date", "DateTime")
                    )
                )
            ):
                rhs_raw = seg_dt[pos_dt + 1 :]
                is_interval = any(
                    _kw(x) == "INTERVAL" for x in rhs_raw
                ) or any(
                    _kw(x).startswith("TOINTERVAL") for x in rhs_raw
                )
                if not is_interval and not (
                    rt_dt and _ch_unwrap(rt_dt).startswith(("UInt", "Int"))
                ):
                    continue
                l_dt = _emit(_translate_expr(seg_dt[:pos_dt]))
                r_dt = _emit(_translate_expr(rhs_raw))
                if not is_interval:
                    r_dt = f"make_interval(0, 0, 0, 0, 0, 0, {r_dt})"
                segs_dt[si_dt] = [
                    f"from_utc_timestamp(to_utc_timestamp({l_dt}, "
                    f"{tzl_dt}) {op_dt} {r_dt}, {tzl_dt})"
                ] + alias_dt
                changed_dt = True
        if changed_dt:
            toks = []
            for si_dt, seg_dt in enumerate(segs_dt):
                if si_dt:
                    toks.append(",")
                toks += seg_dt
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        up = _kw(t)
        # SET aggregate_functions_null_for_empty=1: the TreeRewriter
        # appends -OrNull to every aggregate call (appendUnusedOrNull;
        # -State keeps its state form and is skipped)
        if (
            i + 1 < n and toks[i + 1] == "("
            and str((_SETTINGS_CTX.get() or {}).get(
                "aggregate_functions_null_for_empty", "0"
            )).strip("'\" ") == "1"
            and re.fullmatch(
                r"(sum|min|max|avg|any|anyLast|count|uniq|uniqExact|"
                r"uniqCombined|uniqHLL12|groupArray|groupUniqArray)"
                r"(If|Array|Distinct|ForEach|Merge)*",
                t,
            )
            and not t.endswith(("OrNull", "OrDefault", "State"))
        ):
            t = t + "OrNull"
        # GLOBAL IN / GLOBAL NOT IN: the distribution modifier is a
        # no-op on a single node (Interpreters/GlobalSubqueriesVisitor)
        if up == "GLOBAL" and i + 1 < n and _kw(toks[i + 1]) in (
            "IN", "NOT",
        ):
            i += 1
            continue
        # tuple element access: expr.2 -> expr.col2 (ColumnTuple fields
        # render as col1..colN via our struct() mapping)
        if (
            re.match(r"^\.[0-9]+$", t)
            and i > 0
            and (
                toks[i - 1].endswith((")", "]"))
                or (_is_ident(toks[i - 1]) and _kw(toks[i - 1]) not in _SQL_KEYWORDS)
            )
        ):
            out.append(".col" + t[1:])
            i += 1
            continue
        # qualified refs into the numbers TVF ("numbers"."number"): the
        # TVF subquery is aliased __numbers, and its only column is
        # number — drop the qualifier
        if (
            t in ("numbers", "numbers_mt")
            and i + 2 < n
            and toks[i + 1] == "."
            and toks[i + 2] == "number"
        ):
            out.append("number")
            i += 3
            continue
        # INTERVAL <expr> UNIT: Spark's literal syntax needs a constant
        # and has no QUARTER unit; non-constant counts become
        # (expr) * INTERVAL 1 UNIT (the reference accepts any expression:
        # ParserIntervalOperatorExpression)
        if up == "INTERVAL" and i + 2 < n:
            # find the unit: scan ahead for a known unit keyword at the
            # end of the operand expression
            _UNITS = {
                "SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH",
                "QUARTER", "YEAR",
            }
            j2 = i + 1
            d6 = 0
            unit_at = None
            while j2 < n:
                tj = toks[j2]
                if tj == "(":
                    d6 += 1
                elif tj == ")":
                    if d6 == 0:
                        break
                    d6 -= 1
                elif d6 == 0 and _kw(tj) in _UNITS:
                    unit_at = j2
                    break
                elif d6 == 0 and tj == ",":
                    break
                j2 += 1
            if unit_at is not None and unit_at > i + 1:
                operand = toks[i + 1 : unit_at]
                unit = _kw(toks[unit_at])
                mult = ""
                if unit == "QUARTER":
                    unit, mult = "MONTH", " * 3"
                elif unit == "WEEK":
                    unit, mult = "DAY", " * 7"
                is_const = len(operand) == 1 and re.match(
                    r"^[0-9]+$", operand[0]
                )
                if is_const and not mult:
                    out += ["INTERVAL", operand[0], unit]
                else:
                    op_sql = _emit(_translate_expr(operand))
                    out.append(
                        f"(({op_sql}){mult} * INTERVAL 1 {unit})"
                    )
                i = unit_at + 1
                continue
        # literals carrying escapes Spark's lexer lacks
        if t.startswith("'") and (
            "\\x" in t or "\\a" in t or "\\v" in t or "\\f" in t
            or "\\?" in t
        ):
            out.append(_respell_literal(t))
            i += 1
            continue
        # qualified system.one references: system.one.dummy / system.one.*
        # drop the database qualifier (the FROM item is aliased `one`)
        if (
            _kw(t.strip('`"')) == "SYSTEM"
            and i + 3 < n
            and toks[i + 1] == "."
            and _kw(toks[i + 2].strip('`"')) == "ONE"
            and toks[i + 3] == "."
        ):
            i += 2  # drop the database qualifier; `one . col` follows
            continue
        # Nested flattened columns: `nest.x` is ONE column whose name
        # contains a dot (script-engine Nested expansion) — backtick it
        # so Spark doesn't read it as alias.column
        if (
            _is_ident(t)
            and i + 2 < n
            and toks[i + 1] == "."
            and _is_ident(toks[i + 2])
            and f"{t.strip('`')}.{toks[i + 2].strip('`')}" in _dotted_cols()
        ):
            out.append(f"`{t.strip('`')}.{toks[i + 2].strip('`')}`")
            i += 3
            continue
        # system.one's `dummy` column resolves against the implicit
        # system.one FROM injected by _translate_select_tokens — no
        # constant folding (folding loses the column NAME, which joins
        # and USING clauses need)
        # infix MOD keyword (MySQL-compat spelling of %)
        if up == "MOD" and i > 0 and _ends_operand(toks[i - 1]):
            out.append("%")
            i += 1
            continue
        # nan / inf literals (Field.h float specials)
        if (
            t.lower() in ("nan", "inf")
            and (i == 0 or toks[i - 1] != ".")
            and (i + 1 >= n or toks[i + 1] != "(")
        ):
            out.append(
                "double('NaN')" if t.lower() == "nan"
                else "double('Infinity')"
            )
            i += 1
            continue
        # decimal-point literals are Float64 in the reference; Spark
        # parses them as DECIMAL — force the double suffix
        if re.match(r"^[0-9]+\.[0-9]*$", t) and (i == 0 or toks[i - 1] != "."):
            out.append(t + ("0D" if t.endswith(".") else "D"))
            i += 1
            continue
        # bare .5 literal (the tuple-access branch above didn't claim it)
        if re.match(r"^\.[0-9]+$", t):
            out.append("0" + t + "D")
            i += 1
            continue
        # prefix NOT with numeric truthiness: NOT binds everything up to
        # the next depth-0 AND/OR/comma (reference precedence: below
        # comparison, above AND) — but leave `NOT IN/LIKE/BETWEEN` and
        # `IS NOT` intact
        if (
            up == "NOT"
            and (i == 0 or _kw(toks[i - 1]) != "IS")
            and i + 1 < n
            and _kw(toks[i + 1]) not in ("IN", "LIKE", "RLIKE", "ILIKE", "BETWEEN", "EXISTS")
        ):
            end = n
            between_depth = 0  # BETWEEN a AND b: that AND is a binder
            for j, tk in _top_level(toks, i + 1, n):
                if _kw(tk) == "BETWEEN":
                    between_depth += 1
                elif _kw(tk) == "AND" and between_depth:
                    between_depth -= 1
                elif _kw(tk) in ("AND", "OR", "AS") or tk == ",":
                    end = j
                    break
            inner = _emit(_translate_expr(toks[i + 1 : end]))
            out.append(f"(NOT CAST({inner} AS BOOLEAN))")
            i = end
            continue
        # scalar IN: `x IN 'a'` / `x IN tuple_or_literal` -> IN (v)
        if up == "IN" and i + 1 < n and toks[i + 1] != "(":
            nxt = toks[i + 1]
            if _is_ident(nxt) and i + 2 < n and toks[i + 2] == "(":
                close = _match_paren(toks, i + 2)
                if _kw(nxt) == "ARRAY":
                    # x IN array(...) — membership over array elements
                    arr = _emit(_translate_expr(toks[i + 1 : close + 1]))
                    lhs_toks: list[str] = []
                    if out and out[-1] == ")":
                        depth3 = 0
                        while out:
                            tk3 = out.pop()
                            lhs_toks.insert(0, tk3)
                            if tk3 == ")":
                                depth3 += 1
                            elif tk3 == "(":
                                depth3 -= 1
                                if depth3 == 0:
                                    break
                        # function head attached to the paren group
                        # (array literals emit as `array ( .. )`)
                        if out and _is_ident(out[-1]) and _kw(
                            out[-1]
                        ) not in _SQL_KEYWORDS:
                            lhs_toks.insert(0, out.pop())
                    elif out:
                        lhs_toks.append(out.pop())
                        while len(out) >= 2 and out[-1] == ".":
                            lhs_toks.insert(0, out.pop())
                            lhs_toks.insert(0, out.pop())
                    # a bare (a, b) LHS is the reference tuple literal:
                    # spell it as the matching named_struct
                    if (
                        len(lhs_toks) >= 3 and lhs_toks[0] == "("
                        and lhs_toks[-1] == ")"
                        and len(_split_top(lhs_toks[1:-1], ",")) > 1
                    ):
                        fields3 = ", ".join(
                            f"'col{k3 + 1}', {_emit(p3)}"
                            for k3, p3 in enumerate(
                                _split_top(lhs_toks[1:-1], ",")
                            )
                        )
                        lhs = f"named_struct({fields3})"
                    else:
                        lhs = " ".join(lhs_toks)
                    out.append(f"array_contains({arr}, {lhs})")
                    i = close + 1
                    continue
                if _kw(nxt) == "TUPLE":
                    # IN tuple(a, b, c) is the reference's literal-set
                    # spelling — expand to a plain IN list.  When the
                    # LEFT operand is a tuple of matching arity and the
                    # elements are scalars, the whole tuple is ONE set
                    # member: (1,2) IN tuple(1,2) is tuple equality
                    elems = [
                        _emit(_translate_expr(p))
                        for p in _split_top(toks[i + 3 : close], ",")
                        if p
                    ]
                    lhs_arity = _peek_tuple_arity(out)
                    if (
                        lhs_arity > 1 and len(elems) == lhs_arity
                        and not any("named_struct(" in e for e in elems)
                    ):
                        out += [
                            "IN", "(", "(", ", ".join(elems), ")", ")",
                        ]
                    else:
                        out += ["IN", "(", ", ".join(elems), ")"]
                    i = close + 1
                    continue
                # function call on the right of IN — translate it, wrap
                inner = _emit(_translate_expr(toks[i + 1 : close + 1]))
                out += ["IN", "(", inner, ")"]
                i = close + 1
                continue
            if nxt == "[":
                # x IN [a, b, ...] — the bracket is the literal SET.
                # Nested members are the candidates; a flat-scalar set
                # against an ARRAY lhs means whole-array equality
                # (01071: [1,2] IN [1,2] = 1)
                close = _match_bracket(toks, i + 1)
                parts_in = [
                    p for p in _split_top(toks[i + 2 : close], ",") if p
                ]
                nested_tup = bool(parts_in) and parts_in[0][0] == "("
                nested_arr = bool(parts_in) and parts_in[0][0] == "["
                if nested_tup:
                    members = []
                    for p in parts_in:
                        flds_in = ", ".join(
                            f"'col{k4 + 1}', {_emit(_translate_expr(q4))}"
                            for k4, q4 in enumerate(
                                _split_top(p[1:-1], ",")
                            )
                        )
                        members.append(f"named_struct({flds_in})")
                    # structify a bare paren-tuple LHS
                    lhs_toks4: list[str] = []
                    if out and out[-1] == ")":
                        d4 = 0
                        while out:
                            tk4 = out.pop()
                            lhs_toks4.insert(0, tk4)
                            if tk4 == ")":
                                d4 += 1
                            elif tk4 == "(":
                                d4 -= 1
                                if d4 == 0:
                                    break
                        if out and _is_ident(out[-1]) and _kw(
                            out[-1]
                        ) not in _SQL_KEYWORDS:
                            lhs_toks4.insert(0, out.pop())
                    elif out:
                        lhs_toks4.append(out.pop())
                    if (
                        len(lhs_toks4) >= 3 and lhs_toks4[0] == "("
                        and lhs_toks4[-1] == ")"
                        and len(_split_top(lhs_toks4[1:-1], ",")) > 1
                    ):
                        f4 = ", ".join(
                            f"'col{k4 + 1}', {_emit(p4)}"
                            for k4, p4 in enumerate(
                                _split_top(lhs_toks4[1:-1], ",")
                            )
                        )
                        lhs4 = f"named_struct({f4})"
                    else:
                        lhs4 = " ".join(lhs_toks4)
                    out.append(
                        f"({lhs4} IN ({', '.join(members)}))"
                    )
                    i = close + 1
                    continue
                members = [
                    _emit(_translate_expr(p)) for p in parts_in
                ]
                if not nested_arr and out and out[-1] == ")":
                    # scalar set vs a (possibly array) expression LHS:
                    # if the LHS is an array literal, the whole set is
                    # ONE candidate array
                    j4 = len(out) - 1
                    d4 = 0
                    while j4 >= 0:
                        if out[j4] == ")":
                            d4 += 1
                        elif out[j4] == "(":
                            d4 -= 1
                            if d4 == 0:
                                break
                        j4 -= 1
                    if j4 > 0 and out[j4 - 1] == "array":
                        out += [
                            "IN", "(",
                            "array(" + ", ".join(members) + ")", ")",
                        ]
                        i = close + 1
                        continue
                out += ["IN", "(", ", ".join(members), ")"]
                i = close + 1
                continue
            if _is_ident(nxt) and nxt.strip("`") in (
                _SCRIPT_SCHEMAS_CTX.get() or {}
            ):
                # x IN table_name: the table IS the set
                # (ExpressionAnalyzer makeSetsForIndex / StorageSet)
                out += ["IN", "(", f"SELECT * FROM {nxt}", ")"]
                i += 2
                continue
            rhs = _emit(_translate_expr([nxt]))
            flds = _tuple_text_fields(rhs)
            if flds is not None:
                # x IN <tuple-valued alias>: membership over the fields
                out += ["IN", "(", ", ".join(flds), ")"]
            else:
                out += ["IN", "(", rhs, ")"]
            i += 2
            continue
        # subquery
        if t == "(" :
            close = _match_paren(toks, i)
            inner = toks[i + 1 : close]
            if _is_query_tokens(inner):
                tok_es = _EXPR_SUBQ_CTX.set(True)
                try:
                    out += ["(", _translate_query(inner)[0], ")"]
                finally:
                    _EXPR_SUBQ_CTX.reset(tok_es)
                i = close + 1
                continue
            parts = _split_top(inner, ",") if inner else [[]]
            prev_kw = _kw(toks[i - 1]) if i > 0 else ""
            next_kw = _kw(toks[close + 1]) if close + 1 < n else ""
            if (
                len(parts) > 1
                and close + 1 < n and toks[close + 1] == "->"
                and all(len(p) == 1 and _is_ident(p[0]) for p in parts)
            ):
                # (x, y) -> ...: a LAMBDA parameter list, not a tuple —
                # keep Spark's native multi-param form (00650/01015)
                out.append("(" + ", ".join(p[0] for p in parts) + ")")
            elif (
                len(parts) > 1
                and not in_list
                and prev_kw not in ("IN", "OVER")
                and next_kw != "IN"
            ):
                # (a, b) is the reference's tuple literal -> struct with
                # the ColumnTuple field names col1..colN
                fields = ", ".join(
                    f"'col{k + 1}', {_emit(_translate_expr(p))}"
                    for k, p in enumerate(parts)
                )
                out.append(f"named_struct({fields})")
            elif prev_kw == "IN":
                if (
                    len(inner) == 1 and _is_ident(inner[0])
                    and inner[0].strip("`") in (
                        _SCRIPT_SCHEMAS_CTX.get() or {}
                    )
                ):
                    # x IN (table_name): the table IS the set
                    out += ["(", f"SELECT * FROM {inner[0]}", ")"]
                    i = close + 1
                    continue
                # IN list: elements may be row constructors — keep parens
                # (the structural tuple-IN semantics resolve in
                # _tuple_in_pass over the translated tokens)
                out += ["("] + _translate_expr(inner, in_list=True) + [")"]
            else:
                out += ["("] + _translate_expr(inner) + [")"]
            i = close + 1
            continue
        # array literal ['a', 'b'] -> array('a', 'b'); a '[' is a literal
        # unless it directly follows a value (then it's a subscript)
        if t == "[":
            prev = toks[i - 1] if i > 0 else ""
            is_subscript = bool(prev) and (
                (_is_ident(prev) and _kw(prev) not in _SQL_KEYWORDS)
                # opaque pre-rendered tokens ("( ... )") end with ')'
                or prev.endswith((")", "]"))
                or prev[:1] in ("'", '"', "`")
            )
            close = _match_bracket(toks, i)
            if not is_subscript:
                inner_tr = _translate_expr(toks[i + 1 : close])
                # mixed-scale DateTime64 elements: the array supertype is
                # the MAX scale and every literal re-renders at it
                # (getLeastSupertype; 01341: [dt64(3), dt64(6)] prints
                # the first as '...123000')
                try:
                    env_dt = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                    scales_dt = []
                    for p in _split_top(toks[i + 1 : close], ","):
                        tdt = _ch_type_of(p, env_dt) if p else None
                        m_dt = re.fullmatch(
                            r"DateTime64\((\d+)(?:,\s*'[^']*')?\)",
                            tdt or "",
                        )
                        scales_dt.append(
                            int(m_dt.group(1)) if m_dt else None
                        )
                    if (
                        len(scales_dt) > 1
                        and all(s is not None for s in scales_dt)
                        and len(set(scales_dt)) > 1
                    ):
                        mx_dt = max(scales_dt)
                        outp_dt: list[str] = []
                        for p_toks, s_dt in zip(
                            _split_top(inner_tr, ","), scales_dt
                        ):
                            if (
                                len(p_toks) == 1
                                and p_toks[0][:1] == "'"
                                and s_dt < mx_dt
                            ):
                                v_dt = p_toks[0][1:-1]
                                if "." in v_dt:
                                    b_dt, f_dt = v_dt.split(".", 1)
                                    v_dt = b_dt + "." + f_dt.ljust(mx_dt, "0")
                                else:
                                    v_dt = v_dt + "." + "0" * mx_dt
                                p_toks = [f"'{v_dt}'"]
                            if outp_dt:
                                outp_dt.append(",")
                            outp_dt += p_toks
                        inner_tr = outp_dt
                except Exception:  # noqa: BLE001
                    pass
                out += ["array", "("] + inner_tr + [")"]
                i = close + 1
                continue
            # subscript: reference arr[i] is 1-BASED (negative = from the
            # end) — Spark's arr[i] is 0-based, so element_at, which has
            # exactly the reference's indexing.  Divergences handled when
            # the operand's element type is derivable (FunctionArrayElement:
            # index 0 and out-of-range return the ELEMENT TYPE DEFAULT,
            # never an error/NULL; Map subscripts default on missing key):
            idx = _emit(_translate_expr(toks[i + 1 : close]))
            operand = _pop_operand(out)
            arr_sql = _emit(operand)
            ot = None
            try:
                # raw-token operand start (handles ']'-terminated literals
                # and chained subscripts that _operand_start, built for
                # rendered output, does not)
                s0 = i
                while s0 > 0:
                    j9 = s0 - 1
                    if toks[j9] in (")", "]"):
                        was_bracket = toks[j9] == "]"
                        depth0 = 0
                        while j9 >= 0:
                            if toks[j9] in (")", "]"):
                                depth0 += 1
                            elif toks[j9] in ("(", "["):
                                depth0 -= 1
                                if depth0 == 0:
                                    break
                            j9 -= 1
                        # keyword-collision functions (range, left, any)
                        # are still calls when glued to '(' — only
                        # structural keywords can't head an operand here
                        if (
                            j9 > 0 and toks[j9] == "("
                            and _is_ident(toks[j9 - 1])
                            and _kw(toks[j9 - 1]) not in (
                                "IN", "AND", "OR", "NOT", "CASE", "WHEN",
                                "THEN", "ELSE", "SELECT", "WHERE", "ON",
                                "AS", "OVER", "BETWEEN", "VALUES", "EXISTS",
                            )
                        ):
                            j9 -= 1
                        s0 = j9
                        if was_bracket and s0 > 0:
                            p9 = toks[s0 - 1]
                            if toks[s0] == "[" and (
                                _is_ident(p9)
                                or p9.endswith((")", "]"))
                                or p9[:1] in ("'", '"', "`")
                            ):
                                continue  # subscript: absorb its base too
                        break
                    s0 = j9
                    break
                ot = _ch_type_of(
                    toks[s0:i], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                )
            except Exception:  # noqa: BLE001 — best-effort inference
                ot = None
            plain = f"element_at({arr_sql}, {idx})"
            idx_lit = re.fullmatch(r"-?\d+", idx)
            if ot and ot.startswith("Array(") and ot != "Array(?)":
                edef = _typed_default_sql(ot[6:-1])
                if edef is None:
                    out.append(plain)
                elif idx_lit and (
                    int(idx) == 0 or abs(int(idx)) > 2147483647
                ):
                    # 0 and any index beyond INT32 can never address an
                    # array element — the type default (01657 ubsan)
                    out.append(edef)
                elif idx_lit:
                    # literal non-zero: only out-of-range needs the default
                    out.append(f"coalesce({plain}, {edef})")
                else:
                    out.append(
                        f"if(CAST({idx} AS DOUBLE) = 0 OR "
                        f"abs(CAST({idx} AS DOUBLE)) > 2147483647D, "
                        f"{edef}, coalesce(element_at({arr_sql}, "
                        f"CAST({idx} AS INT)), {edef}))"
                    )
            elif ot and ot.startswith("Map(") and "," in ot:
                # value type = last depth-0 comma part of Map(K, V)
                inner_t, cut = ot[4:-1], 0
                for k0, ch0 in _top_level(inner_t, brackets="("):
                    if ch0 == ",":
                        cut = k0 + 1
                vdef = _typed_default_sql(inner_t[cut:].strip())
                out.append(
                    f"coalesce({plain}, {vdef})" if vdef else plain
                )
            else:
                out.append(plain)
            i = close + 1
            continue
        # CAST(x AS Type)
        if up == "CAST" and i + 1 < n and toks[i + 1] == "(":
            close = _match_paren(toks, i + 1)
            inner = toks[i + 2 : close]

            def _fixed_len(type_toks: list[str]) -> str | None:
                # FixedString(n): \0-padded to n (DataTypeFixedString)
                if (
                    len(type_toks) >= 4
                    and _kw(type_toks[0]) == "FIXEDSTRING"
                    and type_toks[1] == "("
                ):
                    return type_toks[2]
                return None

            def _enum_cast(expr_toks, type_toks) -> str | None:
                # CAST(x AS Enum8('a' = 1, ...)): a STRING source passes
                # through label-typed; numeric sources stay NUMERIC
                # (most consumers compare/hash the value — 00674; label
                # rendering of numeric enum casts is a known divergence)
                if (
                    len(type_toks) < 4
                    or _kw(type_toks[0]) not in ("ENUM", "ENUM8", "ENUM16")
                    or type_toks[1] != "("
                ):
                    return None
                nd = _parse_hash_lit(expr_toks)
                if nd is not None and nd[0] in ("int", "float"):
                    return None
                body = type_toks[2 : _match_paren(type_toks, 1)]
                pairs = []
                for part in _split_top(body, ","):
                    if len(part) >= 3 and part[1] == "=":
                        val = "".join(
                            x for x in part[2:] if x != " "
                        ).replace(" ", "")
                        pairs.append((val, part[0]))
                if not pairs:
                    return None
                mp = ", ".join(f"{v}, {lab}" for v, lab in pairs)
                e = _emit(_translate_expr(expr_toks))
                return (
                    f"coalesce(element_at(map({mp}), "
                    f"try_cast(({e}) AS INT)), CAST(({e}) AS STRING))"
                )

            def _tz_dt_cast(expr_toks, type_toks) -> str | None:
                # CAST(x, "DateTime('tz')") routes through the
                # toDateTime tz machinery (shifted wall-clock model)
                if (
                    len(type_toks) == 4
                    and _kw(type_toks[0]) in ("DATETIME", "DATETIME32")
                    and type_toks[1] == "("
                    and type_toks[2].startswith("'")
                    and type_toks[3] == ")"
                ):
                    return _emit(_translate_expr(
                        ["toDateTime", "("] + list(expr_toks)
                        + [",", type_toks[2], ")"]
                    ))
                return None

            def _enum_to_int_cast(expr_toks, type_toks) -> str | None:
                # CAST(enum_col, 'Int8'): the enum VALUE, not the label
                # (DataTypeEnum -> number conversion, 00962)
                if len(type_toks) != 1 or _kw(type_toks[0]) not in (
                    "INT8", "INT16", "INT32", "INT64",
                    "UINT8", "UINT16", "UINT32", "UINT64",
                ):
                    return None
                try:
                    st = _ch_type_of(
                        expr_toks, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                    )
                except Exception:  # noqa: BLE001
                    st = None
                m = re.match(
                    r"Enum(?:8|16)?\((.*)\)$", _ch_unwrap(st or ""), re.S
                )
                if not m:
                    return None
                pairs = re.findall(
                    r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)", m.group(1)
                )
                if not pairs:
                    return None
                e = _emit(_translate_expr(expr_toks))
                mp = ", ".join(
                    f"'{lab}', {int(v)}" for lab, v in pairs
                )
                return (
                    f"coalesce(element_at(map({mp}), "
                    f"CAST({e} AS STRING)), try_cast({e} AS INT))"
                )

            def _int_date_cast(expr_toks, type_toks) -> str | None:
                # CAST(int, 'Date') is a DAY NUMBER, wrapped UInt16
                # (FunctionsConversion.h; Spark rejects INT->DATE)
                if len(type_toks) != 1 or _kw(type_toks[0]) != "DATE":
                    return None
                try:
                    st = _ch_type_of(
                        expr_toks, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                    )
                except Exception:  # noqa: BLE001
                    st = None
                u = _ch_unwrap(st or "")
                if not (
                    u.startswith(("UInt", "Int"))
                    and not u.startswith("Interval")
                ):
                    return None
                e = _emit(_translate_expr(expr_toks))
                return (
                    f"date_add(DATE '1970-01-01', "
                    f"CAST(pmod({e}, 65536) AS INT))"
                )

            # find top-level AS
            as_idx = None
            for j, tk in _top_level(inner, brackets="("):
                if _kw(tk) == "AS":
                    as_idx = j
            if as_idx is None:
                # reference 2-arg form: CAST(x, 'Type')
                parts = _split_top(inner, ",")
                if (
                    len(parts) == 2
                    and len(parts[1]) == 1
                    and parts[1][0][:1] == "'"
                ):
                    type_toks = tokenize(
                        parts[1][0][1:-1]
                        .replace("\\'", "'").replace("\\\\", "\\")
                    )
                    fl = _fixed_len(type_toks)
                    if fl is not None:
                        e = _emit(_translate_expr(parts[0]))
                        out.append(
                            f"rpad(CAST({e} AS STRING), {fl}, chr(0))"
                        )
                        i = close + 1
                        continue
                    en = _enum_cast(parts[0], type_toks)
                    if en is not None:
                        out.append(en)
                        i = close + 1
                        continue
                    ntc = _nullable_try_cast(
                        _emit(_translate_expr(parts[0])), type_toks,
                        parts[0],
                    )
                    if ntc is not None:
                        out.append(ntc)
                        i = close + 1
                        continue
                    idc = _int_date_cast(parts[0], type_toks)
                    if idc is None:
                        idc = _tz_dt_cast(parts[0], type_toks)
                    if idc is None:
                        idc = _enum_to_int_cast(parts[0], type_toks)
                    if idc is not None:
                        out.append(idc)
                        i = close + 1
                        continue
                    typ, _ = _map_type(type_toks, 0)
                    out += (
                        ["CAST", "("]
                        + _translate_expr(parts[0])
                        + ["AS", typ, ")"]
                    )
                    i = close + 1
                    continue
                out += ["CAST", "("] + _translate_expr(inner) + [")"]
            else:
                type_toks = inner[as_idx + 1 :]
                fl = _fixed_len(type_toks)
                if fl is not None:
                    e = _emit(_translate_expr(inner[:as_idx]))
                    out.append(f"rpad(CAST({e} AS STRING), {fl}, chr(0))")
                    i = close + 1
                    continue
                en = _enum_cast(inner[:as_idx], type_toks)
                if en is not None:
                    out.append(en)
                    i = close + 1
                    continue
                expr = _translate_expr(inner[:as_idx])
                ntc = _nullable_try_cast(
                    _emit(expr), type_toks, inner[:as_idx]
                )
                if ntc is not None:
                    out.append(ntc)
                    i = close + 1
                    continue
                idc = _int_date_cast(inner[:as_idx], type_toks)
                if idc is None:
                    idc = _tz_dt_cast(inner[:as_idx], type_toks)
                if idc is None:
                    idc = _enum_to_int_cast(inner[:as_idx], type_toks)
                if idc is not None:
                    out.append(idc)
                    i = close + 1
                    continue
                typ, _ = _map_type(type_toks, 0)
                out += ["CAST", "("] + expr + ["AS", typ, ")"]
            i = close + 1
            continue
        # function call?  (RANGE is a frame keyword, but `range(` is the
        # reference's array-generating function — the paren disambiguates;
        # and/or/not have n-ary FUNCTION forms too — `or(a, b)` is a call
        # when it sits where an expression STARTS, the binary operator when
        # the previous token ends an operand: `a or (b)`)
        if (
            _is_ident(t)
            and (
                up not in _SQL_KEYWORDS
                or up == "RANGE"
                # LEFT/RIGHT directly before '(' are the string
                # functions, never join words (joins need JOIN after)
                or up in ("LEFT", "RIGHT")
                or (
                    up in ("AND", "OR", "NOT")
                    and (i == 0 or not _ends_operand(toks[i - 1]))
                )
                # `any(x)` is the aggregate unless it sits right after a
                # comparison operator (`x = ANY (subq)` quantifier)
                or (
                    up == "ANY"
                    and (i == 0 or toks[i - 1] not in (
                        "=", "==", "!=", "<>", "<", ">", "<=", ">=",
                    ))
                )
            )
            and i + 1 < n
            and toks[i + 1] == "("
        ):
            close = _match_paren(toks, i + 1)
            raw_args = toks[i + 2 : close]
            arg_parts = (
                [] if not raw_args else _split_top(raw_args, ",")
            )
            # -SimpleState: SimpleAggregateFunction stores the PLAIN
            # aggregate value (DataTypeCustomSimpleAggregateFunction) —
            # the value translation is the base aggregate's; bases
            # outside the whitelist are error 36
            if t.endswith("SimpleState") and len(t) > 11:
                if t[:-11] not in _SIMPLE_AGG_BASES:
                    _raise_dialect(
                        f"{t[:-11]} is not supported in "
                        "SimpleAggregateFunction (36)"
                    )
                t = t[:-11]
            # finalizeAggregation(fooState(..)) ≡ foo(..) — strip State
            # BEFORE translating so parametric quantile states (whose
            # lowered storage form is the raw multiset, params lost)
            # still finalize with their params applied
            if (
                t == "finalizeAggregation"
                and len(arg_parts) == 1
                and len(arg_parts[0]) > 1
                and arg_parts[0][1] == "("
                and arg_parts[0][0].endswith("State")
                and len(arg_parts[0][0]) > 5
            ):
                inner = [arg_parts[0][0][:-5]] + arg_parts[0][1:]
                out.append(_emit(_translate_expr(inner)))
                i = close + 1
                continue
            # array HOFs: while translating a lambda body, formals
            # bound to elements of an array-of-arrays must dispatch
            # length/empty as arrays
            hof_alv_token = None
            if (
                t in (
                    "arrayMap", "arrayFilter", "arraySort",
                    "arrayReverseSort", "arrayExists", "arrayAll",
                    "arrayFirst", "arrayFirstIndex", "arrayCount",
                    "arraySum", "arrayAvg", "arrayMin", "arrayMax",
                )
                and arg_parts and any("->" in p for p in arg_parts)
            ):
                # bind the lambda formals as array-valued for the scope
                # of THIS call's arg translation (length/empty dispatch)
                lam = arg_parts[0]
                arrow = next(
                    (k for k, tk in enumerate(lam) if tk == "->"), -1
                )
                env_now = _TYPE_ENV_CTX.get() or {}
                if arrow > 0 and any(
                    _raw_elems_are_arrays(p, env_now)
                    for p in arg_parts[1:]
                ):
                    formals = frozenset(
                        tk for tk in lam[:arrow] if _is_ident(tk)
                    )
                    prev_set = _ARRAY_LAMBDA_VARS.get() or frozenset()
                    hof_alv_token = _ARRAY_LAMBDA_VARS.set(
                        prev_set | formals
                    )
            # defaultValueOfArgumentType: the TYPE default of the raw
            # argument's inferred type (FunctionDefaultValueOfArgumentType)
            # IPv6 binary must not transit a Spark string (invalid
            # UTF-8 bytes get replaced): unwrap toFixedString(x, 16)
            # and feed the raw binary to the UDF
            if (
                t in ("IPv6NumToString", "INET6_NTOA")
                and len(arg_parts) == 1
                and len(arg_parts[0]) >= 4
                and arg_parts[0][0] == "toFixedString"
                and arg_parts[0][1] == "("
            ):
                fs_args = _split_top(arg_parts[0][2:-1], ",")
                if len(fs_args) == 2:
                    ei = _emit(_translate_expr(fs_args[0]))
                    out.append(f"ch_ipv6_ntos({ei})")
                    i = close + 1
                    continue
            # toUnixTimestamp on a pre-epoch DateTime64 is out of range
            # (error 407, DecimalUtils overflow in the reference)
            if (
                t == "toUnixTimestamp"
                and len(arg_parts) == 1
                and arg_parts[0]
                and arg_parts[0][0] == "toDateTime64"
            ):
                lit_ts = next(
                    (x for x in arg_parts[0] if x.startswith("'")), ""
                )
                if lit_ts[1:5].isdigit() and int(lit_ts[1:5]) < 1970:
                    _raise_dialect(
                        "toUnixTimestamp: unix timestamp out of "
                        "range (407)"
                    )
            # runningConcurrency(begin, end): per row, how many of the
            # rows so far (stream order) are still open — end > begin_i
            # (src/Functions/runningConcurrency.cpp; type pairing and
            # constness rules reproduced)
            if t == "runningConcurrency" and len(arg_parts) == 2:
                env_rc = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                t1_rc = _ch_type_of(arg_parts[0], env_rc)
                t2_rc = _ch_type_of(arg_parts[1], env_rc)

                def _rc_base(x):
                    return re.sub(r"\(.*", "", x) if x else x

                for tx_rc in (t1_rc, t2_rc):
                    if tx_rc is not None and _rc_base(tx_rc) not in (
                        "Date", "DateTime", "DateTime64",
                    ):
                        _raise_dialect(
                            "runningConcurrency: illegal argument "
                            "type (43)"
                        )
                if (
                    t1_rc is not None and t2_rc is not None
                    and _rc_base(t1_rc) != _rc_base(t2_rc)
                ):
                    _raise_dialect(
                        "runningConcurrency: mismatching types (43)"
                    )

                def _rc_const(p9):
                    has_aj = any(x == "arrayJoin" for x in p9)
                    has_col = any(
                        _is_ident(x)
                        and _kw(x) not in ("NULL", "TRUE", "FALSE", "AS",
                                           "CAST", "INTERVAL")
                        and not (
                            k9 + 1 < len(p9) and p9[k9 + 1] == "("
                        )
                        for k9, x in enumerate(p9)
                    )
                    return not has_aj and not has_col

                c1_rc, c2_rc = _rc_const(arg_parts[0]), _rc_const(
                    arg_parts[1]
                )
                b_rc = _emit(_translate_expr(arg_parts[0]))
                e_rc = _emit(_translate_expr(arg_parts[1]))
                if c1_rc and c2_rc:
                    out.append(f"IF({b_rc} > {e_rc}, "
                               "assert_true(false), 1)")
                    if "'" in b_rc and "'" in e_rc:
                        m1_rc = re.search(r"'([^']+)'", b_rc)
                        m2_rc = re.search(r"'([^']+)'", e_rc)
                        if m1_rc and m2_rc and m1_rc.group(1) > (
                            m2_rc.group(1)
                        ):
                            _raise_dialect(
                                "runningConcurrency: begin > end (117)"
                            )
                    i = close + 1
                    continue
                if c1_rc or c2_rc:
                    _raise_dialect(
                        "runningConcurrency: constant columns are not "
                        "supported (44)"
                    )
                out.append(
                    f"size(filter(collect_list({e_rc}) OVER "
                    f"(ORDER BY monotonically_increasing_id() "
                    f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
                    f"__rce -> __rce > {b_rc}))"
                )
                i = close + 1
                continue
            # geohashEncode demands a CONST precision (error 44)
            if (
                t == "geohashEncode"
                and len(arg_parts) == 3
                and arg_parts[2]
                and arg_parts[2][0].lower() == "materialize"
            ):
                _raise_dialect(
                    "geohashEncode: precision must be constant (44)"
                )
            if (
                t == "bitNot"
                and len(arg_parts) == 1
                and any(
                    tk in ("IPv6StringToNum", "INET6_ATON")
                    for tk in arg_parts[0]
                )
            ):
                ei0 = _emit(_translate_expr(arg_parts[0]))
                out.append(f"ch_bin_bitop({ei0}, {ei0}, 'not')")
                i = close + 1
                continue
            # bit ops over FixedString(16) IPv6 values stay binary
            # (FunctionsCoding.h works on the raw 16 bytes)
            if (
                t in ("bitAnd", "bitOr", "bitXor")
                and len(arg_parts) == 2
                and any(
                    tk in ("IPv6StringToNum", "INET6_ATON")
                    for p9 in arg_parts for tk in p9
                )
            ):
                ei0 = _emit(_translate_expr(arg_parts[0]))
                ei1 = _emit(_translate_expr(arg_parts[1]))
                out.append(
                    f"ch_bin_bitop({ei0}, {ei1}, '{t[3:].lower()}')"
                )
                i = close + 1
                continue
            # javaHashUTF16LE(convertCharset(x, 'utf-8', 'utf-16le')):
            # fuse the re-encode into the hash UDF — UTF-16 bytes don't
            # survive a Spark string column (FunctionsHashing.h
            # JavaHashUTF16LEImpl + FunctionsConvertCharset)
            if (
                t == "javaHashUTF16LE"
                and len(arg_parts) == 1
                and len(arg_parts[0]) >= 4
                and arg_parts[0][0] == "convertCharset"
                and arg_parts[0][1] == "("
            ):
                cs_args = _split_top(arg_parts[0][2:-1], ",")
                if (
                    len(cs_args) == 3
                    and cs_args[1][0].strip("'").lower() == "utf-8"
                    and cs_args[2][0].strip("'").lower() == "utf-16le"
                ):
                    ei = _emit(_translate_expr(cs_args[0]))
                    out.append(f"ch_javahash_utf16le_utf8({ei})")
                    i = close + 1
                    continue
            if t == "defaultValueOfArgumentType" and arg_parts:
                raw0 = arg_parts[0]
                tn0 = _type_name_of_raw(raw0)
                d0 = _default_of_ch_type(tn0) if tn0 else None
                if d0 is None and raw0 and raw0[0] == "[":
                    d0 = "array()"
                if d0 is None and raw0 and raw0[0] == "(" and _match_paren(
                    raw0, 0
                ) == len(raw0) - 1:
                    ds0 = []
                    for k0, p0 in enumerate(_split_top(raw0[1:-1], ",")):
                        tn1 = _type_name_of_raw(p0)
                        d1 = _default_of_ch_type(tn1) if tn1 else None
                        if d1 is None and len(p0) == 1:
                            if re.fullmatch(r"-?\d+", p0[0]):
                                d1 = "0"
                            elif p0[0].startswith("'"):
                                d1 = "''"
                        if d1 is None:
                            ds0 = None
                            break
                        ds0.append(f"'col{k0 + 1}', {d1}")
                    if ds0 is not None:
                        d0 = "named_struct(" + ", ".join(ds0) + ")"
                if d0 is None and len(raw0) == 1:
                    t0 = raw0[0].strip()
                    while t0.startswith("(") and t0.endswith(")"):
                        t0 = t0[1:-1].strip()
                    if re.fullmatch(r"-?\d+", t0):
                        d0 = "0"
                    elif t0.startswith("'"):
                        d0 = "''"
                if d0 is not None:
                    out.append(d0)
                    i = close + 1
                    continue
            # emptyArrayToSingle: the filler element is the TYPE default
            # (src/Functions/array/emptyArrayToSingle.cpp)
            if t == "emptyArrayToSingle" and arg_parts:
                tn7 = _type_name_of_raw(arg_parts[0]) or ""
                d7 = None
                if tn7.startswith("Array(") and "?" not in tn7:
                    d7 = _default_of_ch_type(tn7[6:-1])
                targ7 = _emit(_translate_expr(arg_parts[0]))
                out.append(
                    f"(CASE WHEN size({targ7}) = 0 "
                    f"THEN array({d7 or 'NULL'}) ELSE {targ7} END)"
                )
                i = close + 1
                continue
            # runningAccumulate resolves by the STATE's value kind: set
            # states by running union, strings by running max (argMax/any
            # merge), numerics by running sum — the raw arg's inferred
            # type decides (runningAccumulate.cpp finalizes per row)
            if t == "runningAccumulate" and arg_parts:
                tn = _type_name_of_raw(arg_parts[0]) or ""
                basety = _ch_unwrap(tn) if tn else ""
                targ = _emit(_translate_expr(arg_parts[0]))
                part = (
                    f"PARTITION BY {_emit(_translate_expr(arg_parts[1]))} "
                    if len(arg_parts) > 1 else ""
                )
                win = (
                    f"OVER ({part}ORDER BY monotonically_increasing_id() "
                    f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                )
                if (
                    "collect_set" in targ or "collect_list" in targ
                    or basety.startswith("Array")
                ):
                    expr = (
                        f"array_distinct(flatten("
                        f"collect_list({targ}) {win}))"
                    )
                elif basety.startswith(("String", "FixedString")):
                    expr = f"max({targ}) {win}"
                else:
                    expr = f"sum({targ}) {win}"
                out.append(expr)
                i = close + 1
                continue
            args = [_emit(_translate_expr(p)) for p in arg_parts if p]
            if hof_alv_token is not None:
                _ARRAY_LAMBDA_VARS.reset(hof_alv_token)
            # parametric: name(params)(args)
            if close + 1 < n and toks[close + 1] == "(":
                close2 = _match_paren(toks, close + 1)
                raw2 = toks[close + 2 : close2]
                args2 = [
                    _emit(_translate_expr(p))
                    for p in (_split_top(raw2, ",") if raw2 else [])
                    if p
                ]
                # -State composes with finalizeAggregation ({0}) to the
                # plain aggregate inside a single query
                t_base = t[:-5] if t.endswith("State") else t
                if (
                    t.endswith("State")
                    and t_base.lower().startswith(("quantile", "median"))
                    and args2
                ):
                    # quantile states STORE the raw value multiset
                    # (params apply at merge time; partials aren't
                    # mergeable once finalized)
                    out.append(f"collect_list(CAST({args2[0]} AS DOUBLE))")
                    i = close2 + 1
                    continue
                if t_base in PARAMETRIC_MAP:
                    out.append(PARAMETRIC_MAP[t_base](args, args2))  # type: ignore[operator]
                    i = close2 + 1
                    continue
                # parametric -ForEach (quantilesExactForEach(p...)(arr)):
                # per-position reduce over the collected arrays
                if (
                    t_base.endswith("ForEach")
                    and t_base[:-7] in PARAMETRIC_MAP and args2
                ):
                    col_fe = f"collect_list({args2[0]})"
                    ml_fe = (
                        f"array_max(transform({col_fe}, "
                        f"__fa -> size(__fa)))"
                    )
                    vals_fe = (
                        f"filter(transform({col_fe}, __fa -> "
                        f"element_at(__fa, CAST(__fi AS INT))), "
                        f"__fv -> __fv IS NOT NULL)"
                    )
                    base_fe = t_base[:-7]
                    if base_fe.lower().startswith(("quantile", "median")):
                        if "Exact" in base_fe:
                            parts_fe = [
                                _quantile_exact(vals_fe, lv) for lv in args
                            ]
                        else:
                            parts_fe = [
                                _quantile_interp(vals_fe, lv) for lv in args
                            ]
                        one_fe = (
                            parts_fe[0]
                            if not base_fe.startswith("quantiles")
                            else "array(" + ", ".join(parts_fe) + ")"
                        )
                        out.append(
                            f"transform(sequence(1, {ml_fe}), "
                            f"__fi -> {one_fe})"
                        )
                        i = close2 + 1
                        continue
                # parametric -Merge (quantilesMerge(0.5)(col)): stored
                # quantile states are raw-value arrays — re-aggregate;
                # other parametric states store the finalized result and
                # any_value is exact with one partial per group
                if t.endswith("Merge") and args2:
                    base = t[:-5]
                    if base.lower().startswith(("quantile", "median")):
                        out.append(_array_quantiles_expr(
                            f"flatten(collect_list({args2[0]}))",
                            args,
                            not base.startswith("quantiles"),
                        ))
                        i = close2 + 1
                        continue
                    if base in PARAMETRIC_MAP:
                        out.append(f"any_value({args2[0]}, true)")
                        i = close2 + 1
                        continue
            # numbers(n) table function -> range TVF with the reference's
            # column name (system.numbers column is `number`);
            # numbers_mt is the multithreaded variant (same rows, no
            # ordering guarantee — Spark's range is already parallel)
            if t in ("numbers", "numbers_mt") and args:
                if len(args) == 1:
                    out.append(f"(SELECT id AS number FROM range({args[0]}))")
                else:
                    out.append(
                        f"(SELECT id AS number FROM range({args[0]}, "
                        f"({args[0]}) + ({args[1]})))"
                    )
                i = close + 1
                continue
            if t == "generateRandom":
                out.append(_generate_random_tvf(args))
                i = close + 1
                continue
            if t in _EXACT_HASH_KINDS:
                exact = _exact_hash_call(t, arg_parts, args)
                if exact is not None:
                    out.append(exact)
                    i = close + 1
                    continue
            if t == "toTypeName" and arg_parts:
                tn = _type_name_of_raw(arg_parts[0])
                if tn is not None and "?" in tn:
                    tn = None
                if tn is not None:
                    # type tags can embed quoted params, e.g.
                    # DateTime('Asia/Istanbul') — escape for the literal
                    out.append("'" + tn.replace("'", "\\'") + "'")
                    i = close + 1
                    continue
            if (
                t in (
                    "count", "countIf", "sumIf", "avgIf", "minIf",
                    "maxIf",
                )
                and arg_parts and arg_parts[0]
                and _kw(arg_parts[0][0]) == "DISTINCT"
            ):
                # agg(DISTINCT <rewritten expr>): the DISTINCT must
                # stay OUTSIDE the rewritten expression (ternary/CASE —
                # 01315, 01259); -If folds its condition inside
                e0 = _emit(_translate_expr(arg_parts[0][1:]))
                base0 = t[:-2] if t.endswith("If") else t
                if t.endswith("If") and len(args) > 1:
                    out.append(
                        f"{base0}(DISTINCT CASE WHEN CAST({args[1]} AS "
                        f"BOOLEAN) THEN {e0} END)"
                    )
                elif t == "count" and len(arg_parts) > 1:
                    # count(DISTINCT x, y) = uniqExact over the tuple
                    # (00350): all args form the distinct key
                    out.append(
                        f"count(DISTINCT struct({', '.join([e0] + args[1:])}))"
                    )
                else:
                    out.append(f"{base0}(DISTINCT {e0})")
                i = close + 1
                continue
            if t in (
                "arrayEnumerateUniqRanked", "arrayEnumerateDenseRanked",
            ):
                out.append(
                    _enum_ranked_call(t, arg_parts, args)
                )
                i = close + 1
                continue
            if t == "toColumnTypeName" and arg_parts:
                # the column implementation name: the type name, with a
                # Const(...) wrapper for pure-literal expression trees
                # (src/Functions/toColumnTypeName.cpp; ColumnConst
                # getName)
                tn = _type_name_of_raw(arg_parts[0])
                if tn is not None and "?" not in tn:
                    if _raw_const_expr(arg_parts[0]):
                        tn = f"Const({tn})"
                    out.append("'" + tn.replace("'", "\\'") + "'")
                    i = close + 1
                    continue
                _raise_dialect(
                    "toColumnTypeName: unresolvable argument type (43)"
                )
            if t == "dumpColumnStructure" and arg_parts:
                # "<type name>, <column dumpStructure>" for a CONST
                # argument (src/Functions/dumpColumnStructure.cpp).
                # The outer Const(size = N) is the runtime block size —
                # a window count; debug/corpus-only, never a hot path.
                tn = _type_name_of_raw(arg_parts[0])
                if (
                    tn is not None and "?" not in tn
                    and _raw_const_expr(arg_parts[0])
                ):
                    tree = _ch_type_tree(tn)
                    val = _raw_array_literal(arg_parts[0])
                    if val is not None or "Array" not in tn:
                        dump = _dump_structure(
                            tree, [val if val is not None else None]
                        )
                        pre = f"{tn}, Const(size = ".replace("'", "\\'")
                        post = f", {dump})".replace("'", "\\'")
                        out.append(
                            f"concat('{pre}', CAST(count(*) OVER () "
                            f"AS STRING), '{post}')"
                        )
                        i = close + 1
                        continue
                _raise_dialect(
                    "dumpColumnStructure: unsupported argument (43)"
                )
            # timezone-argument forms.  DateTime('tz') values are
            # represented SHIFTED to that zone's wall clock (the session
            # stays UTC), tracked through _ch_type_of as DateTime('tz'):
            # part extractors with an explicit tz shift on the fly;
            # constructors (now/toDateTime/toStartOf*) yield the shifted
            # value so downstream single-arg extractors and rendering
            # are correct with no further bookkeeping.
            if (
                t in _TZ_FNS and args
                and args[-1].startswith("'") and not args[-1][1:-1].isdigit()
                and (len(args) == 2 or (t == "now" and len(args) == 1))
            ):
                tz = args[-1]
                if t == "toDate" and len(args) == 2:
                    # toDate(UInt, tz) keeps DAYS-since-epoch integer
                    # semantics (FunctionsConversion.h
                    # ToDateTransform32Or64: toDate(9) = 1970-01-10);
                    # tz only affects the type tag, never the value —
                    # route integers through the no-tz lambda
                    intish = args[0].lstrip("-").isdigit()
                    if not intish:
                        try:
                            ti = _ch_type_of(
                                arg_parts[0],
                                _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT,
                            )
                            intish = bool(ti) and _ch_unwrap(ti).startswith(
                                ("UInt", "Int")
                            )
                        except Exception:  # noqa: BLE001
                            intish = False
                    if intish:
                        out.append(FUNC_MAP["toDate"]([args[0]]))
                        i = close + 1
                        continue
                if len(args) == 1:  # now('tz')
                    wall = f"from_utc_timestamp(current_timestamp(), {tz})"
                else:
                    wall = _tz_wall_expr(args[0], arg_parts[0], tz)
                kind = _TZ_FNS[t]
                if kind == "value":
                    out.append(wall)
                elif kind == "string":
                    out.append(f"CAST({wall} AS STRING)")
                elif kind == "epoch":
                    out.append(
                        f"unix_timestamp(to_utc_timestamp({wall}, {tz}))"
                    )
                else:
                    out.append(kind.format(wall))
                i = close + 1
                continue
            # single-arg toUnixTimestamp over a tz-typed (shifted) value
            # re-bases to UTC before taking the epoch
            if t == "toUnixTimestamp" and len(args) == 1 and arg_parts:
                atz0 = _dt_tz_of(arg_parts[0])
                if atz0:
                    out.append(
                        f"unix_timestamp(to_utc_timestamp({args[0]}, {atz0}))"
                    )
                    i = close + 1
                    continue
            # add/subtract date arithmetic with a TRAILING tz argument:
            # convert to that zone's wall clock first, then add
            if (
                t in _TZ_ARITH_FNS and len(args) == 3
                and args[2].startswith("'")
            ):
                wall = _tz_wall_expr(args[0], arg_parts[0], args[2])
                out.append(
                    _render_tmpl(FUNC_MAP[t], [wall, args[1]])
                    if isinstance(FUNC_MAP.get(t), str)
                    else FUNC_MAP[t]([wall, args[1]])  # type: ignore[misc]
                )
                i = close + 1
                continue
            # toString's integral-float re-render ('10.0' -> '10') is a
            # FLOAT rendering rule (WriteHelpers.h shortest-round-trip);
            # mapPopulateSeries(keys, vals[, max]): fill the key range
            # [min(keys), max(max(keys), max)] step 1, missing values 0
            # (src/Functions/array/mapPopulateSeries.cpp)
            if t == "mapPopulateSeries":
                out.append(_map_populate_series_expr(args, arg_parts))
                i = close + 1
                continue
            if t in ("mapAdd", "mapSubtract"):
                out.append(
                    _map_add_sub_expr(args, arg_parts, t == "mapSubtract")
                )
                i = close + 1
                continue
            if t in _BITMAP_FUNCS:
                out.append(_bitmap_expr(t, args, arg_parts))
                i = close + 1
                continue
            if t == "toStartOfSecond":
                out.append(_to_start_of_second_expr(args, arg_parts))
                i = close + 1
                continue
            # minMap/maxMap/sumMap as REAL aggregates over the group.
            # In the finalized-state model -State IS the aggregate
            # result (the (keys, values) tuple) and -Merge re-folds the
            # stored tuples — both are the same fold (00502, 01630)
            if t in (
                "minMap", "maxMap", "sumMap", "sumMapWithOverflow",
                "minMapState", "maxMapState", "sumMapState",
                "minMapMerge", "maxMapMerge", "sumMapMerge",
            ):
                out.append(
                    _agg_map_expr(
                        args, arg_parts,
                        "sum" if t.startswith("sum") else t[:3],
                        overflow="WithOverflow" in t,
                    )
                )
                i = close + 1
                continue
            # parseDateTime64BestEffort*: precision/zone must be const
            # — materialize() is stripped by inner translation, so the
            # non-const check (error 44) needs the raw tokens
            if t.startswith("parseDateTime64BestEffort"):
                for pidx9 in (1, 2):
                    if (
                        len(arg_parts) > pidx9 and arg_parts[pidx9]
                        and _kw(arg_parts[pidx9][0]) == "MATERIALIZE"
                    ):
                        raise DialectError(
                            "parseDateTime64BestEffort: precision and "
                            "timezone must be const (44)"
                        )
            # toUnixTimestamp64*: the epoch re-base zone comes from the
            # argument's static DateTime64(s, 'tz') tag when it has one
            if t.startswith("toUnixTimestamp64") and arg_parts:
                k64 = {"Milli": 3, "Micro": 6, "Nano": 9}.get(
                    t[len("toUnixTimestamp64"):]
                )
                if k64 is not None:
                    out.append(
                        _to_unix_ts64_expr(args, k64, _dt_tz_of(arg_parts[0]))
                    )
                    i = close + 1
                    continue
            # String inputs whose text looks numeric and full-scale
            # Decimals must pass through unchanged — dispatch on the
            # inferred type, not the rendered text
            if t == "toString" and arg_parts and args:
                tn = _type_name_of_raw(arg_parts[0])
                if tn is not None and not _ch_unwrap(tn).startswith(
                    ("Float", "Int", "UInt", "?")
                ):
                    out.append(
                        f"TRIM(TRAILING chr(0) FROM "
                        f"CAST({args[0]} AS STRING))"
                    )
                    i = close + 1
                    continue
            # materialize() strips before the isConstant lambda could
            # see it — decide on the RAW argument (isConstant.cpp)
            if (
                t == "isConstant" and arg_parts and arg_parts[0]
                and _kw(arg_parts[0][0]) == "MATERIALIZE"
            ):
                out.append("0")
                i = close + 1
                continue
            # windowed aggregates: the empty-set coalesce wrapper is not
            # a window function — a window frame is never the empty set,
            # so plain sum/avg OVER (...) is both valid and exact
            if (
                t.lower() in ("sum", "avg")
                and close + 1 < n and _kw(toks[close + 1]) == "OVER"
            ):
                arg0 = args[0] if args else "*"
                if _is_boolish(arg0):
                    arg0 = f"CAST(({arg0}) AS INT)"
                if t.lower() == "avg":
                    # the reference's avg is always Float64 (Spark's
                    # decimal avg would widen the scale instead)
                    arg0 = f"CAST(({arg0}) AS DOUBLE)"
                out.append(f"{t.lower()}({arg0})")
                i = close + 1
                continue
            # toUInt64 of a FLOAT: values in [2^63, 2^64) are exact in
            # the reference (BIGINT saturates); negatives wrap mod 2^64
            if t == "toUInt64" and len(arg_parts) == 1 and args:
                tu9 = _ch_type_of(
                    arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                ) or ""
                if _ch_unwrap(tu9).startswith("Float"):
                    # exact BINARY conversion: BIGINT cast is exact
                    # below 2^63; above, rebase by 2^63 first (doubles
                    # there are coarse multiples, the subtraction is
                    # exact) — a direct DECIMAL cast would round through
                    # the double's DECIMAL string instead
                    xd9u = f"CAST({args[0]} AS DOUBLE)"
                    top9 = "9223372036854775808"
                    out.append(
                        f"CAST(CASE WHEN {xd9u} < 0 THEN "
                        f"CAST(18446744073709551616 AS DECIMAL(21, 0)) "
                        f"+ CAST(CAST({xd9u} AS BIGINT) AS DECIMAL(21, 0)) "
                        f"WHEN {xd9u} < 9.223372036854776e18d THEN "
                        f"CAST(CAST({xd9u} AS BIGINT) AS DECIMAL(21, 0)) "
                        f"ELSE CAST({top9} AS DECIMAL(21, 0)) + "
                        f"CAST(CAST({xd9u} - 9.223372036854776e18d "
                        f"AS BIGINT) AS DECIMAL(21, 0)) END "
                        f"AS DECIMAL(20, 0))"
                    )
                    i = close + 1
                    continue
            # Float min/max SKIP NaN (AggregateFunctionMinMax compares
            # with <, and NaN compares false — the running best never
            # moves to it); Spark instead orders NaN largest.  All-NaN
            # input keeps nan via the coalesce.
            if (
                t in ("min", "max") and len(arg_parts) == 1 and args
                and not (close + 1 < n and _kw(toks[close + 1]) == "OVER")
            ):
                tmm9 = _ch_type_of(
                    arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                ) or ""
                if _ch_unwrap(tmm9).startswith("Float"):
                    out.append(
                        f"coalesce({t}(IF(isnan({args[0]}), NULL, "
                        f"{args[0]})), {t}({args[0]}))"
                    )
                    i = close + 1
                    continue
            # hex(reinterpretAsString(Float)) = hex of the value's
            # little-endian IEEE bytes (reinterpret exposes raw memory)
            if (
                t == "hex" and len(arg_parts) == 1
                and len(arg_parts[0]) >= 4
                and arg_parts[0][0] == "reinterpretAsString"
                and arg_parts[0][1] == "("
            ):
                inner_h9 = arg_parts[0][2:-1]
                th9 = _ch_type_of(
                    inner_h9, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                ) or ""
                if _ch_unwrap(th9) in ("Float32", "Float64"):
                    w9 = 4 if _ch_unwrap(th9) == "Float32" else 8
                    ei9 = _emit(_translate_expr(inner_h9))
                    out.append(f"ch_hex_float({ei9}, {w9})")
                    i = close + 1
                    continue
            # bitCount over a Float reinterprets the IEEE bits
            # (FunctionsBitCount casts via bit_cast to UInt64)
            if t == "bitCount" and len(arg_parts) == 1:
                tb9 = _ch_type_of(
                    arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                ) or ""
                wmask9 = {
                    "Int8": 0xFF, "UInt8": 0xFF,
                    "Int16": 0xFFFF, "UInt16": 0xFFFF,
                    "Int32": 0xFFFFFFFF, "UInt32": 0xFFFFFFFF,
                }.get(_ch_unwrap(tb9))
                if wmask9 and args:
                    # popcount WITHIN the declared width (narrow ints
                    # would otherwise sign-extend through BIGINT)
                    out.append(
                        f"bit_count(CAST({args[0]} AS BIGINT) "
                        f"& {wmask9})"
                    )
                    i = close + 1
                    continue
                if _ch_unwrap(tb9).startswith("Float") and args:
                    if _ch_unwrap(tb9) == "Float32":
                        bits9 = (
                            f"CAST(reflect('java.lang.Float', "
                            f"'floatToRawIntBits', CAST({args[0]} "
                            f"AS FLOAT)) AS BIGINT)"
                        )
                    else:
                        bits9 = (
                            f"CAST(reflect('java.lang.Double', "
                            f"'doubleToRawLongBits', CAST({args[0]} "
                            f"AS DOUBLE)) AS BIGINT)"
                        )
                    out.append(f"bit_count({bits9})")
                    i = close + 1
                    continue
            # divide() is the same operator as infix '/' — reroute so
            # the decimal-truncation hop applies (DecimalBinaryOperation)
            if t == "divide" and len(arg_parts) == 2:
                def _wrap_div(ts9: list[str]) -> list[str]:
                    for _, tk9 in _top_level(ts9):
                        if (
                            tk9 in ("+", "-", "*", "/", "%")
                            or _kw(tk9) in ("AND", "OR")
                        ):
                            return ["("] + list(ts9) + [")"]
                    return list(ts9)
                out.append(_emit(_translate_expr(
                    _wrap_div(arg_parts[0]) + ["/"]
                    + _wrap_div(arg_parts[1])
                )))
                i = close + 1
                continue
            # arrayAUC over Enum-typed labels: map label strings to their
            # declared numeric values first (the comparison is on values)
            if t == "arrayAUC" and len(arg_parts) == 2 and len(args) == 2:
                tl9 = _ch_type_of(
                    arg_parts[1], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                ) or ""
                me8 = re.match(r"Array\(Enum(?:8|16)?\((.*)\)\)$", tl9)
                if me8:
                    pairs8 = re.findall(
                        r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)",
                        me8.group(1),
                    )
                    if pairs8:
                        whens8 = " ".join(
                            f"WHEN '{nm8}' THEN {vv8}"
                            for nm8, vv8 in pairs8
                        )
                        args = [
                            args[0],
                            f"transform({args[1]}, __ev -> "
                            f"CASE __ev {whens8} END)",
                        ]
            # transform(x, from, to) without a default: from/to must be
            # ARRAYS and the result element class must match x (error 43)
            if t == "transform" and len(arg_parts) == 3:
                env_tr = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                def _tr_cls(tt):
                    if not tt:
                        return None
                    e = _ch_unwrap(tt)
                    while e.startswith("LowCardinality("):
                        e = e[15:-1]
                    if e.startswith(("Int", "UInt", "Float", "Decimal",
                                     "Date", "DateTime", "Enum")):
                        return "num"
                    if e.startswith(("String", "FixedString")):
                        return "str"
                    if e.startswith(("Tuple", "Array", "Map")):
                        return "composite"
                    return None
                t_in = _ch_type_of(arg_parts[0], env_tr)
                t_fr = _ch_type_of(arg_parts[1], env_tr)
                t_to = _ch_type_of(arg_parts[2], env_tr)
                if (t_fr and not t_fr.startswith("Array(")) or (
                    t_to and not t_to.startswith("Array(")
                ):
                    raise DialectError("transform: array arguments required")
                c_in = _tr_cls(t_in)
                c_to = _tr_cls(t_to[6:-1]) if (
                    t_to and t_to.startswith("Array(")
                ) else None
                if c_in == "composite":
                    raise DialectError("transform: unsupported input type")
                if c_in and c_to and c_in != c_to:
                    raise DialectError(
                        "transform: result type must match input"
                    )
            # flatten recurses through EVERY nesting level
            # (arrayFlatten.cpp); Spark's flatten peels exactly one —
            # repeat by the statically-inferred depth
            if t in ("flatten", "arrayFlatten") and arg_parts and args:
                tf9 = _ch_type_of(
                    arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                ) or ""
                depth_f = 0
                while tf9.startswith("Array("):
                    depth_f += 1
                    tf9 = tf9[6:-1]
                if depth_f > 2:
                    ef9 = args[0]
                    for _ in range(depth_f - 1):
                        ef9 = f"flatten({ef9})"
                    out.append(ef9)
                    i = close + 1
                    continue
            # type-introspection intercepts that need the RAW argument
            if t == "getSizeOfEnumType" and arg_parts:
                te9 = _ch_type_of(
                    arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                ) or ""
                me9 = re.match(r"Enum(?:8|16)?\((.*)\)$", te9)
                if me9:
                    # label count = top-level '=' signs
                    d9c, cnt9 = 0, 0
                    in_s9 = False
                    for ch9 in me9.group(1):
                        if in_s9:
                            in_s9 = ch9 != "'"
                        elif ch9 == "'":
                            in_s9 = True
                        elif ch9 == "(":
                            d9c += 1
                        elif ch9 == ")":
                            d9c -= 1
                        elif ch9 == "=" and d9c == 0:
                            cnt9 += 1
                    out.append(str(cnt9))
                    i = close + 1
                    continue
                raise DialectError("getSizeOfEnumType: not an Enum")
            if t == "timeZoneOf" and arg_parts:
                tz9 = _dt_tz_of(arg_parts[0])
                out.append(tz9 if tz9 else "'UTC'")
                i = close + 1
                continue
            # timezoneOffset(dt): UTC offset seconds at that instant
            # (src/Functions/timezoneOffset.cpp).  Values are stored as
            # the zone's WALL CLOCK, so offset = wall - true epoch
            if t in ("timezoneOffset", "timeZoneOffset") and arg_parts:
                tz9 = _dt_tz_of(arg_parts[0]) or "'UTC'"
                out.append(
                    f"CAST(CAST({args[0]} AS DOUBLE) - "
                    f"CAST(to_utc_timestamp({args[0]}, {tz9}) AS DOUBLE) "
                    f"AS INT)"
                )
                i = close + 1
                continue
            # regex group extraction family: needs the CONST pattern at
            # translate time to count capture groups
            # (src/Functions/extractAllGroupsHorizontal.cpp, …Vertical.cpp,
            # extractGroups.cpp, countMatches.h)
            if t in (
                "extractGroups", "extractAllGroupsHorizontal",
                "extractAllGroupsVertical", "countMatches",
                "countMatchesCaseInsensitive",
            ):
                if len(args) != 2:
                    raise DialectError(f"{t}: needs exactly 2 arguments")
                h_r8 = arg_parts[0]
                if len(h_r8) == 1 and re.fullmatch(
                    r"-?[0-9.]+", h_r8[0]
                ):
                    raise DialectError(f"{t}: haystack must be a string")
                pat_r8 = _const_str_of_raw(arg_parts[1])
                if pat_r8 is None:
                    raise DialectError(f"{t}: needle must be constant")
                try:
                    rx_r8 = re.compile(pat_r8)
                except re.error:
                    raise DialectError(f"{t}: invalid regular expression")
                lit_r8 = _sql_str_lit(
                    "(?i)" + pat_r8
                    if t == "countMatchesCaseInsensitive" else pat_r8
                )
                hh = args[0]
                if t.startswith("countMatches"):
                    g0 = f"regexp_extract_all({hh}, {lit_r8}, 0)"
                    # the reference stops counting at the first
                    # zero-byte match (countMatches.h)
                    out.append(
                        f"CAST(IF(array_position({g0}, '') > 0, "
                        f"array_position({g0}, '') - 1, size({g0})) "
                        f"AS BIGINT)"
                    )
                    i = close + 1
                    continue
                ng8 = rx_r8.groups
                if ng8 == 0:
                    raise DialectError(f"{t}: no capture groups in pattern")
                if t == "extractGroups":
                    gs8 = ", ".join(
                        f"regexp_extract({hh}, {lit_r8}, {g})"
                        for g in range(1, ng8 + 1)
                    )
                    out.append(
                        f"IF({hh} RLIKE {lit_r8}, array({gs8}), "
                        f"CAST(array() AS ARRAY<STRING>))"
                    )
                    i = close + 1
                    continue
                # Java's find() yields one extra trailing empty match
                # (at end-of-string) whenever the pattern can match ''
                # — the reference's scan loop stops at pos == size, so
                # drop that last element
                drop8 = rx_r8.match("") is not None

                def _garr8(g):
                    e8 = f"regexp_extract_all({hh}, {lit_r8}, {g})"
                    if drop8:
                        e8 = f"slice({e8}, 1, size({e8}) - 1)"
                    return e8

                if t == "extractAllGroupsHorizontal":
                    out.append(
                        "array("
                        + ", ".join(_garr8(g) for g in range(1, ng8 + 1))
                        + ")"
                    )
                else:
                    g1_8 = _garr8(1)
                    els8 = ", ".join(
                        f"element_at({_garr8(g)}, CAST(__egv AS INT))"
                        for g in range(1, ng8 + 1)
                    )
                    out.append(
                        f"IF(size({g1_8}) = 0, "
                        f"CAST(array() AS ARRAY<ARRAY<STRING>>), "
                        f"transform(sequence(1, size({g1_8})), "
                        f"__egv -> array({els8})))"
                    )
                i = close + 1
                continue
            # tupleHammingDistance: component-wise != summed; arity from
            # the raw tuple literal or the inferred Tuple type
            # (src/Functions/tupleHammingDistance.cpp)
            if t == "tupleHammingDistance" and len(args) == 2:
                ar8 = None
                elcls8: list[list[str] | None] = []

                def _tup_elems8(ap8):
                    ts8 = list(ap8)
                    while (
                        len(ts8) >= 3
                        and _kw(ts8[0]) == "MATERIALIZE" and ts8[1] == "("
                        and _match_paren(ts8, 1) == len(ts8) - 1
                    ):
                        ts8 = ts8[2:-1]
                    if len(ts8) >= 3 and _kw(ts8[0]) == "TUPLE" and ts8[1] == "(":
                        return _split_top(ts8[2:-1], ",")
                    if (
                        len(ts8) >= 3 and ts8[0] == "("
                        and _match_paren(ts8, 0) == len(ts8) - 1
                    ):
                        return _split_top(ts8[1:-1], ",")
                    return None

                for ap8 in arg_parts:
                    el8 = _tup_elems8(ap8)
                    if el8 is None:
                        elcls8.append(None)
                        continue
                    if ar8 is not None and ar8 != len(el8):
                        raise DialectError(
                            "tupleHammingDistance: tuple arity mismatch"
                        )
                    ar8 = len(el8)
                    elcls8.append([
                        "str" if e8 and e8[0][:1] == "'"
                        else "num" if e8 and re.fullmatch(
                            r"-?[0-9.]+", e8[0]
                        )
                        else "?"
                        for e8 in el8
                    ])
                # incomparable element kinds (error 386): a numeric
                # against a string literal at the same position
                if (
                    len(elcls8) == 2 and elcls8[0] and elcls8[1]
                    and any(
                        {c1, c2} == {"num", "str"}
                        for c1, c2 in zip(elcls8[0], elcls8[1])
                    )
                ):
                    raise DialectError(
                        "tupleHammingDistance: incomparable element types"
                    )
                if ar8 is None:
                    tt8 = _ch_type_of(
                        arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                    ) or _ch_type_of(
                        arg_parts[1], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                    )
                    if tt8 and tt8.startswith("Tuple("):
                        ar8 = 1 + sum(
                            ch8 == ","
                            for _, ch8 in _top_level(tt8, 6, -1, brackets="(")
                        )
                if ar8 is None:
                    raise DialectError(
                        "tupleHammingDistance: tuple arity unknown"
                    )
                out.append(
                    "("
                    + " + ".join(
                        f"CAST((({args[0]}).col{k} != ({args[1]}).col{k}) "
                        f"AS INT)"
                        for k in range(1, ar8 + 1)
                    )
                    + ")"
                )
                i = close + 1
                continue
            # reinterpretAs(U)Int{32,64} over a SAME-WIDTH float is a bit
            # cast (01554) — string inputs keep the little-endian byte
            # formula in FUNC_MAP
            if (
                t in (
                    "reinterpretAsInt32", "reinterpretAsUInt32",
                    "reinterpretAsInt64", "reinterpretAsUInt64",
                )
                and len(arg_parts) == 1
            ):
                tf8 = _ch_unwrap(_ch_type_of(
                    arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                ) or "")
                if tf8 == "Float32" and t.endswith("32"):
                    b8 = (
                        "CAST(reflect('java.lang.Float', "
                        f"'floatToRawIntBits', CAST({args[0]} AS FLOAT)) "
                        "AS BIGINT)"
                    )
                    out.append(
                        f"pmod({b8}, 4294967296)"
                        if "UInt" in t else f"CAST({b8} AS INT)"
                    )
                    i = close + 1
                    continue
                if tf8 == "Float64" and t.endswith("64"):
                    b8 = (
                        "CAST(reflect('java.lang.Double', "
                        f"'doubleToRawLongBits', CAST({args[0]} AS "
                        "DOUBLE)) AS BIGINT)"
                    )
                    if "UInt" in t:
                        out.append(
                            f"(CASE WHEN {b8} < 0 THEN CAST({b8} AS "
                            f"DECIMAL(20, 0)) + 18446744073709551616 "
                            f"ELSE CAST({b8} AS DECIMAL(20, 0)) END)"
                        )
                    else:
                        out.append(b8)
                    i = close + 1
                    continue
            # hex(reinterpretAsFixedString(uuid)): the reference stores a
            # UUID as two little-endian UInt64 halves, so the in-memory
            # byte image is each 8-byte half REVERSED (01869;
            # src/Functions/reinterpretAs.cpp + DataTypeUUID layout)
            if t == "hex" and len(arg_parts) == 1:
                ap8h = arg_parts[0]
                if (
                    len(ap8h) >= 4
                    and _kw(ap8h[0]) in (
                        "REINTERPRETASFIXEDSTRING", "REINTERPRETASSTRING",
                    )
                    and ap8h[1] == "("
                    and _match_paren(ap8h, 1) == len(ap8h) - 1
                ):
                    inner8h = ap8h[2:-1]
                    ti8h = _ch_type_of(
                        inner8h, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                    ) or ("UUID" if _kw(inner8h[0]) == "TOUUID" else "")
                    if ti8h == "UUID":
                        u8h = _emit(_translate_expr(inner8h))
                        hh8 = f"upper(replace({u8h}, '-', ''))"
                        parts8h = [
                            f"substr({hh8}, {pos}, 2)"
                            for pos in (15, 13, 11, 9, 7, 5, 3, 1)
                        ] + [
                            f"substr({hh8}, {pos}, 2)"
                            for pos in (31, 29, 27, 25, 23, 21, 19, 17)
                        ]
                        out.append("concat(" + ", ".join(parts8h) + ")")
                        i = close + 1
                        continue
            # byteSize(args...): sum of the arguments' in-memory widths,
            # a translate-time constant for fixed-width types
            # (src/Functions/byteSize.cpp)
            if t == "byteSize":
                _BS = {
                    "UInt8": 1, "Int8": 1, "Bool": 1, "Enum8": 1,
                    "UInt16": 2, "Int16": 2, "Date": 2, "Enum16": 2,
                    "UInt32": 4, "Int32": 4, "Float32": 4,
                    "DateTime": 4, "Decimal32": 4, "IPv4": 4,
                    "UInt64": 8, "Int64": 8, "Float64": 8,
                    "DateTime64": 8, "Decimal64": 8,
                    "UUID": 16, "IPv6": 16,
                    "Int128": 16, "UInt128": 16, "Decimal128": 16,
                    "Int256": 32, "UInt256": 32, "Decimal256": 32,
                }
                tot8 = 0
                ok8 = True
                for ap8 in arg_parts:
                    if not ap8:
                        continue
                    tb8 = _ch_type_of(
                        ap8, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                    )
                    tb8 = _ch_unwrap(tb8) if tb8 else None
                    if tb8 is None:
                        # unresolved arithmetic results are 8-byte
                        # (UInt64/Int64/Float64) in every corpus shape
                        tot8 += 8
                        continue
                    base8 = re.match(r"[A-Za-z0-9]+", tb8)
                    sz8 = _BS.get(base8.group(0) if base8 else "")
                    if sz8 is None:
                        ok8 = False
                        break
                    tot8 += sz8
                if ok8:
                    out.append(str(tot8))
                    i = close + 1
                    continue
                raise DialectError("byteSize: variable-width argument")
            # multi-array enumerate family: sibling arrays must agree in
            # size (reference error 190) — checkable for literals
            if (
                t in ("arrayEnumerateDense", "arrayEnumerateUniq")
                and len(arg_parts) >= 2
            ):
                ars8 = []
                for ap8 in arg_parts:
                    if (
                        ap8 and ap8[0] == "["
                        and _match_bracket(ap8, 0) == len(ap8) - 1
                    ):
                        inner8 = ap8[1:-1]
                        ars8.append(
                            0 if not inner8
                            else len(_split_top(inner8, ","))
                        )
                if len(set(ars8)) > 1:
                    raise DialectError(f"{t}: array sizes differ")
            # segmentLengthSum(start, end): total length of the union of
            # intervals — sort, sweep, sum
            # (AggregateFunctionSegmentLengthSum.h); Date args count in
            # DAYS, DateTime in seconds, numerics as-is
            if t == "segmentLengthSum" and len(args) == 2 and arg_parts:
                ts8v = _ch_type_of(
                    arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                ) or ""
                tu8 = _ch_unwrap(ts8v)
                if tu8.startswith("DateTime"):
                    def _sls_conv(e):
                        return f"CAST(CAST({e} AS TIMESTAMP) AS DOUBLE)"
                elif tu8.startswith("Date"):
                    def _sls_conv(e):
                        return (
                            f"CAST(datediff(CAST({e} AS DATE), "
                            f"DATE '1970-01-01') AS DOUBLE)"
                        )
                else:
                    def _sls_conv(e):
                        return f"CAST({e} AS DOUBLE)"
                segs8 = (
                    f"array_sort(collect_list(named_struct("
                    f"'s', {_sls_conv(args[0])}, "
                    f"'e', {_sls_conv(args[1])})))"
                )
                fold8 = (
                    f"aggregate({segs8}, named_struct("
                    f"'tot', CAST(0 AS DOUBLE), "
                    f"'cs', CAST(NULL AS DOUBLE), "
                    f"'ce', CAST(NULL AS DOUBLE)), (__sa, __sg) -> "
                    f"IF(__sa.ce IS NULL, named_struct('tot', __sa.tot, "
                    f"'cs', __sg.s, 'ce', __sg.e), "
                    f"IF(__sg.s > __sa.ce, named_struct("
                    f"'tot', __sa.tot + (__sa.ce - __sa.cs), "
                    f"'cs', __sg.s, 'ce', __sg.e), "
                    f"named_struct('tot', __sa.tot, 'cs', __sa.cs, "
                    f"'ce', greatest(__sa.ce, __sg.e)))), "
                    f"__sa -> __sa.tot + coalesce(__sa.ce - __sa.cs, 0D))"
                )
                if tu8.startswith("Float"):
                    out.append(fold8)
                else:
                    out.append(f"CAST({fold8} AS BIGINT)")
                i = close + 1
                continue
            # a literal-NULL first argument collapses a stat aggregate to
            # NULL before arity checking in the reference (the Nothing
            # type short-circuit) — 00808 passes STDDEV_SAMP(NULL, x)
            if (
                t.lower() in (
                    "stddev_samp", "stddevsamp", "stddev_pop", "stddevpop",
                    "var_samp", "varsamp", "var_pop", "varpop",
                )
                and len(args) >= 2 and args[0].strip().upper() == "NULL"
            ):
                out.append("CAST(NULL AS DOUBLE)")
                i = close + 1
                continue
            # keyless min/max over an empty NON-NULLABLE numeric set
            # yields the type default 0 in the reference (same rule the
            # sum/avg FUNC_MAP entries already apply); only the
            # numeric-typed case is intercepted so string/date min/max
            # keep their existing mapping
            if (
                t in ("min", "max") and len(args) == 1 and arg_parts
                and not _is_boolish(args[0])
                and not _agg_input_nullable(args[0])
                # windowed min/max can't be wrapped (coalesce is not a
                # window function), and a window frame is never the
                # empty set this default exists for
                and not (close + 1 < n and _kw(toks[close + 1]) == "OVER")
            ):
                tm8 = _ch_type_of(
                    arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                )
                if tm8 and tm8.startswith(("UInt", "Int")):
                    out.append(f"coalesce({t}({args[0]}), 0)")
                    i = close + 1
                    continue
            # isDecimalOverflow(d[, p]): does the underlying integer
            # exceed p digits (src/Functions/isDecimalOverflow.cpp);
            # default p = the argument type's precision
            if t == "isDecimalOverflow" and arg_parts:
                # literal fold: toDecimalNN(lit, s) [± int] — values past
                # Spark's DECIMAL(38) ceiling (Decimal128 holds 1e38)
                # are only decidable at translate time
                def _dec_lit_digits8(ap):
                    import decimal as _dec8
                    ts8 = list(ap)
                    tail8 = 0
                    if (
                        len(ts8) >= 2 and ts8[-2] in ("+", "-")
                        and re.fullmatch(r"[0-9]+", ts8[-1])
                    ):
                        tail8 = (
                            int(ts8[-1]) if ts8[-2] == "+" else -int(ts8[-1])
                        )
                        ts8 = ts8[:-2]
                    changed8 = True
                    while changed8:
                        changed8 = False
                        while (
                            len(ts8) >= 3 and ts8[0] == "("
                            and _match_paren(ts8, 0) == len(ts8) - 1
                        ):
                            ts8 = ts8[1:-1]
                            changed8 = True
                        if (
                            len(ts8) >= 4
                            and _kw(ts8[0]) == "MATERIALIZE"
                            and ts8[1] == "("
                            and _match_paren(ts8, 1) == len(ts8) - 1
                        ):
                            ts8 = ts8[2:-1]
                            changed8 = True
                        if (
                            len(ts8) >= 2 and ts8[-2] in ("+", "-")
                            and re.fullmatch(r"[0-9]+", ts8[-1])
                        ):
                            tail8 += (
                                int(ts8[-1]) if ts8[-2] == "+"
                                else -int(ts8[-1])
                            )
                            ts8 = ts8[:-2]
                            changed8 = True
                    if not (
                        len(ts8) >= 4 and ts8[0].startswith("toDecimal")
                        and ts8[1] == "("
                        and _match_paren(ts8, 1) == len(ts8) - 1
                    ):
                        return None
                    ps8 = _split_top(ts8[2:-1], ",")
                    neg8 = False
                    v_t8 = ps8[0]
                    if len(v_t8) == 2 and v_t8[0] == "-":
                        neg8, v_t8 = True, v_t8[1:]
                    if len(v_t8) != 1:
                        return None
                    tk8 = v_t8[0]
                    try:
                        if tk8[:1] == "'":
                            v8 = _dec8.Decimal(
                                _ch_str_bytes(tk8).decode("utf-8")
                            )
                        else:
                            v8 = _dec8.Decimal(tk8)
                    except Exception:  # noqa: BLE001
                        return None
                    if neg8:
                        v8 = -v8
                    sc8 = (
                        int(ps8[1][0])
                        if len(ps8) > 1 and ps8[1][0].isdigit() else 0
                    )
                    # default decimal context rounds to 28 significant
                    # digits — these literals need exact 38+ digit math
                    with _dec8.localcontext() as ctx8:
                        ctx8.prec = 200
                        v8 = v8 + tail8
                        under8 = abs(int(v8 * (10**sc8)))
                    return len(str(under8)) if under8 else 0

                if len(args) == 2:
                    p8 = args[1]
                else:
                    td8 = _ch_type_of(
                        arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                    ) or ""
                    m8 = re.match(r"Decimal\((\d+)", td8)
                    p8 = m8.group(1) if m8 else "38"
                if re.fullmatch(r"[0-9]+", p8.strip()):
                    dg8 = _dec_lit_digits8(arg_parts[0])
                    if dg8 is not None:
                        out.append("1" if dg8 > int(p8.strip()) else "0")
                        i = close + 1
                        continue
                ds8 = (
                    f"regexp_replace(regexp_replace(CAST({args[0]} AS "
                    f"STRING), '[-.]', ''), '^0+', '')"
                )
                out.append(f"CAST(length({ds8}) > {p8} AS INT)")
                i = close + 1
                continue
            # hasSubstr demands COMPARABLE element types — Int vs String
            # is error 386 in the reference, where Spark would coerce
            if t == "hasSubstr" and len(arg_parts) == 2:
                env_hs = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                def _hs_cls(tt):
                    if not tt or not tt.startswith("Array("):
                        return None
                    e = tt[6:-1]
                    while e.startswith(("Nullable(", "LowCardinality(")):
                        e = e[e.index("(") + 1 : -1]
                    if e.startswith(("Int", "UInt", "Float", "Decimal")):
                        return "num"
                    if e.startswith(("String", "FixedString")):
                        return "str"
                    if e.startswith("Array("):
                        return "arr"
                    return None
                c1_hs = _hs_cls(_ch_type_of(arg_parts[0], env_hs))
                c2_hs = _hs_cls(_ch_type_of(arg_parts[1], env_hs))
                if c1_hs and c2_hs and c1_hs != c2_hs:
                    raise DialectError(
                        "hasSubstr: incomparable element types"
                    )
            # float rounding family: the reference's round() is half-even
            # on Floats and every member keeps the zero SIGN for
            # -1 < x < 0 (FunctionsRound.h uses std::rint/floor/ceil on
            # the native float) — type-gated so integer paths keep exact
            # integer math
            if (
                t in ("round", "roundBankers", "ceil", "ceiling",
                      "floor", "trunc", "truncate", "roundToExp2")
                and len(args) in (1, 2) and arg_parts
            ):
                at9 = _ch_type_of(
                    arg_parts[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                )
                if at9 in ("Float32", "Float64"):
                    # scale math runs in the INPUT float width — Float32
                    # x*10 re-rounds to a representable float32, which is
                    # how -0.9f * 10 lands exactly on -9
                    ft9 = "FLOAT" if at9 == "Float32" else "DOUBLE"
                    if len(args) == 2:
                        sc9 = f"CAST(pow(10, {args[1]}) AS {ft9})"
                        xd9 = (
                            f"CAST(CAST({args[0]} AS {ft9}) * {sc9} "
                            f"AS {ft9})"
                        )
                    else:
                        sc9 = None
                        xd9 = f"CAST({args[0]} AS {ft9})"
                    if t == "roundToExp2":
                        # sign * 2^floor(log2 |x|); 0 stays 0
                        # (src/Functions/roundToExp2 float path)
                        out.append(
                            f"IF({xd9} = 0, CAST(0 AS {ft9}), "
                            f"CAST(sign({xd9}) * pow(2, "
                            f"floor(log2(abs(CAST({xd9} AS DOUBLE))))) "
                            f"AS {ft9}))"
                        )
                        i = close + 1
                        continue
                    if t in ("round", "roundBankers"):
                        core9 = f"rint(CAST({xd9} AS DOUBLE))"
                    elif t in ("ceil", "ceiling"):
                        core9 = f"CAST(ceil({xd9}) AS DOUBLE)"
                    elif t == "floor":
                        core9 = f"CAST(floor({xd9}) AS DOUBLE)"
                    else:
                        core9 = (
                            f"IF({xd9} >= 0, CAST(floor({xd9}) AS DOUBLE),"
                            f" CAST(ceil({xd9}) AS DOUBLE))"
                        )
                    if sc9 is not None:
                        core9 = f"CAST(({core9}) / {sc9} AS {ft9})"
                    out.append(
                        f"IF(CAST({args[0]} AS DOUBLE) < 0, "
                        f"-abs({core9}), {core9})"
                    )
                    i = close + 1
                    continue
            tmpl = FUNC_MAP.get(t)
            if tmpl is None and t != t.lower():
                # SQL-compat alias names are case-insensitive in the
                # reference (EXTRACT, Locate, UCASE, DATE_DIFF, ...)
                tmpl = FUNC_MAP.get(t.lower())
            if tmpl is None and t in (
                "groupUniqArrayStateArray", "groupUniqArrayArrayState",
            ):
                # set-aggregate state fed per-element by -Array: the
                # stored state is one distinct set of all row elements
                # (00720 — order of -Array vs -State is immaterial here)
                tmpl = "array_distinct(flatten(collect_list({0})))"
            if tmpl is None and t in (
                "sumForEachStateForEachIfArrayIfState",
                "sumForEachStateForEachIfArrayIfMerge",
                "sumForEachMergeArray",
            ):
                # the 00545 combinator tower over the finalized-state
                # model: a sumForEachState IS its per-position sum
                # array, so the ForEach-of-states is an array (position)
                # of elementwise-summed arrays; -Array unwraps the outer
                # array, both -Ifs are row masks after the unwrap
                def _fe_matrix(col9: str) -> str:
                    ml9 = (
                        f"array_max(transform({col9}, "
                        f"__fa -> size(__fa)))"
                    )
                    at9 = (
                        f"filter(transform({col9}, __fa -> "
                        f"element_at(__fa, CAST(__fi AS INT))), "
                        f"__fv -> __fv IS NOT NULL)"
                    )
                    esum9 = (
                        f"aggregate({at9}, CAST(NULL AS ARRAY<DOUBLE>), "
                        f"(__ac, __ar) -> IF(__ac IS NULL, "
                        f"transform(__ar, __v -> CAST(__v AS DOUBLE)), "
                        f"zip_with(__ac, __ar, (__x, __y) -> "
                        f"__x + CAST(__y AS DOUBLE))))"
                    )
                    return (
                        f"transform(sequence(1, {ml9}), __fi -> {esum9})"
                    )

                if t == "sumForEachStateForEachIfArrayIfState":
                    tmpl = lambda a: _fe_matrix(  # noqa: E731
                        f"filter(flatten(collect_list(CASE WHEN "
                        f"CAST({a[2]} AS BOOLEAN) THEN "
                        f"zip_with({a[0]}, {a[1]}, (__d, __m) -> "
                        f"IF(CAST(__m AS BOOLEAN), __d, NULL)) END)), "
                        f"__kv -> __kv IS NOT NULL)"
                    )
                elif t == "sumForEachStateForEachIfArrayIfMerge":
                    tmpl = lambda a: _fe_matrix(  # noqa: E731
                        f"collect_list({a[0]})"
                    )
                else:  # sumForEachMergeArray ≡ sumForEachArray here
                    tmpl = lambda a: (  # noqa: E731
                        _agg_combinator_expr("sumForEachArray", a)
                    )
            if tmpl is None and t == "groupUniqArrayForEachStateArray":
                # per-position set states; -Array unwraps the outer
                # array so each inner array is a ForEach input
                col_fs = "flatten(collect_list({0}))"
                ml_fs = f"array_max(transform({col_fs}, __fa -> size(__fa)))"
                one_fs = (
                    f"array_distinct(filter(transform({col_fs}, "
                    f"__fa -> element_at(__fa, CAST(__fi AS INT))), "
                    f"__fv -> __fv IS NOT NULL))"
                )
                tmpl = (
                    f"transform(sequence(1, {ml_fs}), __fi -> {one_fs})"
                )
            if tmpl is None and re.fullmatch(
                r"(\w+?)Merge(State|OrNull)", t
            ):
                # fooMergeState: merge partials, KEEP the state form;
                # fooMergeOrNull: merge with NULL for the empty state
                # (the -OrNull the null_for_empty rewrite appends)
                m_ms = re.fullmatch(r"(\w+?)Merge(State|OrNull)", t)
                root_ms, suf_ms = m_ms.group(1), m_ms.group(2)
                un_ms = "array_distinct(flatten(collect_list({0})))"
                if root_ms in (
                    "uniq", "uniqExact", "uniqCombined", "uniqHLL12",
                ):
                    tmpl = (
                        un_ms if suf_ms == "State"
                        else f"IF(count({{0}}) = 0, NULL, size({un_ms}))"
                    )
                elif root_ms == "groupArray":
                    tmpl = "flatten(collect_list({0}))"
                elif root_ms == "groupUniqArray":
                    tmpl = un_ms
                elif root_ms == "avg":
                    tmpl = (
                        "named_struct('s', sum({0}.s), 'c', sum({0}.c))"
                        if suf_ms == "State"
                        else "IF(sum({0}.c) = 0, NULL, "
                             "sum({0}.s) / sum({0}.c))"
                    )
                elif root_ms == "count":
                    tmpl = (
                        "sum({0})" if suf_ms == "State"
                        else "IF(count({0}) = 0, NULL, sum({0}))"
                    )
                elif root_ms in ("sum", "min", "max", "any", "anyLast"):
                    # scalar-composable states re-aggregate RAW (no
                    # coalesce-0): empty states are stored NULL and the
                    # null-skip must preserve that emptiness through
                    # -MergeState chains and into -OrNull's NULL
                    base_ms = (
                        "any_value({0}, true)"
                        if root_ms in ("any", "anyLast")
                        else f"{root_ms}({{0}})"
                    )
                    tmpl = (
                        base_ms if suf_ms == "State"
                        else f"IF(count({{0}}) = 0, NULL, {base_ms})"
                    )
            if tmpl is None and t.endswith("State") and len(t) > 5:
                # fooState(...) + finalizeAggregation -> foo(...); base
                # may itself be mapped or a passthrough aggregate.
                # uniq-family states are EXACT mergeable sets
                # (collect_set) so overlapping partials dedup on merge
                # (DataTypeAggregateFunction columns, 00048)
                base_s, sufs_s = _peel_combinators(t[:-5])
                if base_s in (
                    "uniq", "uniqExact", "uniqCombined", "uniqHLL12",
                ) and not sufs_s:
                    tmpl = "collect_set({0})"
                elif base_s == "avg":
                    # mergeable (sum, count) partial — avg-of-avgs is
                    # wrong for unequal group sizes.  -If applies at
                    # state time; -OrNull/-OrDefault at merge time
                    v = "{0}"
                    if "If" in sufs_s:
                        v = "(CASE WHEN CAST({1} AS BOOLEAN) THEN {0} END)"
                    tmpl = (
                        f"named_struct('s', CAST(sum({v}) AS DOUBLE), "
                        f"'c', count({v}))"
                    )
                elif base_s.lower().startswith(("quantile", "median")):
                    tmpl = "collect_list(CAST({0} AS DOUBLE))"
                elif base_s == "deltaSum" and not sufs_s:
                    # state = the observed sequence (merge refolds in
                    # arrival order, AggregateFunctionDeltaSum.h)
                    tmpl = "collect_list(CAST({0} AS DOUBLE))"
                elif base_s == "deltaSumTimestamp" and not sufs_s:
                    tmpl = (
                        "collect_list(named_struct("
                        "'t', CAST(CAST({1} AS TIMESTAMP) AS DOUBLE), "
                        "'v', CAST({0} AS DOUBLE)))"
                    )
                elif sufs_s:
                    # finalized scalar with the combinators applied
                    tmpl = lambda a, _t=t[:-5]: (  # noqa: E731
                        _agg_combinator_expr(_t, a) or f"{_t}({', '.join(a)})"
                    )
                elif base_s in ("sum", "min", "max"):
                    # RAW aggregate (no coalesce-0): an empty state must
                    # stay NULL so -Merge chains and -OrNull can still
                    # see it as empty (01562)
                    tmpl = f"{base_s}({{0}})"
                else:
                    tmpl = FUNC_MAP.get(t[:-5], t[:-5] + "({*})")
            if tmpl is None and t.endswith("Merge") and len(t) > 5:
                # states are stored finalized here, so -Merge re-aggregates
                # the partials over the STORED single column: count/uniq
                # partials (per-group-disjoint in an AggregatingMergeTree)
                # ADD; sum/min/max/any compose with themselves; combinator
                # suffixes (-If etc.) were applied at State time, so the
                # merge always sees one plain column
                base = t[:-5]
                root, sufs_m = _peel_combinators(base)
                if root in (
                    "uniq", "uniqExact", "uniqCombined", "uniqHLL12",
                ):
                    # set-based states: union + distinct count
                    tmpl = (
                        "size(array_distinct(flatten(collect_list({0}))))"
                    )
                elif root == "count":
                    tmpl = "sum({0})"
                elif root in ("any", "anyLast", "groupArray"):
                    tmpl = (
                        "flatten(collect_list({0}))"
                        if root == "groupArray"
                        else "any_value({0}, true)"
                    )
                elif root == "groupUniqArray":
                    tmpl = "array_distinct(flatten(collect_list({0})))"
                elif root == "avg":
                    # (sum, count) struct partials; -OrNull/-OrDefault
                    # apply at finalization (AggregateFunctionOrFill);
                    # all-empty states merge to nan (avg of zero rows)
                    core = (
                        "coalesce(sum({0}.s) / sum({0}.c), double('nan'))"
                    )
                    if "OrNull" in sufs_m:
                        tmpl = f"IF(sum({{0}}.c) = 0, NULL, {core})"
                    elif "OrDefault" in sufs_m:
                        tmpl = f"IF(sum({{0}}.c) = 0, 0, {core})"
                    else:
                        tmpl = core
                elif root.lower().startswith(("quantile", "median")):
                    tmpl_arr = "flatten(collect_list({0}))"
                    p = ["0.5"]
                    tmpl = _array_quantiles_expr(
                        tmpl_arr, p, not root.startswith("quantiles")
                    )
                elif root in ("sum", "min", "max"):
                    # final sumMerge of an all-empty state renders the
                    # numeric default like the reference (0), while the
                    # stored state itself stays NULL for chain/OrNull;
                    # min/max stay raw (their states may be TIMESTAMP —
                    # 00752 — and a 0 coalesce would be ill-typed), and
                    # combinator-suffixed merges apply -OrNull/-If at
                    # state time so the NULL must survive (01018)
                    tmpl = (
                        "coalesce(sum({0}), 0)"
                        if root == "sum" and not sufs_m
                        else f"{root}({{0}})"
                    )
                elif root == "deltaSum":
                    tmpl = lambda a: _delta_sum_fold(  # noqa: E731
                        f"flatten(collect_list({a[0]}))"
                    )
                elif root == "deltaSumTimestamp":
                    # parts order by timestamp on merge
                    tmpl = lambda a: _delta_sum_fold(  # noqa: E731
                        f"transform(array_sort(flatten("
                        f"collect_list({a[0]}))), __dm -> __dm.v)"
                    )
                elif sufs_m or root in (
                    "stddevSamp", "stddevPop", "varSamp", "varPop",
                    "corr", "covarPop", "covarSamp", "skewPop", "kurtPop",
                    "argMin", "argMax",
                ):
                    # finalized non-composable scalar state: with one
                    # partial per group any_value is exact (NULLs from
                    # -OrNull states must survive, so no null-skip)
                    tmpl = (
                        "any_value({0})" if "OrNull" in sufs_m
                        else "any_value({0}, true)"
                    )
                else:
                    tmpl = FUNC_MAP.get(base, base + "({*})")
            if tmpl is None:
                # generic aggregate-combinator synthesis
                # (avgOrDefaultIf, stddevSampOrNull, ...)
                syn = _agg_combinator_expr(t, args)
                if syn is not None:
                    out.append(syn)
                    i = close + 1
                    continue
                # pass through (Spark-native or user function)
                out += [t, "("] + ([",".join(args)] if args else []) + [")"]
            else:
                out.append(_render_tmpl(tmpl, args))
            i = close + 1
            continue
        if t == "_sample_factor":
            # virtual column: inverse of the applied SAMPLE fraction; no
            # sampling -> 1 (MergeTreeDataSelectExecutor)
            out.append("CAST(1 AS DOUBLE)")
            i += 1
            continue
        # trailing-dot float literals (reference lexer allows `0.`)
        if re.fullmatch(r"\d+\.", t):
            t = t + "0"
        out.append(t)
        i += 1
    return _tuple_in_pass(
        _array_in_pass(
            _div_zero_pass(_intdiv_zero_guard(
                _date_cmp_pass(
                    _date_arith_pass(
                        _boolify_logic_operands(_bool_arith_pass(out))
                    )
                )
            ))
        )
    )


def _subq_select_arity(inner: list[str]) -> int:
    """Output-column count of a subquery's token list (0 = not a
    SELECT); sees through the `SELECT * FROM ( ... ) __in_sq` wrapper."""
    if not inner or _kw(inner[0]) != "SELECT":
        return 0
    stop9 = next(
        (
            k for k, x in _top_level(inner, 1)
            if _kw(x) in ("FROM", "WHERE", "LIMIT", "SETTINGS")
        ),
        len(inner),
    )
    items9 = [p for p in _split_top(inner[1:stop9], ",") if p]
    if len(items9) == 1 and items9[0] == ["*"] and stop9 < len(inner):
        k8 = next(
            (k for k in range(stop9, len(inner)) if inner[k] == "("),
            None,
        )
        if k8 is not None:
            c8 = _match_paren(inner, k8)
            sub9 = _subq_select_arity(inner[k8 + 1 : c8])
            if sub9:
                return sub9
    return len(items9)


def _expand_paren_tokens(toks9: list[str]) -> list[str]:
    """Re-tokenize composite '( a, b )' tokens (rendered tuple texts)
    so the IN passes can see their members."""
    out9: list[str] = []
    for t9 in toks9:
        if len(t9) > 1 and t9.startswith("(") and (
            "," in t9 or " " in t9
        ):
            try:
                out9 += tokenize(t9)
                continue
            except Exception:  # noqa: BLE001
                pass
        out9.append(t9)
    return out9


_ARRAY_IN_RE = re.compile(
    r"(?is)^[\s(]*(CASE\s+WHEN\b(?=.*\b(?:sequence|slice)\s*\()|"
    r"sequence\s*\(|slice\s*\(|split\s*\(|array_distinct\s*\(|"
    r"array_remove\s*\(|array_compact\s*\(|flatten\s*\(|"
    r"collect_list\s*\(|collect_set\s*\()"
)


def _array_in_pass(toks: list[str]) -> list[str]:
    """``x IN <array expr>`` is set membership in the reference
    (range(10), splitByChar, ... feed the IN set: Interpreters/Set.cpp)
    — lower to array_contains.  A set source that references a column
    or rand() is rejected like the reference's constant-set
    requirement (errors 47/36, 00936)."""
    res = list(toks)
    i = 0
    while i < len(res):
        if _kw(res[i]) != "IN" or i + 1 >= len(res) or res[i + 1] != "(":
            i += 1
            continue
        close = _match_paren(res, i + 1)
        inner = res[i + 2 : close]
        items = [p for p in _split_top(inner, ",") if p]
        if len(items) != 1 or any(
            _kw(x) in ("SELECT", "WITH") for x in inner
        ):
            i = close + 1
            continue
        txt = " ".join(items[0])
        if not _ARRAY_IN_RE.match(txt):
            i = close + 1
            continue
        if "`" in txt or re.search(r"(?i)\brand\s*\(", txt):
            _raise_dialect(
                "IN set source must be a constant expression (47)"
            )
        neg = False
        l_end = i - 1
        if l_end >= 0 and _kw(res[l_end]) == "NOT":
            neg = True
            l_end -= 1
        l_start = l_end
        left = res[l_end] if l_end >= 0 else ""
        if left == ")":
            d9 = 0
            k9 = l_end
            while k9 >= 0:
                if res[k9] == ")":
                    d9 += 1
                elif res[k9] == "(":
                    d9 -= 1
                    if d9 == 0:
                        break
                k9 -= 1
            if k9 >= 0:
                l_start = k9
                left = " ".join(res[k9 : l_end + 1])
        if not left:
            i = close + 1
            continue
        expr = f"array_contains({txt}, {left})"
        if neg:
            expr = f"(NOT {expr})"
        res[l_start : close + 1] = [expr]
        i = max(l_start, 0) + 1
    return res


def _tuple_in_pass(toks: list[str]) -> list[str]:
    """Tuple IN over literal tuple lists: Spark's struct IN demands
    exact field types, the reference coerces per element
    (Interpreters/Set.cpp).  Expand ``(a, b) IN ((p, q), ...)`` to
    elementwise equality ORs before the tuple becomes a typed struct;
    a scalar list whose length equals the tuple arity is ONE tuple."""
    res = list(toks)
    tni = str((_SETTINGS_CTX.get() or {}).get(
        "transform_null_in", "0"
    )).strip("'\" ") == "1"
    # scalar IN: drop literal NULL items — the reference's set ignores
    # them (a NULL element never matches; Spark's IN would poison the
    # whole result to NULL instead).  SET transform_null_in=1 flips
    # this: NULL becomes a matchable set member (null-safe membership,
    # Interpreters/NullableUtils + Set.cpp transform_null_in)
    i = 0
    while i < len(res):
        if _kw(res[i]) != "IN" or i + 1 >= len(res):
            i += 1
            continue
        if tni and _kw(res[i + 1]) == "NULL":
            # `x IN NULL`: the one-element {NULL} set
            l_end9 = i - 1
            neg9 = False
            if l_end9 >= 0 and _kw(res[l_end9]) == "NOT":
                neg9 = True
                l_end9 -= 1
            if l_end9 >= 0:
                e9 = f"(({res[l_end9]}) IS NULL)"
                res[l_end9 : i + 2] = [f"(NOT {e9})" if neg9 else e9]
            i += 1
            continue
        if res[i + 1] != "(":
            nxt9 = res[i + 1]
            if (
                len(nxt9) > 1 and nxt9.startswith("(")
                and nxt9.endswith(")")
                and not re.match(r"(?is)^\(\s*select\b", nxt9)
            ):
                # composite rendered '( ... )' token: reopen it so the
                # set-membership shapes below can see the members
                try:
                    res[i + 1 : i + 2] = tokenize(nxt9)
                    continue
                except Exception:  # noqa: BLE001
                    pass
            arity9 = 0
            if re.match(r"(?is)^\(\s*select\b", nxt9):
                # an already-rendered IN-subquery token
                try:
                    sub9t = tokenize(nxt9)
                    arity9 = _subq_select_arity(sub9t[1:-1])
                except Exception:  # noqa: BLE001
                    arity9 = 0
            if arity9 > 1:
                l_end9 = i - 1
                neg9 = False
                if l_end9 >= 0 and _kw(res[l_end9]) == "NOT":
                    neg9 = True
                    l_end9 -= 1
                if l_end9 >= 0 and res[l_end9] != ")":
                    left9 = res[l_end9]
                    e9 = (
                        "NULL" if _kw(left9) == "NULL" else "(1 = 0)"
                    )
                    if neg9 and e9 != "NULL":
                        e9 = "(1 = 1)"
                    res[l_end9 : i + 2] = [e9]
                    i = l_end9 + 1
                    continue
            f9 = _tuple_text_fields(nxt9)
            if f9 is not None:
                # scalar IN a rendered tuple literal: membership over
                # the tuple's fields (Set.cpp reads the tuple as a set)
                l_end9 = i - 1
                neg9 = False
                if l_end9 >= 0 and _kw(res[l_end9]) == "NOT":
                    neg9 = True
                    l_end9 -= 1
                if l_end9 >= 0 and res[l_end9] != ")":
                    left9 = res[l_end9]
                    eq9s = "<=>" if tni else "="
                    flds9 = (
                        f9 if tni else
                        [x for x in f9 if x.strip().upper() != "NULL"]
                    )
                    ors9 = " OR ".join(
                        f"(({left9}) {eq9s} {x})" for x in flds9
                    ) or "(1 = 0)"
                    e9 = f"({ors9})"
                    res[l_end9 : i + 2] = [
                        f"(NOT {e9})" if neg9 else e9
                    ]
                    i = l_end9 + 1
                    continue
            i += 1
            continue
        close = _match_paren(res, i + 1)
        inner = _expand_paren_tokens(res[i + 2 : close])
        sub_inner9 = None
        if inner and _kw(inner[0]) == "SELECT":
            sub_inner9 = inner
        elif (
            inner and len(inner) == 1
            and re.match(r"(?is)^\(?\s*select\b", inner[0])
        ):
            # already-rendered subquery text
            try:
                sub_inner9 = tokenize(inner[0])
                if sub_inner9 and sub_inner9[0] == "(":
                    sub_inner9 = sub_inner9[1:-1]
            except Exception:  # noqa: BLE001
                sub_inner9 = None
        if sub_inner9 is not None:
            # scalar IN a MULTI-column subquery: the reference builds a
            # tuple set no scalar can match — NULL left gives NULL,
            # anything else no rows (01650/01681); Spark would reject
            # the arity outright
            nsel9 = _subq_select_arity(sub_inner9)
            l_end9 = i - 1
            neg9 = False
            if l_end9 >= 0 and _kw(res[l_end9]) == "NOT":
                neg9 = True
                l_end9 -= 1
            lhs_scalar = l_end9 >= 0 and res[l_end9] != ")"
            if nsel9 > 1 and lhs_scalar:
                left9 = res[l_end9]
                e9 = (
                    "NULL" if _kw(left9) == "NULL" else "(1 = 0)"
                )
                if neg9 and e9 != "NULL":
                    e9 = "(1 = 1)"
                res[l_end9 : close + 1] = [e9]
                i = l_end9 + 1
                continue
        if any(_kw(x) in ("SELECT", "WITH") for x in inner) or not any(
            _kw(x) == "NULL" for x in inner
        ):
            i = close + 1
            continue
        all_items = [it for it in _split_top(inner, ",") if it]
        items = [
            it for it in all_items
            if not (len(it) == 1 and _kw(it[0]) == "NULL")
        ]
        if tni and len(items) != len(all_items):
            # null-safe membership — but only for a SCALAR left operand
            # (a multi-element paren group is the tuple pass's job)
            l_end9 = i - 1
            neg9 = False
            if l_end9 >= 0 and _kw(res[l_end9]) == "NOT":
                neg9 = True
                l_end9 -= 1
            l_start9 = l_end9
            left9 = res[l_end9] if l_end9 >= 0 else ""
            if left9 == ")":
                d9 = 0
                k9 = l_end9
                while k9 >= 0:
                    if res[k9] == ")":
                        d9 += 1
                    elif res[k9] == "(":
                        d9 -= 1
                        if d9 == 0:
                            break
                    k9 -= 1
                if k9 >= 0 and len(
                    _split_top(res[k9 + 1 : l_end9], ",")
                ) == 1:
                    l_start9 = k9
                    left9 = " ".join(res[k9 : l_end9 + 1])
                else:
                    left9 = ""  # tuple LHS: leave for the tuple pass
            if left9 and left9 != ",":
                in9 = (
                    f"({left9}) IN ("
                    + ", ".join(_emit(it) for it in items) + ")"
                    if items else "(1 = 0)"
                )
                e9 = f"(({in9}) OR ({left9}) IS NULL)"
                res[l_start9 : close + 1] = [
                    f"(NOT {e9})" if neg9 else e9
                ]
                i = l_start9 + 1
                continue
            # tuple LHS: keep the NULL members for the tuple pass
            i = close + 1
            continue
        if not items:
            i = close + 1
            continue
        new_inner: list[str] = []
        for k2, it in enumerate(items):
            if k2:
                new_inner.append(",")
            new_inner += it
        res[i + 2 : close] = new_inner
        i += 1
    i = 0
    while i < len(res):
        if res[i] == "(":
            lclose = _match_paren(res, i)
            elems = [
                _emit(p)
                for p in _split_top(res[i + 1 : lclose], ",") if p
            ]
        else:
            # an already-rendered tuple literal (named_struct token)
            # is an equally valid tuple LHS (01507/01558)
            flds_l = _tuple_text_fields(res[i])
            if not flds_l or len(flds_l) < 2:
                i += 1
                continue
            lclose = i
            elems = flds_l
        if len(elems) < 2:
            i += 1
            continue
        j = lclose + 1
        neg = False
        if j < len(res) and _kw(res[j]) == "NOT":
            neg = True
            j += 1
        if not (j < len(res) and _kw(res[j]) == "IN"):
            i += 1
            continue
        j += 1
        if not (j < len(res) and res[j] == "("):
            i += 1
            continue
        close = _match_paren(res, j)
        inner = _expand_paren_tokens(res[j + 1 : close])
        if any(_kw(x) in ("SELECT", "WITH") for x in inner):
            i += 1
            continue
        items = [x for x in _split_top(inner, ",") if x]
        rows: list[list[str]] = []

        def _is_tuple_member(it: list[str]) -> bool:
            if (
                it[0] == "(" and _match_paren(it, 0) == len(it) - 1
                and len(_split_top(it[1:-1], ",")) == len(elems)
            ):
                return True
            return (
                len(it) == 1
                and (_tuple_text_fields(it[0]) or None) is not None
                and len(_tuple_text_fields(it[0]) or []) == len(elems)
            )

        if len(items) == len(elems) and not all(
            _is_tuple_member(it) for it in items
        ):
            if not tni and any(
                len(it) == 1 and _kw(it[0]) == "NULL" for it in items
            ):
                i += 1
                continue
            row0: list[str] = []
            for it in items:
                flds0 = _split_top(it[1:-1], ",") if (
                    it[0] == "(" and _match_paren(it, 0) == len(it) - 1
                ) else None
                if flds0 and len(flds0) > 1:
                    # nested tuple element: spell as the struct literal
                    row0.append("named_struct(" + ", ".join(
                        f"'col{k0 + 1}', {_emit(p0)}"
                        for k0, p0 in enumerate(flds0)
                    ) + ")")
                else:
                    row0.append(_emit(it))
            rows = [row0]
        else:
            if len(items) == 1 and items[0][0] == "(" and _match_paren(
                items[0], 0
            ) == len(items[0]) - 1:
                # (( m1, m2, ... )): when every member is itself a
                # tuple of LHS arity (paren form or an already-rendered
                # named_struct), the outer tuple is the SET
                # (Interpreters/Set.cpp type-directed reading)
                members = [
                    m3 for m3 in _split_top(items[0][1:-1], ",") if m3
                ]
                set_rows: list[list[str]] = []
                good = len(members) > 1
                for m3 in members:
                    subs3: list[str] | None = None
                    if (
                        m3[0] == "("
                        and _match_paren(m3, 0) == len(m3) - 1
                    ):
                        subs3 = [
                            _emit(p3)
                            for p3 in _split_top(m3[1:-1], ",") if p3
                        ]
                    elif len(m3) == 1:
                        subs3 = _tuple_text_fields(m3[0])
                    if subs3 is None or len(subs3) != len(elems):
                        good = False
                        break
                    set_rows.append(subs3)
                if good:
                    rows = set_rows
            if not rows:
                ok = bool(items)
                for it in items:
                    if it[0] != "(" or _match_paren(it, 0) != len(it) - 1:
                        ok = False
                        break
                    sub = [
                        _emit(p) for p in _split_top(it[1:-1], ",") if p
                    ]
                    if len(sub) != len(elems):
                        ok = False
                        break
                    rows.append(sub)
                if not ok:
                    i += 1
                    continue
            # set rows carrying literal NULL elements never match —
            # unless transform_null_in makes NULL a matchable member
            if not tni:
                rows = [
                    r for r in rows
                    if not any(x.strip().upper() == "NULL" for x in r)
                ]
        eq9 = "<=>" if tni else "="
        ors = " OR ".join(
            "(" + " AND ".join(
                f"({le} {eq9} {re_})" for le, re_ in zip(elems, row)
            ) + ")"
            for row in rows
        ) or "(1 = 0)"
        if not tni:
            # a left tuple with a NULL element compares as NULL (the
            # reference's tuple IN is NULL-propagating on the LEFT
            # side); null-safe mode has no propagation
            null_guard = " OR ".join(f"(({e}) IS NULL)" for e in elems)
            ors = f"CASE WHEN {null_guard} THEN NULL ELSE ({ors}) END"
        expr = f"(NOT ({ors}))" if neg else f"({ors})"
        res[i : close + 1] = [expr]
        i += 1
    return res


_DATE_HEADS = (
    "to_date(", "current_date(", "date_add(", "date_sub(", "make_date(",
    "last_day(", "DATE '",
)
_TS_HEADS = (
    "current_timestamp(", "to_timestamp(", "timestamp_seconds(",
    "date_trunc(", "from_unixtime(", "TIMESTAMP '",
    "from_utc_timestamp(", "to_utc_timestamp(", "timestampadd(",
)


#: fn -> how its timezone-argument form renders over the SHIFTED value:
#: "value" passes the shifted timestamp through; "string" CASTs it;
#: a template formats it (part extractors / truncations)
_TZ_FNS = {
    "now": "value", "toDateTime": "value", "toTimeZone": "value",
    "toString": "string",
    "toStartOfHour": "date_trunc('HOUR', {0})",
    "toStartOfDay": "date_trunc('DAY', {0})",
    "toStartOfMinute": "date_trunc('MINUTE', {0})",
    "toStartOfFiveMinute": "timestamp_seconds(floor(unix_timestamp({0}) / 300) * 300)",
    "toStartOfTenMinutes": "timestamp_seconds(floor(unix_timestamp({0}) / 600) * 600)",
    "toStartOfFifteenMinutes": "timestamp_seconds(floor(unix_timestamp({0}) / 900) * 900)",
    "toStartOfMonth": "CAST(date_trunc('MONTH', {0}) AS DATE)",
    "toStartOfQuarter": "CAST(date_trunc('QUARTER', {0}) AS DATE)",
    "toStartOfYear": "CAST(date_trunc('YEAR', {0}) AS DATE)",
    "toDate": "CAST({0} AS DATE)",
    "toHour": "hour({0})", "toMinute": "minute({0})",
    "toSecond": "second({0})", "toYear": "year({0})",
    "toQuarter": "quarter({0})", "toMonth": "month({0})",
    "toDayOfMonth": "day({0})", "toDayOfYear": "dayofyear({0})",
    "toDayOfWeek": "(weekday({0}) + 1)",
    "toMonday": "date_sub(CAST({0} AS DATE), weekday({0}))",
    "toUnixTimestamp": "epoch",
}


_TZ_ARITH_FNS = {
    "addYears", "addMonths", "addWeeks", "addDays", "addHours",
    "addMinutes", "addSeconds", "subtractYears", "subtractMonths",
    "subtractWeeks", "subtractDays", "subtractHours", "subtractMinutes",
    "subtractSeconds",
}


def _tz_wall_expr(arg: str, raw: list[str], tz: str) -> str:
    """The wall-clock-in-``tz`` timestamp for ``arg`` (translated text,
    raw tokens): an arg already shifted to tz passes through; one
    shifted to ANOTHER zone re-bases; a STRING parses as wall time IN
    tz (DateTime(str, tz) semantics); a Date is midnight of that
    calendar date IN tz (FunctionsConversion.h ToDateTime-from-Date —
    no offset shift); a plain UTC instant shifts."""
    atz = _dt_tz_of(raw)
    if atz == tz:
        return arg
    if atz:
        return (
            f"from_utc_timestamp(to_utc_timestamp({arg}, {atz}), {tz})"
        )
    stringish = arg.startswith("'") or (raw and raw[0][:1] == "'")
    dateish = False
    if not stringish:
        try:
            t0 = _ch_type_of(raw, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT)
            u0 = _ch_unwrap(t0) if t0 else ""
            stringish = u0.startswith(("String", "FixedString"))
            dateish = u0 in ("Date", "Date32")
        except Exception:  # noqa: BLE001
            stringish = False
    if not (stringish or dateish) and _dt_kind(arg) == "date":
        dateish = True
    if stringish or dateish:
        return f"CAST({arg} AS TIMESTAMP)"
    return f"from_utc_timestamp(CAST({arg} AS TIMESTAMP), {tz})"


def _dt_tz_of(raw: list[str]) -> str | None:
    """The 'tz' literal (with quotes) when the raw expression's inferred
    reference type is DateTime('tz') — i.e. the translated value is
    already shifted to that zone's wall clock."""
    try:
        t = _ch_type_of(raw, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT)
    except Exception:  # noqa: BLE001
        return None
    m = re.fullmatch(r"DateTime(?:64)?\((?:\d+, )?('[^']*')\)", t or "")
    return m.group(1) if m else None


def _dt_kind(tok: str) -> str | None:
    if tok.startswith(_DATE_HEADS) or tok.endswith("AS DATE)"):
        return "date"
    if tok.startswith(_TS_HEADS) or tok.endswith("AS TIMESTAMP)"):
        return "ts"
    # parenthesized arithmetic: a `(ts ± interval/number)` chain keeps
    # the leading operand's kind (01699: alias-inlined
    # `toDateTime(...) + INTERVAL n SECOND` renders this way)
    t = tok.strip()
    changed = True
    while changed:
        changed = False
        if t.startswith("(") and t.endswith(")"):
            d = 0
            whole = True
            for k, ch in enumerate(t):
                if ch == "(":
                    d += 1
                elif ch == ")":
                    d -= 1
                    if d == 0 and k != len(t) - 1:
                        whole = False
                        break
            if whole:
                t = t[1:-1].strip()
                changed = True
    if t != tok.strip():
        k9 = _dt_kind(t)
        if k9:
            return k9
    d = 0
    in_s = False
    for k, ch in enumerate(t):
        if in_s:
            in_s = ch != "'"
        elif ch == "'":
            in_s = True
        elif ch == "(":
            d += 1
        elif ch == ")":
            d -= 1
        elif d == 0 and ch in "+-" and k > 0 and t[k - 1] == " ":
            return _dt_kind(t[:k].strip())
    return None


def _intdiv_zero_guard(toks: list[str]) -> list[str]:
    """Integer division/modulo by a CONSTANT zero raises in the
    reference (ILLEGAL_DIVISION 153, DivisionUtils.h) where Spark's
    non-ANSI DIV/% return NULL."""
    for j, t in enumerate(toks):
        if (_kw(t) == "DIV" or t == "%") and toks[j + 1 : j + 2] == ["0"]:
            raise DialectError(
                "Division by zero (ILLEGAL_DIVISION, reference error 153)"
            )
    return toks


def _div_zero_pass(toks: list[str]) -> list[str]:
    """Reference float division by zero yields ±inf / nan, never NULL
    (src/Functions/divide.cpp: IEEE Float64 semantics); Spark's Divide
    returns NULL for a 0 divisor in non-ANSI mode.  Rewrite
    ``p / q`` -> ``IF((q) = 0, sign(p) * Inf, p / q)`` —
    sign(0) * Inf = NaN and sign(NULL) * Inf = NULL, which reproduces
    the whole matrix with one multiply.  Skipped for visibly-decimal
    operands (decimal division stays decimal-typed; the reference
    throws on decimal/0, which no test exercises)."""
    res = list(toks)
    i = 0
    while i < len(res):
        if res[i] != "/":
            i += 1
            continue
        # right primary: optional unary minus + (literal | ident |
        # call/paren group)
        j = i + 1
        if j < len(res) and res[j] == "-":
            j += 1
        if j >= len(res):
            break
        if _is_ident(res[j]) and j + 1 < len(res) and res[j + 1] == "(":
            r_end = _match_paren(res, j + 1)
        elif res[j] == "(":
            r_end = _match_paren(res, j)
        else:
            r_end = j
        # left primary (the immediate one; a higher-precedence product
        # on the left keeps its own sign — acceptable approximation)
        k = i - 1
        if k < 0:
            i += 1
            continue
        if res[k] == ")":
            depth = 0
            l_start = k
            while l_start >= 0:
                if res[l_start] == ")":
                    depth += 1
                elif res[l_start] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                l_start -= 1
            if l_start > 0 and _is_ident(res[l_start - 1]):
                l_start -= 1
        else:
            l_start = k
        ltxt = _emit(res[l_start : i])
        rtxt = _emit(res[i + 1 : r_end + 1])
        both = (ltxt + " " + rtxt).upper()
        if not rtxt.strip():
            i = r_end + 1
            continue
        # decimal numerator: the reference's decimal division TRUNCATES
        # toward zero at the numerator's scale (DecimalBinaryOperation
        # integer math); Spark's decimal divide widens the scale then
        # ROUNDS half-up on store.  Rewrite via a truncating BIGINT hop
        # (exact for |result| * 10^s < 2^63 — the tested domain).
        lt = None
        try:
            lt = _ch_type_of(
                res[l_start:i], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
            )
        except Exception:  # noqa: BLE001
            lt = None
        md = re.fullmatch(
            r"Decimal\s*\(\s*\d+\s*,\s*(\d+)\s*\)", _ch_unwrap(lt or "")
        )
        if md is None:
            # literal constructors (toDecimal64(7, 0)) are already
            # rendered as CAST(... AS DECIMAL(p, s)) by this pass;
            # read the numerator scale off the rendered text
            md = re.search(r"AS DECIMAL\(\d+, ?(\d+)\)\)*$", ltxt)
        if md or "DECIMAL" in both:
            if md:
                # scale 0 included: p10=1 still truncates (7/2 -> 3,
                # not the half-up 4).  The decimal multiply can exceed
                # precision 38 and go NULL (non-ANSI); coalesce onto a
                # DOUBLE hop for that case (exact to 2^53 there).
                s9 = int(md.group(1))
                p10 = 10 ** s9
                repl = [
                    f"coalesce("
                    f"CAST(CAST(CAST(({ltxt}) / ({rtxt}) * {p10} AS "
                    f"BIGINT) AS DECIMAL(38, {s9})) / {p10} AS "
                    f"DECIMAL(38, {s9})), "
                    f"CAST(CAST(CAST(CAST(({ltxt}) / ({rtxt}) AS "
                    f"DOUBLE) * {p10} AS BIGINT) AS DECIMAL(38, {s9}))"
                    f" / {p10} AS DECIMAL(38, {s9})))"
                ]
                res[l_start : r_end + 1] = repl
                i = l_start + 1
                continue
            i = r_end + 1
            continue
        # single opaque token: re-tokenizing translated text would split
        # float suffixes (0.0D) and re-trigger this pass on the inner /.
        # The second IF factor catches a NEGATIVE-ZERO divisor (IEEE
        # 1/-0.0 = -inf); CAST(-0.0 AS STRING) keeps the sign
        repl = [
            f"IF(({rtxt}) = 0, CAST(sign({ltxt}) AS DOUBLE) * "
            f"IF(startswith(CAST(CAST(({rtxt}) AS DOUBLE) AS STRING), "
            f"'-'), -1, 1) * "
            f"double('Infinity'), ({ltxt}) / ({rtxt}))"
        ]
        res[l_start : r_end + 1] = repl
        i = l_start + 1
    return res


def _date_arith_pass(toks: list[str]) -> list[str]:
    """Reference date arithmetic: Date ± N adds days, DateTime ± N adds
    seconds, date - date is Int32 (src/Functions/FunctionDateOrDate
    TimeAddInterval.h; DateTime stores epoch seconds).  Spark rejects
    timestamp + int — rewrite the infix forms whose operand KIND is
    visible in the emitted token (translated calls collapse to single
    tokens, so a prefix test identifies them)."""
    res = list(toks)
    i = 1
    while i < len(res) - 1:
        op = res[i]
        if op not in ("+", "-"):
            i += 1
            continue
        # absorb a parenthesized LEFT group: `( ts ) - n` arrives as
        # separate tokens after WITH-alias inlining
        l_start = i - 1
        left = res[i - 1]
        if left == ")":
            d9 = 0
            k9 = i - 1
            while k9 >= 0:
                if res[k9] == ")":
                    d9 += 1
                elif res[k9] == "(":
                    d9 -= 1
                    if d9 == 0:
                        break
                k9 -= 1
            if k9 >= 0:
                l_start = k9
                left = " ".join(res[k9:i])
        right = res[i + 1]
        r_end = i + 1
        if right == "(" :
            c9 = _match_paren(res, i + 1)
            right = " ".join(res[i + 1 : c9 + 1])
            r_end = c9
        # higher-precedence chain on the right binds first: absorb
        # `date + b % c` as date + (b % c)
        if r_end + 1 < len(res) and res[r_end + 1] in ("*", "/", "%"):
            if _dt_kind(left):
                j2 = r_end
                while j2 + 2 < len(res) and res[j2 + 1] in ("*", "/", "%"):
                    j2 += 2
                    if res[j2] == "(":
                        j2 = _match_paren(res, j2)
                right = "(" + " ".join(res[i + 1 : j2 + 1]) + ")"
                r_end = j2
            else:
                i += 1
                continue
        if l_start - 1 >= 0 and res[l_start - 1] in ("*", "/", "%"):
            i += 1
            continue
        lk, rk = _dt_kind(left), _dt_kind(right)
        # additive chain ending in an interval literal: `ts - INTERVAL
        # '10' MINUTE + n` — the chain's kind is its leading operand's
        if (
            lk is None
            and _kw(left) in (
                "SECOND", "MINUTE", "HOUR", "DAY", "WEEK", "MONTH",
                "QUARTER", "YEAR",
            )
            and l_start >= 4
            and _kw(res[l_start - 2]) == "INTERVAL"
            and res[l_start - 3] in ("+", "-")
        ):
            lead8 = res[l_start - 4]
            lk8 = _dt_kind(lead8)
            if lk8:
                left = " ".join(res[l_start - 4 : i])
                l_start = l_start - 4
                lk = lk8
        repl = None
        if lk and rk and op == "-":
            if lk == "date" and rk == "date":
                repl = f"CAST(datediff({left}, {right}) AS INT)"
            else:
                repl = (
                    f"CAST(unix_timestamp({left}) - unix_timestamp({right}) "
                    f"AS INT)"
                )
        elif lk and not rk and "INTERVAL" not in right.upper() and (
            right[:1].isdigit() or right[:1].isalpha() or right[:1] in "(`"
        ):
            if lk == "date":
                fn = "date_add" if op == "+" else "date_sub"
                repl = f"{fn}({left}, CAST({right} AS INT))"
            else:
                repl = (
                    f"({left} {op} make_interval(0, 0, 0, 0, 0, 0, {right}))"
                )
        elif rk and not lk and op == "+" and "INTERVAL" not in left.upper() and (
            left[:1].isdigit() or left[:1].isalpha() or left[:1] in "(`"
        ):
            if rk == "date":
                repl = f"date_add({right}, CAST({left} AS INT))"
            else:
                repl = (
                    f"({right} + make_interval(0, 0, 0, 0, 0, 0, {left}))"
                )
        if repl is not None:
            res[l_start : r_end + 1] = [repl]
            i = max(l_start, 1)
        else:
            i += 1
    return res


_CMP_OPS_DT = {"<", ">", "<=", ">=", "=", "==", "!=", "<>"}


def _bool_arith_pass(toks: list[str]) -> list[str]:
    """Reference comparisons are UInt8, so ``(a > b) + 1`` is plain
    arithmetic (01855) — Spark's boolean can't add.  Wrap a
    parenthesized group that contains a top-level comparison in
    CAST(... AS INT) when it is an operand of +|-|*."""
    res = list(toks)

    def _has_cmp(inner: list[str]) -> bool:
        for _, t9 in _top_level(inner, brackets="("):
            if t9 in _CMP_OPS_DT:
                return True
            if _kw(t9) in ("AND", "OR", "CASE", "SELECT", "BETWEEN", ","):
                return False
        return False

    i = 1
    while i < len(res) - 1:
        if res[i] not in ("+", "-", "*"):
            i += 1
            continue
        if res[i - 1] == ")":
            d9 = 0
            k9 = i - 1
            while k9 >= 0:
                if res[k9] == ")":
                    d9 += 1
                elif res[k9] == "(":
                    d9 -= 1
                    if d9 == 0:
                        break
                k9 -= 1
            if k9 >= 0 and _has_cmp(res[k9 + 1 : i - 1]):
                res[k9 : i] = [
                    "CAST(" + " ".join(res[k9:i]) + " AS INT)"
                ]
                i = k9 + 1
                continue
        if i + 1 < len(res) and res[i + 1] == "(":
            c9 = _match_paren(res, i + 1)
            if _has_cmp(res[i + 2 : c9]):
                res[i + 1 : c9 + 1] = [
                    "CAST(" + " ".join(res[i + 1 : c9 + 1]) + " AS INT)"
                ]
        i += 1
    return res


def _date_cmp_pass(toks: list[str]) -> list[str]:
    """The reference compares a NUMBER with a DateTime against the
    epoch-seconds value (DateTime IS UInt32) — Spark rejects the mixed
    comparison.  When one comparison operand is a visible timestamp
    producer and the other is numeric (by literal shape or inferred
    reference type), unwrap the timestamp side to unix_timestamp."""
    res = list(toks)
    env = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
    i = 1
    while i < len(res) - 1:
        if res[i] not in _CMP_OPS_DT:
            i += 1
            continue
        left, right = res[i - 1], res[i + 1]
        # Map equality: Spark's EqualTo can't order maps — compare the
        # sorted entry lists (01803).  A `map ( ... )` literal arrives
        # as separate tokens; absorb the group
        if res[i] in ("=", "==", "!=", "<>"):
            r_is_map = re.match(r"(?i)^map\s*\(", right) or (
                _kw(right) == "MAP" and i + 2 < len(res)
                and res[i + 2] == "("
            )
            l_is_map = re.match(r"(?i)^map\s*\(", left)
            if r_is_map or l_is_map:
                if (
                    _kw(right) == "MAP" and i + 2 < len(res)
                    and res[i + 2] == "("
                ):
                    c9m = _match_paren(res, i + 2)
                    rtxt = " ".join(res[i + 1 : c9m + 1])
                    res[i + 1 : c9m + 1] = [
                        f"sort_array(map_entries({rtxt}))"
                    ]
                else:
                    res[i + 1] = f"sort_array(map_entries({right}))"
                res[i - 1] = f"sort_array(map_entries({left}))"
                i += 1
                continue
        lk = _dt_kind(left) == "ts"
        rk = _dt_kind(right) == "ts"
        if lk == rk:
            i += 1
            continue
        other = right if lk else left
        if other[:1] in "'\"":
            i += 1
            continue
        num = bool(re.fullmatch(r"-?\d+(\.\d+)?", other))
        if not num and _is_ident(other):
            t9 = _ch_type_of([other], env)
            num = bool(
                t9 and re.match(
                    r"(?:Nullable\()?(UInt|Int|Float|Decimal)", t9
                )
            )
        if not num:
            i += 1
            continue
        j = i - 1 if lk else i + 1
        res[j] = f"unix_timestamp({res[j]})"
        i += 1
    return res


#: depth-0 tokens that terminate an AND/OR operand span
_BOOLIFY_STOP = {
    ",", "(", ")", "WHEN", "THEN", "ELSE", "END", "CASE", "SELECT",
    "FROM", "WHERE", "GROUP", "ORDER", "BY", "HAVING", "LIMIT", "AS",
    "UNION", "SETTINGS", "OVER", "ON", "USING", "JOIN", "INTERVAL",
    "PREWHERE",
}

#: span-internal depth-0 markers that prove the operand is ALREADY
#: boolean-valued (comparisons bind tighter than AND/OR)
_BOOLIFY_BOOLISH = {
    "=", "==", "!=", "<>", "<", ">", "<=", ">=", "IN", "LIKE", "ILIKE",
    "RLIKE", "IS", "EXISTS", "BETWEEN", "NOT",
}


def _boolify_logic_operands(toks: list[str]) -> list[str]:
    """Reference logic is numeric: ``x AND 1`` / ``x1 OR x2`` over UInt8
    are valid (truthiness, src/Functions/FunctionsLogical.cpp).  Spark's
    AND/OR demand booleans — wrap each depth-0 AND/OR operand span in
    ``CAST(... AS BOOLEAN)`` unless the span visibly contains a depth-0
    comparison/IN/LIKE/IS (already boolean; the cast would be a no-op
    anyway — skipping just keeps plans textually clean).  The AND of
    ``BETWEEN a AND b`` is a binder, not a conjunction."""
    n = len(toks)
    # fast path: no depth-0 logical separator
    seps: list[int] = []
    between = 0
    for i, t in _top_level(toks, brackets="("):
        k = _kw(t)
        if k == "BETWEEN":
            between += 1
        elif k == "AND" and between:
            between -= 1
        elif k in ("AND", "OR"):
            seps.append(i)
    if not seps:
        return list(toks)
    sepset = set(seps)

    def _span_left(j: int) -> int:
        """Start of the operand ending at j (inclusive scan leftward)."""
        d = 0
        k = j
        while k >= 0:
            t = toks[k]
            if t == ")":
                d += 1
            elif t == "(":
                if d == 0:
                    return k + 1
                d -= 1
            elif d == 0 and (
                k in sepset or _kw(t) in _BOOLIFY_STOP
            ):
                return k + 1
            k -= 1
        return 0

    def _span_right(j: int) -> int:
        """End of the operand starting at j (inclusive scan rightward)."""
        d = 0
        k = j
        while k < n:
            t = toks[k]
            if t == "(":
                d += 1
            elif t == ")":
                if d == 0:
                    return k - 1
                d -= 1
            elif d == 0 and (
                k in sepset or _kw(t) in _BOOLIFY_STOP
            ):
                return k - 1
            k += 1
        return n - 1

    spans: set[tuple[int, int]] = set()
    for i in seps:
        spans.add((_span_left(i - 1), i - 1))
        spans.add((i + 1, _span_right(i + 1)))
    # wrap right-to-left so earlier indices stay valid
    res = list(toks)
    for lo, hi in sorted(spans, reverse=True):
        if lo > hi:
            continue
        seg = toks[lo : hi + 1]
        # scan for boolean-proving markers at the operand's own depth,
        # stripping outer parens first (`(a = b) AND (t <= u)` — the
        # conjuncts are parenthesized comparisons, and wrapping them
        # would hide the shape from the ASOF-ON analyzer)
        core = list(seg)
        while (
            len(core) >= 3 and core[0] == "("
            and _match_paren(core, 0) == len(core) - 1
        ):
            core = core[1:-1]
        if any(
            _kw(t) in _BOOLIFY_BOOLISH
            for _, t in _top_level(core, brackets="(")
        ):
            continue
        # a bare string literal operand is the reference's
        # ILLEGAL_TYPE_OF_ARGUMENT (error 43, FunctionsLogical.cpp) —
        # Spark's CAST would quietly yield NULL instead
        if len(core) == 1 and core[0].startswith("'"):
            raise DialectError(
                "Illegal type String of argument of AND/OR (error 43)"
            )
        res[lo : hi + 1] = ["CAST", "(", *seg, "AS", "BOOLEAN", ")"]
    return res


# ---------------------------------------------------------------------------
# Clause-level rewriting
# ---------------------------------------------------------------------------

@dataclass
class _Select:
    select: list[str] = field(default_factory=list)
    distinct: bool = False
    from_: list[str] = field(default_factory=list)
    prewhere: list[str] = field(default_factory=list)
    where: list[str] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    with_totals: bool = False
    with_rollup: bool = False
    with_cube: bool = False
    having: list[str] = field(default_factory=list)
    order_by: list[str] = field(default_factory=list)
    limit: list[str] = field(default_factory=list)
    limit_by: tuple[str, list[str]] | None = None  # (n, by-cols)
    offset: list[str] = field(default_factory=list)
    settings: list[str] = field(default_factory=list)
    is_stream: bool = False
    with_ties: bool = False  # LIMIT [o,] n WITH TIES
    #: (is_left, item-tokens) for a trailing [LEFT] ARRAY JOIN clause
    array_join: tuple[bool, list[str]] | None = None
    #: rendered LATERAL VIEW suffix for the FROM clause
    lateral: str = ""
    #: (col, desc, {from,to,step}) for ORDER BY col WITH FILL
    fill: tuple[str, bool, dict[str, str | None]] | None = None
    #: (placeholder, arg-tokens) for arrayJoin(...) calls hoisted out of
    #: expressions into LATERAL VIEW explode joins
    aj_hoists: list[tuple[str, list[str]]] = field(default_factory=list)


def _parse_select(toks: list[str]) -> _Select:
    q = _Select()
    i = 0
    n = len(toks)
    if i < n and _kw(toks[i]) == "SELECT":
        i += 1
    else:
        raise DialectError(f"expected SELECT, got {toks[i] if toks else '<eof>'}")
    if i < n and _kw(toks[i]) == "STREAM":
        q.is_stream = True
        i += 1
    if i < n and _kw(toks[i]) == "DISTINCT":
        q.distinct = True
        i += 1

    def clause_at(j: int) -> str | None:
        u = _kw(toks[j])
        # FROM after `ORDER BY ... WITH FILL` is the fill lower bound,
        # not a FROM clause (no legal FROM clause follows ORDER BY)
        if (
            u == "FROM"
            and cur == "ORDER BY"
            and any(_kw(x) == "FILL" for x in bucket.get("ORDER BY", ()))
        ):
            return None
        if u == "OFFSET" and j > 0 and (
            _kw(toks[j - 1]) == "AS" or toks[j - 1] == ","
            or toks[j - 1] == "("
        ):
            return None  # `... AS offset` — an identifier, not a clause
        if u in ("FROM", "PREWHERE", "WHERE", "HAVING", "SETTINGS", "OFFSET"):
            # a table may be NAMED like a clause keyword (a table called
            # `prewhere` — 00140): the token straight after FROM is the
            # table, not a new clause
            if (
                cur == "FROM" and not bucket.get("FROM")
                and toks[j].strip("`") in (_SCRIPT_SCHEMAS_CTX.get() or {})
            ):
                return None
            return u
        if u in ("GROUP", "ORDER") and j + 1 < n and _kw(toks[j + 1]) == "BY":
            return u + " BY"
        if u == "LIMIT":
            return u
        return None

    cur = "SELECT"
    bucket: dict[str, list[str]] = {"SELECT": []}
    depth = 0
    while i < n:
        t = toks[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        cl = clause_at(i) if depth == 0 else None
        if cl:
            cur = cl
            bucket.setdefault(cur, [])
            i += 2 if cl in ("GROUP BY", "ORDER BY") else 1
            continue
        bucket.setdefault(cur, []).append(t)
        i += 1

    q.select = bucket.get("SELECT", [])
    # arrayJoin(expr) nested inside an expression cannot stay an inline
    # explode (Spark rejects generators inside expressions); hoist every
    # call to a LATERAL VIEW, deduplicating identical arguments so
    # repeated arrayJoin(x) stay in lockstep (ExecuteScalarSubqueries /
    # ArrayJoinAction semantics: same expression = same exploded row,
    # different expressions = nested cartesian explode).
    def _hoist_aj(ts: list[str]) -> list[str]:
        out2: list[str] = []
        i2 = 0
        while i2 < len(ts):
            if (
                ts[i2] == "arrayJoin"
                and i2 + 1 < len(ts)
                and ts[i2 + 1] == "("
            ):
                close2 = _match_paren(ts, i2 + 1)
                arg = _hoist_aj(ts[i2 + 2 : close2])
                key = " ".join(arg)
                ph = next(
                    (p for p, a in q.aj_hoists if " ".join(a) == key), None
                )
                if ph is None:
                    ph = f"__ajh{len(q.aj_hoists)}"
                    q.aj_hoists.append((ph, arg))
                    # record the exploded element's reference type so
                    # downstream raw-token consumers (exact hashes,
                    # toTypeName) can resolve the placeholder
                    at = _ch_type_of(arg, _TYPE_ENV_DEFAULT)
                    if at and at.startswith("Array("):
                        env = dict(_TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT)
                        env[ph] = at[6:-1]
                        _TYPE_ENV_CTX.set(env)
                    if _raw_elems_are_arrays(arg, _TYPE_ENV_CTX.get()):
                        prev_alv = _ARRAY_LAMBDA_VARS.get() or frozenset()
                        _ARRAY_LAMBDA_VARS.set(prev_alv | {ph})
                out2.append(ph)
                i2 = close2 + 1
            else:
                out2.append(ts[i2])
                i2 += 1
        return out2

    if "arrayJoin" in q.select:
        q.select = _hoist_aj(q.select)
        for attr in ("WHERE", "PREWHERE", "HAVING", "GROUP BY", "ORDER BY"):
            if attr in bucket and "arrayJoin" in bucket[attr]:
                bucket[attr] = _hoist_aj(bucket[attr])
    q.from_ = bucket.get("FROM", [])
    # trailing [LEFT] ARRAY JOIN in the FROM clause (ArrayJoinAction.cpp)
    for j, tk in _top_level(q.from_):
        if (
            _kw(tk) == "ARRAY"
            and j + 1 < len(q.from_)
            and _kw(q.from_[j + 1]) == "JOIN"
        ):
            left = j > 0 and _kw(q.from_[j - 1]) == "LEFT"
            q.array_join = (left, q.from_[j + 2 :])
            q.from_ = q.from_[: j - 1 if left else j]
            break
    q.prewhere = bucket.get("PREWHERE", [])
    q.where = bucket.get("WHERE", [])
    # the reference allows `WHERE expr AS alias` / `HAVING ... AS x`
    # (aliases are settable on any expression — 00529, 01055); Spark
    # has no alias slot there, so strip the trailing AS and make the
    # alias visible to the select list as the expression
    for attr9 in ("prewhere", "where"):
        lst9 = getattr(q, attr9)
        if (
            len(lst9) >= 3 and _kw(lst9[-2]) == "AS"
            and _is_ident(lst9[-1])
            and _tail_at_top(lst9)
        ):
            al9 = lst9[-1]
            expr9w = lst9[:-2]
            setattr(q, attr9, expr9w)
            # substitute bare references to the alias in the select
            # list with the (parenthesized) expression
            if any(tk == al9 for tk in q.select):
                q.select = [
                    tk if tk != al9 or (
                        k9 > 0 and (
                            q.select[k9 - 1] == "."
                            # alias-target positions stay (1 AS x)
                            or _kw(q.select[k9 - 1]) == "AS"
                            or _is_ident(q.select[k9 - 1])
                            or q.select[k9 - 1] in (")", "]")
                            or q.select[k9 - 1][:1] in "0123456789'"
                        )
                    ) else "__ALIAS9__"
                    for k9, tk in enumerate(q.select)
                ]
                out9: list[str] = []
                for tk in q.select:
                    if tk == "__ALIAS9__":
                        out9 += (
                            ["("] + expr9w + [")", "AS", al9]
                        )
                    else:
                        out9.append(tk)
                q.select = out9
    # group-less `... WITH TOTALS` (no GROUP BY clause to suffix): the
    # keywords trail whatever clause preceded them — FROM, WHERE, or the
    # select list itself (`SELECT count() WITH TOTALS HAVING ...`)
    for _lst in (q.from_, q.where, q.select):
        if (
            len(_lst) >= 2 and _kw(_lst[-2]) == "WITH"
            and _kw(_lst[-1]) == "TOTALS"
            and _tail_at_top(_lst)
        ):
            q.with_totals = True
            del _lst[-2:]
            break
    gb = bucket.get("GROUP BY", [])
    # WITH TOTALS / ROLLUP / CUBE suffixes
    while len(gb) >= 2 and _kw(gb[-2]) == "WITH":
        suffix = _kw(gb[-1])
        if suffix == "TOTALS":
            q.with_totals = True
        elif suffix == "ROLLUP":
            q.with_rollup = True
        elif suffix == "CUBE":
            q.with_cube = True
        else:
            break
        gb = gb[:-2]
    # ANSI spelling GROUP BY ROLLUP(a, b) / CUBE(a, b)
    if len(gb) >= 3 and _kw(gb[0]) in ("ROLLUP", "CUBE") and gb[1] == "(":
        close_g = _match_paren(gb, 1)
        if close_g == len(gb) - 1:
            if _kw(gb[0]) == "ROLLUP":
                q.with_rollup = True
            else:
                q.with_cube = True
            gb = gb[2:close_g]
    q.group_by = gb
    q.having = bucket.get("HAVING", [])
    if (
        len(q.having) >= 3 and _kw(q.having[-2]) == "AS"
        and _is_ident(q.having[-1])
        and _tail_at_top(q.having)
    ):
        # `HAVING expr AS x` (00529) — the alias slot doesn't exist in
        # Spark; drop it
        q.having = q.having[:-2]
    q.order_by = bucket.get("ORDER BY", [])
    if any(_kw(t) == "FILL" for t in q.order_by):
        q.order_by, q.fill = _extract_fill(q.order_by)
    # type-introspection calls need the RAW defining expression, before
    # the translated sibling-alias substitution below rewrites the name
    if "toTypeName" in q.select:
        q.select = _subst_aliases_into_typefns(q.select)
    # length/empty/runningAccumulate/toTypeName all dispatch on the
    # raw argument's inferred type — keep the env current for every query
    _CONST_ENV_CTX.set(None)
    _LITVAL_ENV_CTX.set(None)
    try:
        _TYPE_ENV_CTX.set(
            _subquery_type_env(q.from_) if q.from_ else None
        )
    except Exception:  # noqa: BLE001
        _TYPE_ENV_CTX.set(None)
    # FixedHashMap iteration order: a GROUP BY over a single 8/16-bit
    # unsigned key with no ORDER BY streams back in KEY order (the
    # reference's fixed-size hash table is a direct-indexed array —
    # HashMap.h FixedHashMap; 01259)
    if (
        q.group_by and not q.order_by and not q.with_totals
        and not any(
            _kw(x) in ("ROLLUP", "CUBE", "GROUPING", "TOTALS")
            for x in q.group_by
        )
    ):
        items_g = _split_top(q.group_by, ",")
        if len(items_g) == 1:
            try:
                tg = _ch_type_of(
                    items_g[0], _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                )
            except Exception:  # noqa: BLE001
                tg = None
            if tg in ("UInt8", "UInt16"):
                q.order_by = list(items_g[0])
    if q.aj_hoists:
        # re-merge the hoisted arrayJoin placeholders' element types —
        # the FROM-derived env above clobbered the entries _hoist_aj set
        env = dict(_TYPE_ENV_CTX.get() or {})
        for ph, arg in q.aj_hoists:
            at = _ch_type_of(arg, env or _TYPE_ENV_DEFAULT)
            if at and at.startswith("Array("):
                env[ph] = at[6:-1]
        _TYPE_ENV_CTX.set(env or None)
    # PREWHERE runs BEFORE the array join expands rows, so an arrayJoin
    # alias there is illegal (reference error 182, 00729)
    if q.prewhere:
        aj_aliases = set()
        for it in _split_top(q.select, ","):
            if (
                len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1])
                and any(
                    tk == "arrayJoin" or tk.startswith("__aj")
                    for tk in it[:-2]
                )
            ):
                aj_aliases.add(it[-1].strip('`"'))
        if aj_aliases and any(
            tk.strip('`"') in aj_aliases for tk in q.prewhere
        ):
            raise DialectError(
                "PREWHERE cannot reference an arrayJoin alias"
            )
    # sibling SELECT alias types join the env before any item translates:
    # `[1, 2, 3] AS arr, arr[id]` needs arr's Array element type for the
    # subscript's default-value semantics.  Existing names (real columns)
    # keep their FROM-derived types; two passes close alias-on-alias.
    env_sib = dict(_TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT)
    grew_sib = False
    for _ in range(2):
        for it in _split_top(q.select, ","):
            if len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1]):
                nm_sib = it[-1].strip('`"')
                if nm_sib in env_sib:
                    continue
                try:
                    t_sib = _ch_type_of(it[:-2], env_sib)
                except Exception:  # noqa: BLE001
                    t_sib = None
                if t_sib:
                    env_sib[nm_sib] = t_sib
                    grew_sib = True
    if grew_sib:
        _TYPE_ENV_CTX.set(env_sib)
    # reference semantics: SELECT aliases are visible in WHERE/PREWHERE/
    # HAVING (ExpressionAnalyzer alias preference); Spark resolves only
    # real columns there, so inline the aliased expression
    alias_subs: dict[str, str] = {}
    for it in _split_top(q.select, ","):
        if len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1]):
            alias_subs[it[-1]] = "( " + _emit(_translate_expr(it[:-2])) + " )"
            # the rendered token erases the raw tree — record the raw
            # expression's constness for toColumnTypeName
            cenv = dict(_CONST_ENV_CTX.get() or {})
            cenv[alias_subs[it[-1]]] = _raw_const_expr(it[:-2])
            _CONST_ENV_CTX.set(cenv)
    # aliases may reference EARLIER aliases (`a AS x, x AS y, f(y)`):
    # resolve transitively so every inlined copy is closed
    for _ in range(len(alias_subs)):
        changed_subs = False
        for k8, v8 in list(alias_subs.items()):
            for k9, v9 in alias_subs.items():
                if k9 == k8 or k9 not in v8:
                    continue
                nv = re.sub(
                    rf"(?<![\w.`'\"]){re.escape(k9)}(?![\w('])", v9, v8
                )
                if nv != v8:
                    # chained self-referencing aliases double per hop —
                    # the reference caps expansion (error 168,
                    # max_expanded_ast_elements; 00988 expects the
                    # rejection, and without it translation alone takes
                    # minutes on 2^26-token texts)
                    if len(nv) > 1_000_000:
                        raise DialectError(
                            "alias expansion is too large "
                            "(max_expanded_ast_elements)"
                        )
                    alias_subs[k8] = v8 = nv
                    changed_subs = True
        if not changed_subs:
            break
    if alias_subs:
        # the substitution below swaps alias names for opaque rendered
        # tokens; carry the alias's inferred type onto that token so
        # e.g. an inlined `[1,2,3] AS arr` still types arr[id]
        env_op = dict(_TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT)
        grew_op = False
        for k8, v8 in alias_subs.items():
            t8 = env_op.get(k8.strip('`"'))
            if t8 and v8 not in env_op:
                env_op[v8] = t8
                grew_op = True
        if grew_op:
            _TYPE_ENV_CTX.set(env_op)
        for attr in ("prewhere", "where", "having"):
            ts = getattr(q, attr)
            if ts and any(t in alias_subs for t in ts):
                setattr(q, attr, _subst_tokens(ts, alias_subs))
        # SIBLING select items also see aliases (the reference prefers the
        # alias over the source column: `number * 2 AS number,
        # number * 10 + 1` reads the ALIASED number — 00049).  Guards:
        # never substitute an item's own alias into itself, and never a
        # name bound as a lambda formal parameter in that item
        # (00157_aliases_and_lambda_formal_parameters)
        new_items: list[list[str]] = []
        for it in _split_top(q.select, ","):
            own = (
                it[-1]
                if len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1])
                else None
            )
            lam: set[str] = set()
            for x, tk in enumerate(it):
                if tk == "->" and x >= 1:
                    if _is_ident(it[x - 1]):
                        lam.add(it[x - 1])
                    elif it[x - 1] == ")":
                        d, y = 0, x - 1
                        while y >= 0:
                            if it[y] == ")":
                                d += 1
                            elif it[y] == "(":
                                d -= 1
                                if d == 0:
                                    break
                            y -= 1
                        lam.update(t2 for t2 in it[y:x] if _is_ident(t2))
            subs2 = {
                k2: v for k2, v in alias_subs.items()
                if k2 != own and k2 not in lam
            }
            body, suffix = (it[:-2], it[-2:]) if own else (it, [])
            if subs2 and any(t in subs2 for t in body):
                was_single = own is None and len(body) == 1
                name0 = body[0] if was_single else None
                body = _subst_tokens(body, subs2)
                # a standalone alias reference keeps its output NAME
                # (the reference names the column after the alias)
                if was_single and body != [name0]:
                    suffix = ["AS", name0]
            new_items.append(body + suffix)
        rebuilt: list[str] = []
        for x, it in enumerate(new_items):
            if x:
                rebuilt.append(",")
            rebuilt += it
        q.select = rebuilt
    q.offset = bucket.get("OFFSET", [])
    q.settings = bucket.get("SETTINGS", [])
    lim = bucket.get("LIMIT", [])
    # standard fetch clause: OFFSET n ROW[S] [FETCH FIRST|NEXT m ROW[S]
    # (ONLY | WITH TIES)] (ParserSelectQuery OFFSET/FETCH, 01525)
    if q.offset and any(
        _kw(x) in ("ROW", "ROWS", "FETCH") for x in q.offset
    ):
        fi9 = next(
            (k for k, x in enumerate(q.offset) if _kw(x) == "FETCH"),
            len(q.offset),
        )
        fetch9 = q.offset[fi9 + 1 :]
        q.offset = [
            x for x in q.offset[:fi9] if _kw(x) not in ("ROW", "ROWS")
        ]
        if fetch9:
            if _kw(fetch9[0]) in ("FIRST", "NEXT"):
                fetch9 = fetch9[1:]
            if (
                len(fetch9) >= 2 and _kw(fetch9[-2]) == "WITH"
                and _kw(fetch9[-1]) == "TIES"
            ):
                q.with_ties = True
                fetch9 = fetch9[:-2]
            elif fetch9 and _kw(fetch9[-1]) == "ONLY":
                fetch9 = fetch9[:-1]
            fetch9 = [
                x for x in fetch9 if _kw(x) not in ("ROW", "ROWS")
            ]
            if fetch9 and not lim:
                lim = fetch9
    if (
        len(lim) >= 2 and _kw(lim[-2]) == "WITH"
        and _kw(lim[-1]) == "TIES"
    ):
        q.with_ties = True
        lim = lim[:-2]
    if lim:
        # LIMIT n BY cols | LIMIT n | LIMIT o, n
        by_idx = None
        for j, tk in _top_level(lim, brackets="("):
            if _kw(tk) == "BY":
                by_idx = j
                break
        if by_idx is not None:
            q.limit_by = (_emit(lim[:by_idx]), lim[by_idx + 1 :])
            # a second LIMIT may follow the BY cols; its keyword is
            # consumed as a clause marker, so both forms appear
            rest = q.limit_by[1]
            for j, tk in enumerate(rest):
                if _kw(tk) == "LIMIT":
                    q.limit = rest[j + 1 :]
                    q.limit_by = (q.limit_by[0], rest[:j])
                    break
            else:
                # A trailing digit is an outer LIMIT only when the tokens
                # before it already form a complete expression — i.e. the
                # preceding token can END an expression (identifier, closing
                # bracket, or a literal).  `LIMIT 1 BY number % 2` must keep
                # its final `2` as the operand of `%`, not an outer LIMIT.
                if (
                    len(rest) >= 2
                    and rest[-1].isdigit()
                    and (
                        rest[-2] in (")", "]")
                        or rest[-2].replace(".", "", 1).isdigit()
                        or rest[-2].startswith("'")
                        or (_is_ident(rest[-2]) and _kw(rest[-2]) not in _SQL_KEYWORDS)
                    )
                ):
                    q.limit = [rest[-1]]
                    q.limit_by = (q.limit_by[0], rest[:-1])
        else:
            # MySQL-compat LIMIT offset, count
            parts = _split_top(lim, ",")
            if len(parts) == 2 and parts[0] and parts[1] and not q.offset:
                q.offset, q.limit = parts[0], parts[1]
            else:
                q.limit = lim
    # LIMIT n OFFSET o BY cols: the BY lands in the OFFSET bucket
    if q.offset:
        for j, tk in enumerate(q.offset):
            if _kw(tk) == "BY":
                q.limit_by = (
                    _emit(q.offset[:j]) + " , " + _emit(q.limit),
                    q.offset[j + 1 :],
                )
                q.limit, q.offset = [], []
                break
    return q


def _extract_fill(
    order_toks: list[str],
) -> tuple[list[str], tuple[str, bool, dict[str, str | None]] | None]:
    """Strip ``WITH FILL [FROM e] [TO e] [STEP e]`` from ORDER BY tokens
    (FillingTransform.cpp).  One fill key is supported; FROM is inclusive,
    TO exclusive, STEP defaults to 1."""
    items = _split_top(order_toks, ",")
    out_items: list[list[str]] = []
    fill = None
    for it in items:
        idx = None
        for j, t in _top_level(it):
            if (
                _kw(t) == "WITH"
                and j + 1 < len(it)
                and _kw(it[j + 1]) == "FILL"
            ):
                idx = j
                break
        if idx is None:
            out_items.append(it)
            continue
        if fill is not None:
            raise DialectError(
                "multiple WITH FILL columns are not supported; use "
                "daisy_spark.operators.modifiers.with_fill per key"
            )
        head, tail = it[:idx], it[idx + 2 :]
        desc = bool(head) and _kw(head[-1]) == "DESC"
        col_toks = head[:-1] if head and _kw(head[-1]) in ("ASC", "DESC") else head
        if len(col_toks) != 1 or not _is_ident(col_toks[0]):
            raise DialectError(
                "WITH FILL requires a plain column or alias as the sort key"
            )
        spec: dict[str, str | None] = {"from": None, "to": None, "step": None}
        k = 0
        while k < len(tail):
            kw = _kw(tail[k])
            if kw not in ("FROM", "TO", "STEP"):
                raise DialectError(f"unexpected WITH FILL token {tail[k]!r}")
            k += 1
            stop = next(
                (
                    j for j, t2 in _top_level(tail, k)
                    if _kw(t2) in ("FROM", "TO", "STEP")
                ),
                len(tail),
            )
            grp, k = tail[k:stop], stop
            if any(_kw(g) == "INTERVAL" for g in grp):
                raise DialectError(
                    "WITH FILL with an INTERVAL step is not supported in "
                    "SQL; use operators.modifiers.with_fill_timestamp"
                )
            if not grp:
                raise DialectError(f"WITH FILL {kw} needs an expression")
            spec[kw.lower()] = _emit(_translate_expr(grp))
        fill = (col_toks[0], desc, spec)
        out_items.append(head)
    rebuilt: list[str] = []
    for m, it in enumerate(out_items):
        if m and it:
            rebuilt.append(",")
        rebuilt += it
    return rebuilt, fill


def _select_out_names(select_toks: list[str]) -> list[str] | None:
    """Output column names of a select list, or None when underivable
    (used to preserve column order around the WITH FILL join wrap)."""
    names: list[str] = []
    for it in _split_top(select_toks, ","):
        if not it:
            continue
        if len(it) >= 2 and _kw(it[-2]) == "AS" and _is_ident(it[-1]):
            names.append(it[-1])
        elif len(it) == 1 and _is_ident(it[0]) and it[0] != "*":
            names.append(it[0])
        else:
            return None
    return names or None


def _subst_tokens(toks: list[str], subs: dict[str, str]) -> list[str]:
    """Replace bare identifier occurrences (not ``t.name``, not
    ``name(``) with opaque replacement SQL strings."""
    out: list[str] = []
    def _ends_op(p: str) -> bool:
        # previous token completes an operand -> this ident is an
        # IMPLICIT alias (`x.b x`, `count(c) cnt`), not a reference
        return (
            p.endswith((")", "]"))
            or p.startswith("'")
            or bool(re.match(r"^[0-9]", p))
            or (_is_ident(p) and _kw(p) not in _SQL_KEYWORDS)
        )

    for k, tk in enumerate(toks):
        if (
            tk in subs
            and (k == 0 or toks[k - 1] != ".")
            and (k == 0 or _kw(toks[k - 1]) != "AS")
            and (k == 0 or not _ends_op(toks[k - 1]))
            # neither a call nor a table qualifier (`x.col` keeps x)
            and (k + 1 >= len(toks) or toks[k + 1] not in ("(", "."))
        ):
            out.append(subs[tk])
        else:
            out.append(tk)
    return out


_ARRAYISH_HEADS = (
    "collect_list(", "collect_set(", "array(", "array_distinct(",
    "array_intersect(", "array_union(", "array_except(", "array_remove(",
    "array_repeat(", "slice(", "split(", "sequence(", "flatten(",
    "shuffle(", "sort_array(", "array_sort(", "map_keys(", "map_values(",
    "transform(", "filter(", "reverse(array", "arrays_zip(", "zip_with(",
    "map(", "map_from_arrays(", "map_concat(", "str_to_map(",
    "ch_geohashes_in_box(", "ch_h3_to_children(", "ch_read_wkt_ring(",
    "ch_read_wkt_polygon(", "ch_read_wkt_multipolygon(",
    "ch_polygon_convex_hull_cartesian(",
)


_BOOLISH_KW = {"OR", "AND", "NOT", "LIKE", "RLIKE", "ILIKE", "IN", "IS",
               "BETWEEN", "EXISTS"}


def _is_boolish(txt: str) -> bool:
    """Whether a translated expression is visibly boolean-valued: a
    top-level comparison or logical operator."""
    try:
        toks = tokenize(txt)
    except Exception:  # noqa: BLE001
        return False
    while (
        len(toks) >= 3 and toks[0] == "("
        and _match_paren(toks, 0) == len(toks) - 1
    ):
        toks = toks[1:-1]
    if toks and _kw(toks[0]) in ("CASE", "IF"):
        return False  # conditionals carry inner comparisons, any type
    for _, t in _top_level(toks, brackets="("):
        if (
            t in ("=", "<", ">", "<=", ">=", "<>", "!=", "==")
            or _kw(t) in _BOOLISH_KW
        ):
            return True
    return False


def _agg_input_nullable(txt: str) -> bool:
    """Whether an aggregate's input expression is Nullable — so the
    empty-set default (sum→0, avg→nan) must NOT apply: the reference
    wraps aggregates over Nullable inputs in AggregateFunctionNull,
    which returns NULL for empty/all-NULL input
    (src/AggregateFunctions/AggregateFunctionNull.h).  Detected by
    visible null-producing text, or — for a bare column reference — by
    the active script table's declared Nullable(...)."""
    if re.search(r"(?i)\bnull\b|nullif|tonullable|try_cast", txt):
        return True
    name = txt.strip().strip("`")
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", name):
        return False
    env = _TYPE_ENV_CTX.get()
    if env and env.get(name, "").startswith("Nullable("):
        return True
    candidates = {name}
    if "." in name:
        candidates.add(name.split(".", 1)[1])  # strip a table qualifier
    schemas = _SCRIPT_SCHEMAS_CTX.get() or {}
    for cols in schemas.values():
        for c, _, default in cols:
            # _type_default renders "NULL" exactly when the column is
            # declared Nullable (script.py:_type_default)
            if c in candidates and default == "NULL":
                return True
    return False


def _is_arrayish(txt: str) -> bool:
    """Whether a translated expression is visibly array-valued: an
    array-producing call, or a script column declared Array(...)."""
    compact = txt.replace(" ", "")
    if any(m in compact for m in _ARRAYISH_HEADS):
        return True
    name = compact.strip("`")
    while name.startswith("(") and name.endswith(")"):
        name = name[1:-1].strip("`")
    if name in (_ARRAY_LAMBDA_VARS.get() or frozenset()):
        return True
    env = _TYPE_ENV_CTX.get() or {}
    if env.get(name, "").startswith("Array"):
        return True
    schemas = _SCRIPT_SCHEMAS_CTX.get() or {}
    for cols in schemas.values():
        for c, st, _ in cols:
            if c == name and st.lower().startswith("array"):
                return True
    return False


def _dotted_cols() -> set[str]:
    """Column names containing a dot (Nested flattened members) across
    the active script-engine tables."""
    schemas = _SCRIPT_SCHEMAS_CTX.get() or {}
    out: set[str] = set()
    for cols in schemas.values():
        for c, _, _ in cols:
            if "." in c:
                out.add(c)
    return out


def _apply_array_join(q: _Select) -> None:
    """[LEFT] ARRAY JOIN items -> LATERAL VIEW posexplode(first) plus
    positional element_at() for the remaining arrays (the reference
    iterates all arrays in lockstep — ArrayJoinAction.cpp).  Bare-column
    items without AS are shadowed by their element (reference semantics);
    aliased items keep the original array visible."""
    if not q.array_join:
        return
    left, toks = q.array_join
    items = [p for p in _split_top(toks, ",") if p]
    if not items:
        raise DialectError("ARRAY JOIN with no arrays")
    dotted = _dotted_cols()
    #: (expr_sql, bare-name key or (qual, member) dotted key)
    exprs: list[tuple[str, object]] = []
    elem_defaults: list[str | None] = []
    for it in items:
        alias = None
        if len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1]):
            alias, it = it[-1], it[:-2]
        tn_aj = _type_name_of_raw(it) or ""
        elem_defaults.append(
            _default_of_ch_type(tn_aj[6:-1])
            if tn_aj.startswith("Array(") and "?" not in tn_aj else None
        )
        if len(it) == 1 and _is_ident(it[0]):
            name = it[0].strip("`")
            members = sorted(d for d in dotted if d.startswith(name + "."))
            if members:
                # Nested group: every member array joins in lockstep;
                # elements are referenced as (alias or name).member
                for d in members:
                    sub = d.split(".", 1)[1]
                    exprs.append((f"`{d}`", ((alias or name), sub)))
                continue
        if (
            len(it) == 3 and it[1] == "." and alias is None
            and f"{it[0].strip('`')}.{it[2].strip('`')}" in dotted
        ):
            d = f"{it[0].strip('`')}.{it[2].strip('`')}"
            exprs.append((f"`{d}`", tuple(d.split(".", 1))))
            continue
        name = alias or (it[0] if len(it) == 1 and _is_ident(it[0]) else None)
        exprs.append((_emit(_translate_expr(it)), name))
    fn = "posexplode_outer" if left else "posexplode"
    e0, n0 = exprs[0]
    # an explicit user alias names the element column itself (so OUTER
    # selects over this subquery can reference it); fall back to the
    # synthetic name when the alias would shadow a source column
    v0 = "__aj_v0"
    alias0 = items[0][-1] if (
        len(items[0]) >= 3 and _kw(items[0][-2]) == "AS"
        and _is_ident(items[0][-1])
    ) else None
    if alias0 and isinstance(n0, str) and "." not in alias0:
        src0 = list(q.from_)
        if len(src0) >= 2 and _kw(src0[-2]) == "AS":
            src0 = src0[:-2]
        cols0 = _from_item_cols(src0) or {}
        if alias0.strip("`") not in cols0:
            v0 = alias0
    q.lateral = f"LATERAL VIEW {fn}({e0}) __aj AS __aj_pos, {v0}"
    # `SELECT *` with ARRAY JOIN: the reference replaces each joined
    # column by its ELEMENT in the star — expand the star from the FROM
    # item's schema so the substitutions below can apply
    if [t for t in q.select if t.strip()] == ["*"]:
        src = list(q.from_)
        if len(src) >= 2 and _kw(src[-2]) == "AS":
            src = src[:-2]
        elif (
            src and src[0] != "(" and len(src) > 1 and _is_ident(src[-1])
            and src[-2] != "."
        ):
            src = src[:-1]
        cols = _from_item_cols(src)
        if cols:
            # dotted names expand to `a . b` triples so the element
            # substitutions below can match them
            fixed: list[str] = []
            for c in cols:
                if fixed:
                    fixed.append(",")
                if "." in c:
                    a_, b_ = c.split(".", 1)
                    fixed += [a_, ".", b_]
                else:
                    fixed.append(c)
            q.select = fixed
    subs: dict[str, str] = {}
    dotted_subs: dict[tuple[str, str], str] = {}
    def _fill_aj(expr9: str, k9: int) -> str:
        # LEFT ARRAY JOIN of an empty array emits the element TYPE
        # DEFAULT, not NULL (ArrayJoinAction left semantics)
        d9 = elem_defaults[k9] if k9 < len(elem_defaults) else None
        return f"coalesce({expr9}, {d9})" if left and d9 else expr9

    if isinstance(n0, tuple):
        dotted_subs[n0] = _fill_aj("__aj_v0", 0)
    elif n0 and "." in n0.strip("`"):
        # a DOTTED user alias (`... AS \`PP.Key2\`` — 00819) is
        # referenced as a qual.member pair downstream
        dotted_subs[tuple(n0.strip("`").split(".", 1))] = _fill_aj(v0, 0)
    elif n0:
        subs[n0] = _fill_aj(v0, 0)
    for k9, (ek, nk) in enumerate(exprs[1:], start=1):
        repl = _fill_aj(f"element_at({ek}, __aj_pos + 1)", k9)
        if isinstance(nk, tuple):
            dotted_subs[nk] = repl
        elif nk and "." in nk.strip("`"):
            dotted_subs[tuple(nk.strip("`").split(".", 1))] = repl
        elif nk:
            subs[nk] = repl
    # a select item that IS a bare joined name keeps that name on the
    # OUTPUT (outer queries reference it — 00808/00977): alias the
    # substituted element expression back to the original name
    if subs and q.select:
        items_s = _split_top(q.select, ",")
        rebuilt: list[str] = []
        for it_s in items_s:
            if rebuilt:
                rebuilt.append(",")
            nm_s = it_s[0].strip("`") if len(it_s) == 1 else None
            if (
                nm_s in subs and subs[nm_s] != nm_s
                and not (len(it_s) >= 2 and _kw(it_s[-2]) == "AS")
            ):
                rebuilt += [subs[nm_s], "AS", it_s[0]]
            else:
                rebuilt += it_s
        q.select = rebuilt
    for attr in (
        "select", "prewhere", "where", "group_by", "having", "order_by",
    ):
        ts = getattr(q, attr)
        if subs:
            ts = _subst_tokens(ts, subs)
        if dotted_subs:
            ts = _subst_dotted(ts, dotted_subs)
        setattr(q, attr, ts)


def _subst_dotted(
    ts: list[str], subs: dict[tuple[str, str], str]
) -> list[str]:
    """Replace ``qual . member`` token triples (Nested element refs
    after ARRAY JOIN) with their element expressions."""
    res: list[str] = []
    i = 0
    while i < len(ts):
        if (
            i + 2 < len(ts)
            and ts[i + 1] == "."
            and (ts[i].strip("`"), ts[i + 2].strip("`")) in subs
            and (i == 0 or ts[i - 1] != ".")
        ):
            res.append(subs[(ts[i].strip("`"), ts[i + 2].strip("`"))])
            i += 3
            continue
        res.append(ts[i])
        i += 1
    return res


#: Spark typeof() name -> reference type name, applied as a nested
#: replace chain.  Order matters: bigint/smallint/tinyint before the bare
#: `int`; case-sensitivity keeps already-replaced `Int64` safe from the
#: later lowercase `int` pass.  Unsigned widths are unrecoverable from a
#: Spark type (UInt64 reads as Int64) — signed names are emitted, which
#: is also what our type mapping wrote in.
_TYPE_NAME_SUBS = [
    ("bigint", "Int64"), ("smallint", "Int16"), ("tinyint", "Int8"),
    ("interval day", "IntervalDay"), ("interval month", "IntervalMonth"),
    ("int", "Int32"), ("double", "Float64"), ("float", "Float32"),
    ("string", "String"), ("boolean", "Bool"),
    ("timestamp_ntz", "DateTime"), ("timestamp", "DateTime"),
    ("date", "Date"), ("binary", "String"), ("void", "Nothing"),
    ("decimal", "Decimal"), ("array<", "Array("), ("map<", "Map("),
    ("struct<", "Tuple("), (">", ")"),
]


def _to_type_name_expr(arg: str) -> str:
    """toTypeName(x): the reference's type NAME for the expression —
    typeof() rewritten into reference spelling via a replace chain
    (src/Functions/toTypeName.cpp renders the DataType name)."""
    e = f"typeof({arg})"
    for old, new in _TYPE_NAME_SUBS:
        e = f"replace({e}, '{old}', '{new}')"
    # tuple() structs carry col1..colN labels the reference never prints;
    # comma spacing matches the reference's renderer
    e = f"regexp_replace({e}, 'col[0-9]+:', '')"
    e = f"replace({e}, ',', ', ')"
    return e


def _rand_expr_for_type(spark_type: str, h: str) -> str:
    """Deterministic pseudo-random SQL expression of the given Spark type,
    derived from hash expression ``h`` (no driver RNG — generation is
    distributed, mirroring src/TableFunctions/TableFunctionGenerateRandom)."""
    t = spark_type.lower()
    if t == "tinyint":
        return f"CAST(pmod({h}, 256) - 128 AS TINYINT)"
    if t == "smallint":
        return f"CAST(pmod({h}, 65536) - 32768 AS SMALLINT)"
    if t == "int":
        return f"CAST(pmod({h}, 4294967296) - 2147483648 AS INT)"
    if t == "bigint":
        return f"({h})"
    if t in ("float", "double"):
        return f"CAST(pmod({h}, 1000000000) / 33554432.0 AS {t.upper()})"
    if t == "boolean":
        return f"(pmod({h}, 2) = 1)"
    if t == "string":
        return f"substr(base64(CAST(CAST({h} AS STRING) AS BINARY)), 1, 8)"
    if t == "date":
        return f"date_add(DATE '1970-01-01', CAST(pmod({h}, 20000) AS INT))"
    if t == "timestamp":
        return f"timestamp_seconds(pmod({h}, 1500000000))"
    if t.startswith("decimal"):
        m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
        p, s = (int(m.group(1)), int(m.group(2))) if m else (10, 0)
        digits = min(p, 9)
        return (
            f"CAST(pmod({h}, {10 ** digits}) / {10 ** s} AS DECIMAL({p}, {s}))"
        )
    if t.startswith("array<"):
        inner = spark_type[6:-1]
        elem = _rand_expr_for_type(inner, f"xxhash64({h}, __gi)")
        return (
            f"transform(sequence(1, CAST(pmod({h}, 4) AS INT)), "
            f"__gi -> {elem})"
        )
    if t.startswith("struct<"):
        fields = []
        body = spark_type[7:-1]
        depth = 0
        cur = ""
        parts = []
        for ch in body:
            if ch in "<(":
                depth += 1
            elif ch in ">)":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                cur += ch
        if cur:
            parts.append(cur)
        for x, prt in enumerate(parts):
            fn, ft = prt.split(":", 1)
            fields.append(
                f"'{fn.strip()}', "
                + _rand_expr_for_type(ft.strip(), f"xxhash64({h}, {x})")
            )
        return f"named_struct({', '.join(fields)})"
    _raise_dialect(f"generateRandom: unsupported type {spark_type!r}")


def _generate_random_tvf(args: list[str]) -> str:
    """generateRandom('a Int8, b String'[, seed...]) — hash-derived rows
    over a lazy range; the LIMIT-pushdown in _render bounds the scan."""
    if not args or not args[0].startswith("'"):
        _raise_dialect("generateRandom needs a quoted schema string")
    if len(args) > 4:
        # reference signature: (schema[, seed, max_string_len, max_array_len])
        # — NUMBER_OF_ARGUMENTS_DOESNT_MATCH (error 42).  Raising here
        # fails fast; without it the bogus call built a full
        # range(2^25) random frame before dying downstream.
        _raise_dialect(
            "generateRandom takes at most 4 arguments, got "
            f"{len(args)}"
        )
    seed = args[1] if len(args) > 1 and re.match(r"^\d+$", args[1]) else "42"
    schema_toks = tokenize(args[0][1:-1])
    parts = _split_top(schema_toks, ",")
    exprs = []
    for part in parts:
        if not part:
            continue
        cname = part[0].strip('`"')
        spark_type, _ = _map_type(part, 1)
        h = f"xxhash64(id, '{cname}', {seed})"
        exprs.append(f"{_rand_expr_for_type(spark_type, h)} AS `{cname}`")
    return (
        f"(SELECT {', '.join(exprs)} FROM range({_NUMBERS_CAP}))"
    )


#: ASOF lowering's subquery-alias number, restarted by each translate()
#: so the emitted text depends on the query alone
_ASOF_SEQ: "contextvars.ContextVar[int]" = contextvars.ContextVar(
    "daisy_asof_seq", default=0
)


def _is_query_tokens(inner: list[str]) -> bool:
    """True when a parenthesized group is a (sub)query: starts with
    SELECT/WITH, or is a parenthesized UNION of selects
    (``(SELECT ...) UNION ALL SELECT ...``)."""
    if not inner:
        return False
    if _kw(inner[0]) in ("SELECT", "WITH"):
        return True
    if inner[0] != "(":
        return False
    return any(
        _kw(tk) == "UNION" for _, tk in _top_level(inner, brackets="(")
    )


def _asof_pop_left(out: list[str]):
    """Identify the trailing FROM item already emitted to ``out`` — the
    ASOF join's left side.  Returns (start_index, left_sql,
    left_qualifier) without mutating ``out``, or None when the left side
    is not a single table/subquery (multi-join lefts fall back to the
    lateral plan)."""
    if not out:
        return None

    def ident(x: str) -> bool:
        return _is_ident(x) and _kw(x) not in _SQL_KEYWORDS

    j = len(out)
    alias = None
    if ident(out[j - 1]):
        if j >= 2 and _kw(out[j - 2]) == "AS":
            alias = out[j - 1]
            j -= 2
        elif j >= 2 and (
            out[j - 2] == ")" or out[j - 2].startswith("(") or ident(out[j - 2])
        ):
            alias = out[j - 1]
            j -= 1
    if j >= 1 and out[j - 1] == ")":
        depth, p = 0, j - 1
        while p >= 0:
            if out[p] == ")":
                depth += 1
            elif out[p] == "(":
                depth -= 1
                if depth == 0:
                    break
            p -= 1
        if depth != 0 or p < 0:
            return None
        start = p
    elif j >= 1 and out[j - 1].startswith("("):
        start = j - 1  # single-token subquery (e.g. system.numbers emit)
    elif j >= 1 and ident(out[j - 1]):
        start = j - 1
        while start - 2 >= 0 and out[start - 1] == "." and ident(out[start - 2]):
            start -= 2
    else:
        return None
    if start > 0 and out[start - 1] != ",":
        return None
    seg = out[start:j]
    if alias is None and len(seg) == 1 and ident(seg[0]):
        alias = seg[0]
    if alias is None:
        alias = "__asof_l"
    return start, " ".join(seg), alias


def _asof_union_item(
    out: list[str],
    rhs_sql: str,
    rhs_name: str | None,
    ralias: str,
    side: str,
    eqs: list[tuple[str, str]] | None = None,
    time: tuple[str, str, bool, bool] | None = None,
    using_keys: list[str] | None = None,
) -> bool:
    """Scale-safe ASOF JOIN: replace ``L ASOF JOIN R`` in the FROM clause
    with the union+window plan (same shape as operators.joins.asof_join,
    sort-shuffle of \\|L\\|+\\|R\\| instead of the O(\\|L\\|·\\|R\\|)
    decorrelated lateral).  Both sides are struct-packed (``struct(l.*)``)
    and re-exposed under their original aliases as struct columns, so the
    outer query's ``l.col`` / ``r.col`` references resolve as field
    accesses WITHOUT the translator knowing either column list.  Unmatched
    LEFT rows are filled with the reference's type defaults when the right
    side is a script-engine table with a known schema
    (src/Interpreters/HashJoin.h LEFT-join default semantics); NULL
    otherwise.  Returns False (out untouched) when the shape is
    unsupported — caller falls back to the lateral."""
    popped = _asof_pop_left(out)
    if popped is None:
        return False
    start, left_sql, lq = popped
    if lq == ralias:
        return False
    if using_keys is not None:
        keys, tcol = using_keys[:-1], using_keys[-1]
        eqs = [(f"{lq}.{c}", f"{ralias}.{c}") for c in keys]
        time = (f"{lq}.{tcol}", f"{ralias}.{tcol}", False, False)
    if not eqs or time is None:
        return False
    l_time, r_time, forward, strict = time
    nid = _ASOF_SEQ.get()
    _ASOF_SEQ.set(nid + 1)
    lk = ", ".join(f"{le} AS __k{x}" for x, (le, _) in enumerate(eqs))
    rk = ", ".join(re_ for _, re_ in eqs)
    # right rows sort BEFORE left at equal ts for the inclusive forms
    # (>= / <=) so the window's running last() sees them; AFTER for the
    # strict forms so an equal-ts right row is not matched
    rtag = 2 if strict else 0
    lbranch = (
        f"SELECT {lk}, {l_time} AS __ts, 1 AS __side, "
        f"struct({lq}.*) AS __lrow, NULL AS __rrow FROM {left_sql} AS {lq}"
    )
    rbranch = (
        f"SELECT {rk}, {r_time}, {rtag}, NULL, struct({ralias}.*) "
        f"FROM {rhs_sql} AS {ralias}"
    )
    part = ", ".join(f"__k{x}" for x in range(len(eqs)))
    order = "__ts DESC" if forward else "__ts"
    win = (
        f"last(__rrow) IGNORE NULLS OVER (PARTITION BY {part} "
        f"ORDER BY {order}, __side "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __rm"
    )
    rfinal = "__rm"
    if side == "LEFT" and rhs_name:
        cols = (_SCRIPT_SCHEMAS_CTX.get() or {}).get(rhs_name)
        if cols:
            defaults = ", ".join(
                f"'{c}', CAST({d} AS {ty})" for c, ty, d in cols
            )
            rfinal = f"coalesce(__rm, named_struct({defaults}))"
    filt = "__side = 1" + ("" if side == "LEFT" else " AND __rm IS NOT NULL")
    # UNQUALIFIED outer references: flatten the left row alongside the
    # struct aliases (reference name resolution prefers the left table);
    # right-only columns are flattened too when both schemas are known
    # (script-engine tables), since excluding left-dup names needs both
    # column lists
    schemas = _SCRIPT_SCHEMAS_CTX.get() or {}
    extras = ""
    lcols = schemas.get(left_sql)
    rcols = schemas.get(rhs_name) if rhs_name else None
    if lcols is not None:
        # a column spelled like either table alias (Spark resolution is
        # case-insensitive) would make qualified refs ambiguous — keep it
        # struct-only
        taken = {lq.lower(), ralias.lower()}
        lnames = {c.lower() for c, _, _ in lcols}
        extras += "".join(
            f", __lrow.{c} AS {c}"
            for c, _, _ in lcols if c.lower() not in taken
        )
        if rcols is not None:
            extras += "".join(
                f", {rfinal}.{c} AS {c}"
                for c, _, _ in rcols
                if c.lower() not in lnames and c.lower() not in taken
            )
    item = (
        f"(SELECT __lrow AS {lq}, {rfinal} AS {ralias}{extras} FROM "
        f"(SELECT *, {win} FROM ({lbranch} UNION ALL {rbranch}) "
        f"__asof_u{nid}) __asof_w{nid} WHERE {filt}) AS __asof_{nid}"
    )
    del out[start:]
    out.append(item)
    return True


def _translate_from(toks: list[str]) -> list[str]:
    """FROM clause: FINAL -> __final view, SAMPLE -> TABLESAMPLE, GLOBAL
    stripped, ASOF/ANY join syntax rejected, subqueries recursed."""
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        up = _kw(t)
        if t == "(":
            close = _match_paren(toks, i)
            inner = toks[i + 1 : close]
            if _is_query_tokens(inner):
                tok_es = _EXPR_SUBQ_CTX.set(False)  # FROM position
                try:
                    out += ["(", _translate_query(inner)[0], ")"]
                finally:
                    _EXPR_SUBQ_CTX.reset(tok_es)
            else:
                out += ["("] + _translate_expr(inner) + [")"]
            i = close + 1
            continue
        if up == "GLOBAL":
            i += 1  # GLOBAL JOIN/IN -> Catalyst picks broadcast itself
            continue
        # ALL JOIN is the reference's default multiplicity — a no-op word
        if up == "ALL" and i + 1 < n and _kw(toks[i + 1]) in (
            "JOIN", "LEFT", "RIGHT", "INNER", "FULL", "CROSS",
        ):
            i += 1
            continue
        # reference writes SEMI/ANTI before the side; Spark after it
        if up in ("SEMI", "ANTI") and i + 1 < n and _kw(toks[i + 1]) in (
            "LEFT", "RIGHT",
        ):
            if _kw(toks[i + 1]) == "RIGHT":
                raise DialectError(f"{up} RIGHT JOIN is not translated")
            if up == "SEMI":
                # SEMI LEFT keeps matching left rows PLUS one matched
                # right row's columns (HashJoin semi semantics) — the
                # ANY-INNER dedup plan is exactly that; Spark's LEFT
                # SEMI would drop the right side's columns
                toks[i] = "ANY"
                toks[i + 1] = "INNER"
                continue
            out += ["LEFT", up]
            i += 2
            continue
        # bare `USING k1, k2` -> `USING (k1, k2)` (Spark requires parens);
        # duplicated keys collapse (the reference dedups the USING list —
        # `USING (a, a, b)` ≡ `USING (a, b)`)
        if up == "USING" and i + 1 < n and toks[i + 1] != "(":
            key_toks: list[str] = []
            k = i + 1
            while k < n and (
                (_is_ident(toks[k]) and _kw(toks[k]) not in _SQL_KEYWORDS)
                or toks[k] == ","
            ):
                key_toks.append(toks[k])
                k += 1
            if not key_toks:
                raise DialectError("USING with no columns")
            keys = list(dict.fromkeys(x for x in key_toks if x != ","))
            key_toks = []
            for x in keys:
                if key_toks:
                    key_toks.append(",")
                key_toks.append(x)
            out += ["USING", "("] + key_toks + [")"]
            i = k
            continue
        if up == "USING" and i + 1 < n and toks[i + 1] == "(":
            close7 = _match_paren(toks, i + 1)
            keys = list(dict.fromkeys(
                x for x in toks[i + 2 : close7] if x != ","
            ))
            key_toks = []
            for x in keys:
                if key_toks:
                    key_toks.append(",")
                key_toks.append(x)
            out += ["USING", "("] + key_toks + [")"]
            i = close7 + 1
            continue
        # system.one — the single-row dummy table
        if (
            _kw(t.strip('`"')) == "SYSTEM"
            and i + 2 < n
            and toks[i + 1] == "."
            and _kw(toks[i + 2].strip('`"')) == "ONE"
        ):
            out.append("(SELECT CAST(0 AS SMALLINT) AS dummy)")
            follows_alias = i + 3 < n and (
                _kw(toks[i + 3]) == "AS"
                or (
                    _is_ident(toks[i + 3])
                    and _kw(toks[i + 3]) not in _SQL_KEYWORDS
                )
            )
            if not follows_alias:
                # alias `one` so qualified `one.dummy` references keep
                # resolving (reference table-name qualification)
                out.append("AS one")
            i += 3
            continue
        # system.numbers — the unbounded integer sequence; a capped lazy
        # range (the reference's own tests always LIMIT it).  Cap sized
        # 2^25 ≈ 33.5M: the largest bound any corpus case reads is
        # 10,000,010 (LIMIT sweep over every system.numbers use, r13),
        # and an oversized cap is pure scan cost wherever the plan
        # cannot early-out (e.g. LIMIT over the join-order column
        # compiles to TakeOrdered, which scans the whole range — the
        # old 1e9 cap made one corpus join case pay a 1e9-row scan).
        if (
            _kw(t.strip('`"')) == "SYSTEM"
            and i + 2 < n
            and toks[i + 1] == "."
            and _kw(toks[i + 2].strip('`"')) in ("NUMBERS", "NUMBERS_MT")
        ):
            out.append(f"(SELECT id AS number FROM range({_NUMBERS_CAP}))")
            if i + 3 >= n or not (
                _is_ident(toks[i + 3])
                and _kw(toks[i + 3]) not in _SQL_KEYWORDS
            ):
                out.append("AS __numbers")
            i += 3
            continue
        # numbers(n) table function (system.numbers semantics)
        # VALUES('c1 T1, c2 T2', (v, v), ...) table function
        # (src/TableFunctions/TableFunctionValues.cpp); single-column
        # rows may be bare scalars
        if _kw(t) == "VALUES" and i + 1 < n and toks[i + 1] == "(" and (
            i + 2 < n and toks[i + 2][:1] == "'"
        ):
            close = _match_paren(toks, i + 1)
            parts_v = _split_top(toks[i + 2 : close], ",")
            spec_v = parts_v[0][0][1:-1].replace("\\'", "'")
            cols_v: list[tuple[str, str]] = []
            nullable_v: list[bool] = []
            alias_v: list[tuple[str, str]] = []
            for cdef in _split_top(tokenize(spec_v), ","):
                if len(cdef) >= 3 and _kw(cdef[1]) == "ALIAS":
                    alias_v.append(
                        (cdef[0], _emit(_translate_expr(cdef[2:])))
                    )
                elif len(cdef) >= 2 and _is_ident(cdef[0]):
                    st_v, _ = _map_type(cdef[1:], 0)
                    cols_v.append((cdef[0], st_v))
                    nullable_v.append("Nullable" in " ".join(cdef[1:]))
            if not cols_v:
                raise DialectError("VALUES: unparsable column spec")
            rows_v = []
            for pv in parts_v[1:]:
                if pv and pv[0] == "(" and _match_paren(pv, 0) == len(pv) - 1:
                    raw_el = _split_top(pv[1:-1], ",")
                else:
                    raw_el = [pv]
                elems_v = [_emit(_translate_expr(e)) for e in raw_el]
                if len(elems_v) != len(cols_v):
                    raise DialectError("VALUES: arity != column spec")
                for re_v, ev, (_, ty), nl_v in zip(
                    raw_el, elems_v, cols_v, nullable_v
                ):
                    # Field-typed VALUES: a NULL into a non-Nullable
                    # column (error 53) and an integer-typed FUNCTION
                    # result into a Float column (the Field kind does
                    # not convert) both reject — checked against the
                    # TARGET column's own declared type
                    if ev.strip().upper() == "NULL" and "NULLABLE" not in (
                        " ".join(re_v).upper()
                    ):
                        if not nl_v:
                            raise DialectError(
                                "VALUES: NULL into non-Nullable column"
                            )
                    if ty in ("FLOAT", "DOUBLE") and not (
                        len(re_v) == 1
                        or (len(re_v) == 2 and re_v[0] == "-")
                    ):
                        t_el = _ch_type_of(
                            re_v,
                            _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT,
                        )
                        if t_el and _ch_unwrap(t_el).startswith(
                            ("UInt", "Int")
                        ):
                            raise DialectError(
                                "VALUES: integer Field into Float column"
                            )
                # Spark's DECIMAL(p,s) rejects values the reference's
                # lenient Decimal accepts — widen precision, keep scale.
                # Integer Fields into Date/DateTime columns convert by
                # VALUE (days / seconds since epoch), which Spark's
                # CAST refuses — convert element-wise instead
                def _values_conv(e_c, ty_c, re_c):
                    t_src = None
                    try:
                        t_src = _ch_type_of(
                            re_c, _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
                        )
                    except Exception:  # noqa: BLE001
                        t_src = None
                    src_int = bool(
                        re.fullmatch(
                            r"Array\(U?Int\d+\)", _ch_unwrap(t_src or "")
                        )
                    )
                    # inline tables only take foldable expressions, so
                    # fold the epoch conversions HERE (literal ints)
                    ints_c = [
                        int(tk) for tk in re_c
                        if re.fullmatch(r"[0-9]+", tk)
                    ]
                    if src_int and ty_c.replace(" ", "") == "ARRAY<DATE>":
                        import datetime as _dtv

                        days_c = ", ".join(
                            "DATE '%s'" % (
                                _dtv.date(1970, 1, 1)
                                + _dtv.timedelta(days=nv)
                            )
                            for nv in ints_c
                        )
                        return f"array({days_c})"
                    if src_int and ty_c.replace(" ", "") == (
                        "ARRAY<TIMESTAMP>"
                    ):
                        import datetime as _dtv
                        import zoneinfo as _ziv

                        tss_c = ", ".join(
                            "TIMESTAMP '%s'" % _dtv.datetime.fromtimestamp(
                                nv, _ziv.ZoneInfo(_SERVER_TZ)
                            ).strftime("%Y-%m-%d %H:%M:%S")
                            for nv in ints_c
                        )
                        return f"array({tss_c})"
                    return "CAST({} AS {})".format(
                        e_c,
                        re.sub(r"DECIMAL\(\s*\d+\s*,", "DECIMAL(38,", ty_c),
                    )

                rows_v.append(
                    "(" + ", ".join(
                        _values_conv(e, ty, re_v2)
                        for e, (_, ty), re_v2 in zip(
                            elems_v, cols_v, raw_el
                        )
                    ) + ")"
                )
            names_v = ", ".join(f"`{c}`" for c, _ in cols_v)
            sel_v = "*" + "".join(
                f", {e} AS `{c}`" for c, e in alias_v
            )
            out.append(
                f"(SELECT {sel_v} FROM VALUES "
                + ", ".join(rows_v)
                + f" AS __vals({names_v}))"
            )
            if close + 1 >= n or not (
                _kw(toks[close + 1]) == "AS"
                or (
                    _is_ident(toks[close + 1])
                    and _kw(toks[close + 1]) not in _SQL_KEYWORDS
                )
            ):
                out.append("AS __vals")
            i = close + 1
            continue
        if t in ("numbers", "numbers_mt", "generateRandom") and (
            i + 1 < n and toks[i + 1] == "("
        ):
            close = _match_paren(toks, i + 1)
            args = [
                _emit(_translate_expr(p))
                for p in _split_top(toks[i + 2 : close], ",")
                if p
            ]
            if t == "generateRandom":
                out.append(_generate_random_tvf(args))
            elif len(args) == 1:
                out.append(f"(SELECT id AS number FROM range({args[0]}))")
            else:
                out.append(
                    f"(SELECT id AS number FROM range({args[0]}, "
                    f"({args[0]}) + ({args[1]})))"
                )
            # Spark requires a subquery alias when none follows
            if close + 1 >= n or _kw(toks[close + 1]) not in ("AS",) and not (
                close + 1 < n and _is_ident(toks[close + 1])
                and _kw(toks[close + 1]) not in _SQL_KEYWORDS
            ):
                out.append("AS __numbers")
            i = close + 1
            continue
        if up == "ANY" and i + 1 < n and _kw(toks[i + 1]) in (
            "JOIN", "LEFT", "RIGHT", "INNER", "FULL",
        ):
            # ANY JOIN = at most one build-side row per key (HashJoin.h:76):
            # dedup the right side by the USING keys, then a plain join.
            j = i + 1
            dirs: list[str] = []
            while j < n and _kw(toks[j]) != "JOIN":
                dirs.append(_kw(toks[j]))
                j += 1
            if j >= n:
                raise DialectError("ANY with no JOIN")
            # ANY RIGHT keeps every right row and dedups the LEFT side
            # ("any row from the left table", HashJoin.h:77); ANY FULL
            # dedups the right like LEFT, then FULL-joins
            any_right = "RIGHT" in dirs
            any_full = "FULL" in dirs
            if any_full and str((_SETTINGS_CTX.get() or {}).get(
                "any_join_distinct_right_table_keys", "0"
            )).strip("'\" ") != "1":
                # reference error 48 NOT_IMPLEMENTED (HashJoin: ANY FULL
                # needs the legacy distinct-right-keys semantics)
                raise DialectError(
                    "ANY FULL JOINs are not implemented "
                    "(any_join_distinct_right_table_keys = 0)"
                )
            k = j + 1
            if k < n and toks[k] == "(":
                fc = _match_paren(toks, k)
                inner = toks[k + 1 : fc]
                if _is_query_tokens(inner):
                    factor_sql = "( " + _translate_query(inner)[0] + " )"
                else:
                    factor_sql = "( " + _emit(_translate_expr(inner)) + " )"
                k = fc + 1
            else:
                name_parts = []
                while k < n and _is_ident(toks[k]) and (
                    _kw(toks[k]) not in _SQL_KEYWORDS
                    # a declared table may shadow a keyword (a table
                    # literally named `join` / `set` — 00475)
                    or toks[k].strip("`") in (
                        _SCRIPT_SCHEMAS_CTX.get() or {}
                    )
                ):
                    name_parts.append(
                        toks[k] if _kw(toks[k]) not in _SQL_KEYWORDS
                        else "`" + toks[k].strip("`") + "`"
                    )
                    k += 1
                    # dotted continuation only (db.table); a bare ident
                    # after the name is the ALIAS, not part of the name
                    if k < n and toks[k] == ".":
                        name_parts.append(".")
                        k += 1
                    else:
                        break
                if not name_parts:
                    raise DialectError("ANY JOIN with no right-side table")
                factor_sql = "".join(name_parts)
            alias = None
            if k < n and _kw(toks[k]) == "AS":
                k += 1
            if k < n and _is_ident(toks[k]) and _kw(toks[k]) not in _SQL_KEYWORDS:
                alias = toks[k]
                k += 1
            if k < n and _kw(toks[k]) == "ON":
                if any_right and _asof_pop_left(out) is None:
                    raise DialectError(
                        "ANY RIGHT JOIN ON needs a single left factor; "
                        "use daisy_spark.operators.joins.any_join"
                    )
                # ON form: dedup keys = the right side of each equality
                # conjunct that references the right alias
                r_alias = alias or (
                    factor_sql.split(".")[-1]
                    if not factor_sql.startswith("(")
                    else None
                )
                if r_alias is None:
                    raise DialectError(
                        "ANY JOIN ON needs an aliased right side"
                    )
                k += 1
                stop = next(
                    (
                        j for j, tk in _top_level(toks, k, n, brackets="(")
                        if tk == "," or _kw(tk) in (
                            "JOIN", "INNER", "LEFT", "RIGHT", "FULL",
                            "CROSS", "ASOF", "SEMI", "ANTI", "ANY",
                        )
                    ),
                    max(k, n),
                )
                cond_toks, k = toks[k:stop], stop
                cond_t = _translate_expr(cond_toks)
                rkeys: list[str] = []
                for cj in _split_top(cond_t, "AND"):
                    while (
                        len(cj) >= 3 and cj[0] == "("
                        and _match_paren(cj, 0) == len(cj) - 1
                    ):
                        cj = cj[1:-1]
                    for m, tk in enumerate(cj):
                        if tk in ("=", "=="):
                            for side_toks in (cj[:m], cj[m + 1 :]):
                                if (
                                    len(side_toks) == 3
                                    and side_toks[0] == r_alias
                                    and side_toks[1] == "."
                                ):
                                    rkeys.append(side_toks[2])
                                    continue
                                # expression side referencing ONLY the
                                # right alias: partition by the whole
                                # expression (alias stripped — the dedup
                                # subquery sees bare columns)
                                quals = {
                                    side_toks[x]
                                    for x in range(len(side_toks) - 1)
                                    if _is_ident(side_toks[x])
                                    and side_toks[x + 1] == "."
                                }
                                if quals == {r_alias}:
                                    bare: list[str] = []
                                    x = 0
                                    while x < len(side_toks):
                                        if (
                                            side_toks[x] == r_alias
                                            and x + 1 < len(side_toks)
                                            and side_toks[x + 1] == "."
                                        ):
                                            x += 2
                                            continue
                                        bare.append(side_toks[x])
                                        x += 1
                                    rkeys.append(f"({_emit(bare)})")
                            break
                if not rkeys:
                    raise DialectError(
                        "ANY JOIN ON needs alias.col equality conjuncts"
                    )
                if any_right:
                    # ANY RIGHT keeps every right row and dedups the
                    # LEFT side by its ON-key columns (HashJoin.h:77)
                    pop_l = _asof_pop_left(out)
                    start_l, left_sql, l_alias = pop_l
                    lkeys: list[str] = []
                    for cj in _split_top(cond_t, "AND"):
                        while (
                            len(cj) >= 3 and cj[0] == "("
                            and _match_paren(cj, 0) == len(cj) - 1
                        ):
                            cj = cj[1:-1]
                        for m, tk in enumerate(cj):
                            if tk in ("=", "=="):
                                for side_toks in (cj[:m], cj[m + 1 :]):
                                    if (
                                        len(side_toks) == 3
                                        and side_toks[0] == l_alias
                                        and side_toks[1] == "."
                                    ):
                                        lkeys.append(side_toks[2])
                                break
                    if not lkeys:
                        raise DialectError(
                            "ANY RIGHT JOIN ON needs left-alias "
                            "equality conjuncts"
                        )
                    dedup_l = (
                        f"(SELECT * EXCEPT (__rn) FROM (SELECT __any.*, "
                        f"row_number() OVER (PARTITION BY "
                        f"{', '.join(lkeys)} "
                        f"ORDER BY monotonically_increasing_id()) "
                        f"AS __rn FROM {left_sql} AS __any) "
                        f"WHERE __rn = 1)"
                    )
                    del out[start_l:]
                    out += [dedup_l, "AS", l_alias, "RIGHT", "JOIN",
                            factor_sql]
                    if alias:
                        out += ["AS", alias]
                    out.append("ON")
                    out += cond_t
                    i = k
                    continue
                key_list = ", ".join(rkeys)
                ordk_r = (
                    "__jord_r" if "__jord_r" in factor_sql
                    else "monotonically_increasing_id()"
                )
                dedup = (
                    f"(SELECT * EXCEPT (__rn) FROM (SELECT __any.*, "
                    f"row_number() OVER (PARTITION BY {key_list} "
                    f"ORDER BY {ordk_r}) AS __rn "
                    f"FROM {factor_sql} AS __any) WHERE __rn = 1)"
                )
                side = (
                    "FULL" if any_full
                    else "LEFT" if "LEFT" in dirs else "INNER"
                )
                out += [side, "JOIN", dedup, "AS", r_alias, "ON"]
                out += cond_t
                i = k
                continue
            if k >= n or _kw(toks[k]) != "USING":
                raise DialectError(
                    "ANY JOIN requires USING to identify the dedup keys; "
                    "use daisy_spark.operators.joins.any_join otherwise"
                )
            k += 1
            if k < n and toks[k] == "(":
                uc = _match_paren(toks, k)
                key_toks = toks[k + 1 : uc]
                k = uc + 1
            else:
                key_toks = []
                while k < n and (_is_ident(toks[k]) or toks[k] == ","):
                    if _kw(toks[k]) in _SQL_KEYWORDS and toks[k] != ",":
                        break
                    key_toks.append(toks[k])
                    k += 1
            keys = [
                _emit(p) for p in _split_top(key_toks, ",") if p
            ]
            if not keys:
                raise DialectError("ANY JOIN USING with no keys")
            key_list = ", ".join(keys)
            if any_right:
                # dedup the LEFT side in place, keep the right side whole
                popped = _asof_pop_left(out)
                if popped is None:
                    raise DialectError(
                        "ANY RIGHT JOIN needs a single left FROM item"
                    )
                start, left_sql, lq = popped
                ordk_l = (
                    "__jord_l" if "__jord_l" in left_sql
                    else "monotonically_increasing_id()"
                )
                dedup_l = (
                    f"(SELECT * EXCEPT (__rn) FROM (SELECT __any.*, "
                    f"row_number() OVER (PARTITION BY {key_list} "
                    f"ORDER BY {ordk_l}) AS __rn "
                    f"FROM {left_sql} AS __any) WHERE __rn = 1)"
                )
                del out[start:]
                out += [dedup_l, "AS", lq, "RIGHT", "JOIN", factor_sql]
                if alias:
                    out += ["AS", alias]
                out += ["USING", "(", key_list, ")"]
                i = k
                continue
            ordk_r = (
                "__jord_r" if "__jord_r" in factor_sql
                else "monotonically_increasing_id()"
            )
            dedup = (
                f"(SELECT * EXCEPT (__rn) FROM (SELECT __any.*, row_number() "
                f"OVER (PARTITION BY {key_list} ORDER BY {ordk_r}) AS __rn "
                f"FROM {factor_sql} AS __any) WHERE __rn = 1)"
            )
            side = (
                "FULL" if any_full else "LEFT" if "LEFT" in dirs else "INNER"
            )
            if alias is None and not factor_sql.startswith("("):
                # keep the table name addressable (t2.* in the select)
                alias = factor_sql.split(".")[-1]
            if side == "INNER":
                # ANY INNER keeps at most one row from BOTH sides
                # (HashJoin.h: "first matching pair") — dedup the left too
                popped = _asof_pop_left(out)
                if popped is not None:
                    start, left_sql, lq = popped
                    ordk_l = (
                        "__jord_l" if "__jord_l" in left_sql
                        else "monotonically_increasing_id()"
                    )
                    dedup_l = (
                        f"(SELECT * EXCEPT (__rn) FROM (SELECT __any.*, "
                        f"row_number() OVER (PARTITION BY {key_list} "
                        f"ORDER BY {ordk_l}) AS __rn "
                        f"FROM {left_sql} AS __any) WHERE __rn = 1)"
                    )
                    del out[start:]
                    out += [dedup_l, "AS", lq]
            out += [side, "JOIN", dedup]
            if alias:
                out += ["AS", alias]
            out += ["USING", "(", key_list, ")"]
            i = k
            continue
        if up == "ASOF" and i + 1 < n and _kw(toks[i + 1]) in (
            "JOIN", "LEFT", "RIGHT", "INNER",
        ):
            # ASOF JOIN -> correlated LATERAL top-1 subquery: per left row,
            # the single right row closest on the time inequality
            # (Interpreters/joinDispatch + AsofRowRefs semantics; tests
            # 00927_asof_join_correct_bt.sql).  SCALE CAVEAT: Catalyst
            # decorrelates this via WindowGroupLimit, but the inequality
            # lands in a BroadcastNestedLoopJoin — O(|L|·|R|) (measured:
            # 00927_asof_join_long at 3M×10M never finishes).  A text-only
            # translator cannot emit the linear union+window plan (it needs
            # both sides' column lists), so big ASOF joins go through
            # operators/joins.asof_join, which builds exactly that plan.
            j = i + 1
            dirs: list[str] = []
            while j < n and _kw(toks[j]) != "JOIN":
                dirs.append(_kw(toks[j]))
                j += 1
            if j >= n or "RIGHT" in dirs or "FULL" in dirs:
                raise DialectError("RIGHT/FULL ASOF JOIN is not supported")
            k = j + 1
            rhs_name = None
            if k < n and toks[k] == "(":
                fc = _match_paren(toks, k)
                inner = toks[k + 1 : fc]
                if _is_query_tokens(inner):
                    rhs_sql = "( " + _translate_query(inner)[0] + " )"
                else:
                    rhs_sql = "( " + _emit(_translate_expr(inner)) + " )"
                k = fc + 1
            else:
                name_parts = []
                while k < n and (
                    _is_ident(toks[k]) and _kw(toks[k]) not in _SQL_KEYWORDS
                    or toks[k] == "."
                ):
                    name_parts.append(toks[k])
                    k += 1
                if not name_parts:
                    raise DialectError("ASOF JOIN with no right-side table")
                rhs_sql = "".join(name_parts)
                rhs_name = name_parts[-1]
            alias = None
            if k < n and _kw(toks[k]) == "AS":
                k += 1
            if k < n and _is_ident(toks[k]) and _kw(toks[k]) not in _SQL_KEYWORDS:
                alias = toks[k]
                k += 1
            alias = alias or rhs_name or "__asof"
            side = "LEFT" if "LEFT" in dirs else "INNER"
            if k < n and _kw(toks[k]) == "ON":
                k += 1
                stop = next(
                    (
                        j for j, tk in _top_level(toks, k, n, brackets="(")
                        if tk == "," or _kw(tk) in (
                            "JOIN", "INNER", "LEFT", "RIGHT", "FULL",
                            "CROSS", "ASOF", "SEMI", "ANTI",
                        )
                    ),
                    max(k, n),
                )
                cond_toks, k = toks[k:stop], stop
                cond_t = _translate_expr(cond_toks)
                # derive match ordering from the inequality conjunct that
                # references the right side: left >= right.t means "latest
                # right at or before left" -> ORDER BY right.t DESC
                order_sql = None
                conjs = _split_top(cond_t, "AND")

                def _refs_alias(ts: list[str]) -> bool:
                    return any(
                        ts[x] == alias
                        and x + 1 < len(ts)
                        and ts[x + 1] == "."
                        for x in range(len(ts))
                    )

                asof_eqs: list[tuple[str, str]] = []
                asof_time: tuple[str, str, bool, bool] | None = None
                clean = True
                for cj in conjs:
                    # strip balanced outer parens: (l.k = r.k) AND (...)
                    while (
                        len(cj) >= 3
                        and cj[0] == "("
                        and _match_paren(cj, 0) == len(cj) - 1
                    ):
                        cj = cj[1:-1]
                    found = False
                    for m, tk in _top_level(cj):
                        if tk in (">=", ">", "<=", "<"):
                            found = True
                            lop, rop = cj[:m], cj[m + 1 :]
                            if _refs_alias(rop) and not _refs_alias(lop):
                                order_sql = _emit(rop) + (
                                    " DESC" if tk in (">=", ">") else " ASC"
                                )
                                # l OP r: >=/> = backward, <=/< = forward
                                asof_time = (
                                    _emit(lop), _emit(rop),
                                    tk in ("<=", "<"), tk in (">", "<"),
                                )
                            elif _refs_alias(lop) and not _refs_alias(rop):
                                order_sql = _emit(lop) + (
                                    " DESC" if tk in ("<=", "<") else " ASC"
                                )
                                # r OP l: mirrored direction
                                asof_time = (
                                    _emit(rop), _emit(lop),
                                    tk in (">=", ">"), tk in (">", "<"),
                                )
                            else:
                                clean = False
                            break
                        elif tk in ("=", "=="):
                            found = True
                            lop, rop = cj[:m], cj[m + 1 :]
                            if _refs_alias(rop) and not _refs_alias(lop):
                                asof_eqs.append((_emit(lop), _emit(rop)))
                            elif _refs_alias(lop) and not _refs_alias(rop):
                                asof_eqs.append((_emit(rop), _emit(lop)))
                            else:
                                clean = False
                            break
                    if not found:
                        clean = False
                if not clean:
                    asof_eqs, asof_time = [], None
                if order_sql is None:
                    raise DialectError(
                        "ASOF JOIN ON needs an inequality conjunct on the "
                        "right-side time column"
                    )
                cond_sql = _emit(cond_t)
                asof_using = None
            elif k < n and _kw(toks[k]) == "USING":
                k += 1
                if k < n and toks[k] == "(":
                    uc = _match_paren(toks, k)
                    key_toks = toks[k + 1 : uc]
                    k = uc + 1
                else:
                    key_toks = []
                    while k < n and (_is_ident(toks[k]) or toks[k] == ","):
                        if _kw(toks[k]) in _SQL_KEYWORDS and toks[k] != ",":
                            break
                        key_toks.append(toks[k])
                        k += 1
                keys = [_emit(p) for p in _split_top(key_toks, ",") if p]
                if len(keys) < 2:
                    raise DialectError(
                        "ASOF JOIN USING needs (eq_keys..., time_col)"
                    )
                # left qualifier = nearest preceding table/alias identifier
                lq = next(
                    (
                        t0 for t0 in reversed(out)
                        if _is_ident(t0) and _kw(t0) not in _SQL_KEYWORDS
                    ),
                    None,
                )
                if lq is None:
                    raise DialectError(
                        "ASOF JOIN USING requires a named/aliased left table"
                    )
                tcol = keys[-1]
                eqs = [f"{alias}.{c} = {lq}.{c}" for c in keys[:-1]]
                cond_sql = " AND ".join(
                    eqs + [f"{alias}.{tcol} <= {lq}.{tcol}"]
                )
                order_sql = f"{alias}.{tcol} DESC"
                asof_eqs, asof_time = [], None
                asof_using = keys
            else:
                raise DialectError("ASOF JOIN requires ON or USING")
            # preferred path: linear union+window plan (one sort-shuffle
            # of |L|+|R|); the correlated lateral below decorrelates to a
            # BroadcastNestedLoopJoin — O(|L|·|R|) — and survives only as
            # the fallback for shapes the rewrite can't express
            if _asof_union_item(
                out, rhs_sql, rhs_name, alias, side,
                eqs=asof_eqs or None, time=asof_time,
                using_keys=asof_using,
            ):
                i = k
                continue
            lat = (
                f"(SELECT * FROM {rhs_sql} AS {alias} WHERE {cond_sql} "
                f"ORDER BY {order_sql} LIMIT 1)"
            )
            if side == "LEFT":
                out += ["LEFT", "JOIN", "LATERAL", lat, "AS", alias,
                        "ON", "TRUE"]
            else:
                out += ["JOIN", "LATERAL", lat, "AS", alias, "ON", "TRUE"]
            i = k
            continue
        # merge('db', 'tables_regexp') -> UNION ALL of the matching
        # script tables, each branch tagged with the `_table` virtual
        # column (src/TableFunctions/TableFunctionMerge.cpp)
        if up == "MERGE" and i + 1 < n and toks[i + 1] == "(":
            close_m = _match_paren(toks, i + 1)
            margs = [
                _emit(p).strip("'`\" ")
                for p in _split_top(toks[i + 2 : close_m], ",")
            ]
            pat = (margs[-1] if margs else ".*").replace("\\\\", "\\")
            # the reference's Merge regex is a PARTIAL match
            # (OptimizedRegularExpression::match on the name) — '^products_'
            # matches products_l; only explicit $ anchors the end
            tables = sorted(
                nm for nm in (_SCRIPT_SCHEMAS_CTX.get() or {})
                if re.search(pat, nm)
            )
            if not tables:
                raise DialectError(f"merge(): no tables match {pat!r}")
            want_table = bool(_WANT_TABLE_VCOL.get()) or any(
                tk.strip('`"') == "_table" for tk in toks
            )
            branches = [
                (
                    f"SELECT *, '{nm}' AS _table FROM `{nm}`"
                    if want_table else f"SELECT * FROM `{nm}`"
                )
                for nm in tables
            ]
            out.append("(" + " UNION ALL ".join(branches) + ")")
            follows_alias = close_m + 1 < n and (
                _kw(toks[close_m + 1]) == "AS"
                or (
                    _is_ident(toks[close_m + 1])
                    and _kw(toks[close_m + 1]) not in _SQL_KEYWORDS
                )
            )
            if not follows_alias:
                out.append("AS __merge")
            i = close_m + 1
            continue
        # dictionary('name') table function -> the dictionary's view
        if (
            up == "DICTIONARY"
            and i + 1 < n
            and toks[i + 1] == "("
        ):
            close_d = _match_paren(toks, i + 1)
            dname = _emit(toks[i + 2 : close_d]).strip("'`\" ")
            out.append(f"`{dname.split('.')[-1]}`")
            i = close_d + 1
            continue
        if up == "ON" and out and any(
            _kw(x) == "JOIN" for x in out
        ):
            # JOIN ON condition: run through the expression translator so
            # reference functions (toUInt32(...), etc.) lower properly
            k2 = next(
                (
                    j for j, tk2 in _top_level(toks, i + 1, n, brackets="(")
                    if tk2 == "," or _kw(tk2) in (
                        "JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS",
                        "ASOF", "SEMI", "ANTI", "GLOBAL", "ANY", "ALL",
                        "ARRAY", "USING",
                    )
                ),
                max(i + 1, n),
            )
            cond_toks2 = toks[i + 1 : k2]
            out += ["ON"] + _translate_expr(cond_toks2)
            i = k2
            continue
        if up == "FINAL":
            if not out:
                raise DialectError("FINAL with no preceding table")
            out[-1] = out[-1] + "__final"
            i += 1
            continue
        if up == "SAMPLE":
            if i + 1 >= n:
                raise DialectError("SAMPLE needs a fraction")
            frac = toks[i + 1]
            consumed = 2
            # `SAMPLE 1/2` — a fraction written as division
            if (
                i + 3 < n
                and toks[i + 2] == "/"
                and re.match(r"^[0-9.]+$", toks[i + 3])
            ):
                frac = str(float(frac) / float(toks[i + 3]))
                consumed = 4
            try:
                f = float(frac)
            except ValueError as exc:
                raise DialectError(f"unsupported SAMPLE argument {frac!r}") from exc
            # keyed table: SAMPLE f reads the prefix of the sampling-key
            # space (key < f * keyspace), deterministic and repeatable.
            # Key space is taken as 2^32 (the reference's common
            # intHash32-style keys); wider keys fold via pmod — still a
            # uniform, key-coherent, repeatable f-fraction.
            sample_tabs = _SAMPLE_BY_CTX.get() or {}
            prev = out[-1].strip("`") if out else ""
            if f <= 1.0 and prev in sample_tabs:
                key = sample_tabs[prev]
                out[-1] = (
                    f"(SELECT * FROM {prev} WHERE "
                    f"pmod(CAST({key} AS BIGINT), 4294967296) < "
                    f"{f} * 4294967296) AS {prev}"
                )
            elif f <= 1.0:
                # REPEATABLE pins the Bernoulli seed: runs are stable
                out += ["TABLESAMPLE", "(", str(f * 100), "PERCENT", ")",
                        "REPEATABLE", "(", "91", ")"]
            else:
                out += ["TABLESAMPLE", "(", str(int(f)), "ROWS", ")"]
            i += consumed
            continue
        out.append(t)
        i += 1
    return out


def _subst_aliases_into_typefns(sel: list[str]) -> list[str]:
    """Substitute earlier select-item aliases into toTypeName(...)
    arguments (`1 AS x, toTypeName(x)`): the static type inferencer
    needs the defining expression, while the VALUE stays resolved by
    Spark's lateral alias — so only type-introspection calls get the
    textual substitution."""
    items = _split_top(sel, ",")
    aliases: dict[str, list[str]] = {}
    out: list[str] = []
    for item in items:
        it = list(item)
        # substitute inside toTypeName call regions
        k = 0
        while k < len(it) - 1:
            if it[k] == "toTypeName" and it[k + 1] == "(":
                close = _match_paren(it, k + 1)
                region = it[k + 2 : close]
                rep: list[str] = []
                for j, tk in enumerate(region):
                    nm = tk.strip('`"')
                    if (
                        _is_ident(tk) and nm in aliases
                        and (j == 0 or region[j - 1] != ".")
                        and (j + 1 >= len(region) or region[j + 1] not in (".", "("))
                    ):
                        rep += ["("] + aliases[nm] + [")"]
                    else:
                        rep.append(tk)
                it[k + 2 : close] = rep
                k = k + 2 + len(rep) + 1
                continue
            k += 1
        if (
            len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1])
            and _tail_at_top(it)
        ):
            aliases[it[-1].strip('`"')] = it[:-2]
        if out:
            out.append(",")
        out += it
    return out


def _totals_mode_sql(q: _Select, from_sql: str, wheres: list[str]) -> str | None:
    """WITH TOTALS under non-default ``totals_mode`` /
    ``max_rows_to_group_by`` — TotalsHavingTransform + Aggregator
    overflow semantics (src/Processors/Transforms/TotalsHavingTransform
    .cpp:190-266, src/Interpreters/Aggregator.cpp checkLimits):

    * ``group_by_overflow_mode='any'`` admits new keys per input block
      until the key count exceeds ``max_rows_to_group_by`` at a block
      boundary; rows of dropped keys feed only a side "overflow" state.
    * the totals row merges the HAVING-passing groups (ALL groups for
      ``before_having``), plus the overflow state for ``before_having``
      / ``after_having_inclusive`` / ``after_having_auto`` when
      passed_keys/total_keys >= ``totals_auto_threshold``.

    Emulated with plain CTEs: per-group admission via a row_number
    window over each group's first source row (the monotonic ``number``
    column as arrival order), totals via a second GROUPING SETS pass
    over the selected row set.  Corpus-only path — gated on session
    settings, never reached by registry queries; the admission window
    sorts only per-GROUP rows (one per key), fine at test scale.
    Returns None to fall back to the default before_having plan."""
    st = {
        k: str(v).strip("'\" ")
        for k, v in (_SETTINGS_CTX.get() or {}).items()
    }
    # the reference DEFAULT is after_having_exclusive (Settings.h:100);
    # with no HAVING every mode agrees and the plain plan is used
    mode = st.get("totals_mode", "after_having_exclusive")
    try:
        maxr = int(st.get("max_rows_to_group_by", "0") or "0")
        bs = int(st.get("max_block_size", "65536") or "65536")
        thr = float(st.get("totals_auto_threshold", "0.5") or "0.5")
    except ValueError:
        return None
    if (mode == "before_having" or not q.having) and maxr == 0:
        return None  # default semantics: existing GROUPING SETS plan
    if maxr > 0 and st.get("group_by_overflow_mode", "throw") != "any":
        return None
    if (
        q.distinct or q.limit_by or q.fill or q.offset or q.lateral
        or q.array_join or not q.from_ or not q.group_by
        # TOTALS + ROLLUP/CUBE is the reference's NOT_IMPLEMENTED (48)
        # — fall back to the default plan, which rejects it
        or q.with_rollup or q.with_cube
    ):
        return None
    if maxr > 0 and not re.search(r"\bnumber\b", from_sql):
        return None  # arrival-order proxy needs the numbers column

    # group keys materialized as named __rows columns, so every later
    # stage groups/joins by plain column names
    items = _split_top(q.select, ",")
    alias_def: dict[str, list[str]] = {}
    item_alias: list[str | None] = []
    for it in items:
        if len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1]):
            alias_def[it[-1].strip('`"')] = it[:-2]
            item_alias.append(it[-1].strip('`"'))
        else:
            item_alias.append(None)
    rows_proj: list[str] = []
    key_cols: list[str] = []
    for i, kt in enumerate(_split_top(q.group_by, ",")):
        if not kt:
            continue
        if len(kt) == 1 and _is_ident(kt[0]):
            nm = kt[0].strip('`"')
            if nm in alias_def:
                rows_proj.append(
                    f"({_emit(_translate_expr(alias_def[nm]))}) AS `{nm}`"
                )
            key_cols.append(nm)
        else:
            rows_proj.append(
                f"({_emit(_translate_expr(kt))}) AS `__gk{i}`"
            )
            key_cols.append(f"__gk{i}")
    if not key_cols:
        return None

    sel_parts: list[str] = []
    names: list[str] = []
    for i, it in enumerate(items):
        a = item_alias[i]
        core_it = it[:-2] if (
            a is not None and len(it) >= 3 and _kw(it[-2]) == "AS"
        ) else it
        bare = it[0].strip('`"') if len(it) == 1 and _is_ident(it[0]) else None
        if a is not None and a in key_cols:
            sql = f"`{a}`"  # materialized in __rows — group col, not expr
        elif bare is not None:
            sql, a = f"`{bare}`", bare
        else:
            sql = _emit(_translate_expr(core_it))
        nm = a or bare or f"__c{i}"
        if nm in names:
            nm = f"__c{i}"
        names.append(nm)
        sel_parts.append(f"{sql} AS `{nm}`")
    # keys the select list doesn't expose still ride through __g for
    # the pass/fail key sets
    extra = [f"`{k}`" for k in key_cols if k not in names]
    # alias-visibility inlined key aliases into HAVING as their defining
    # expressions; inside __g those must reference the GROUPED key
    # column again (Spark can't prove f(number) constant per k-group)
    having_toks = list(q.having or [])
    for nm9, ex9 in alias_def.items():
        if nm9 not in key_cols:
            continue
        flat9 = "".join(x.strip() for x in ex9).replace(" ", "")
        targets9 = {flat9, "(" + flat9 + ")"}
        # the alias-visibility pass may have inlined the defining
        # expression as ONE pre-joined token — compare whitespace-free
        having_toks = [
            f"`{nm9}`"
            if x.replace(" ", "") in targets9
            else x
            for x in having_toks
        ]
        for cand9 in (["("] + ex9 + [")"], list(ex9)):
            n9, m9 = len(having_toks), len(cand9)
            j9 = 0
            out9: list[str] = []
            while j9 < n9:
                if having_toks[j9 : j9 + m9] == cand9:
                    out9.append(f"`{nm9}`")
                    j9 += m9
                else:
                    out9.append(having_toks[j9])
                    j9 += 1
            having_toks = out9
    hv = (
        "CAST((" + _emit(_translate_expr(having_toks)) + ") AS BOOLEAN)"
        if having_toks
        else "true"
    )
    kl = ", ".join(f"`{k}`" for k in key_cols)
    nl = ", ".join(f"`{n}`" for n in names)
    where_sql = (" WHERE " + " AND ".join(wheres)) if wheres else ""
    proj = (", " + ", ".join(rows_proj)) if rows_proj else ""
    fr = ", min(number) AS __fr" if maxr > 0 else ""
    ctes = [
        f"__rows AS (SELECT *{proj} FROM {from_sql}{where_sql})",
        f"__g AS (SELECT {', '.join(sel_parts + extra)}{fr}, "
        f"{hv} AS __hv FROM __rows GROUP BY {kl})",
    ]
    if maxr > 0:
        ctes.append(
            "__g1 AS (SELECT *, row_number() OVER (ORDER BY __fr) AS "
            f"__rn, CAST(floor(__fr / {bs}) AS BIGINT) AS __blk FROM __g)"
        )
        ctes.append(
            "__ga AS (SELECT *, (min(__rn) OVER (PARTITION BY __blk) - 1)"
            f" <= {maxr} AS __adm FROM __g1)"
        )
    else:
        ctes.append("__ga AS (SELECT *, true AS __adm FROM __g)")

    join_on = " AND ".join(f"r.`{k}` <=> j.`{k}`" for k in key_cols)

    def tot(name: str, join: str) -> str:
        return (
            f"{name} AS (SELECT {nl} FROM (SELECT "
            f"{', '.join(sel_parts)}, grouping_id() AS __gid "
            f"FROM __rows r {join} GROUP BY GROUPING SETS (({kl}), ())) "
            f"WHERE __gid != 0)"
        )

    semi = f"LEFT SEMI JOIN __p j ON {join_on}"
    anti = f"LEFT ANTI JOIN __f j ON {join_on}"
    if mode == "before_having":
        ctes.append(tot("__tt", ""))
        tot_sel = "SELECT * FROM __tt"
    elif mode == "after_having_exclusive":
        ctes.append(f"__p AS (SELECT {kl} FROM __ga WHERE __adm AND __hv)")
        ctes.append(tot("__tt", semi))
        tot_sel = "SELECT * FROM __tt"
    elif mode == "after_having_inclusive":
        ctes.append(
            f"__f AS (SELECT {kl} FROM __ga WHERE __adm AND NOT __hv)"
        )
        ctes.append(tot("__tt", anti))
        tot_sel = "SELECT * FROM __tt"
    elif mode == "after_having_auto":
        ctes.append(f"__p AS (SELECT {kl} FROM __ga WHERE __adm AND __hv)")
        ctes.append(
            f"__f AS (SELECT {kl} FROM __ga WHERE __adm AND NOT __hv)"
        )
        ctes.append(tot("__te", semi))
        ctes.append(tot("__ti", anti))
        ratio = (
            "(SELECT CAST(count(IF(__adm AND __hv, 1, NULL)) AS DOUBLE)"
            " / count(IF(__adm, 1, NULL)) FROM __ga)"
        )
        tot_sel = (
            f"SELECT * FROM __ti WHERE {ratio} >= {thr} "
            f"UNION ALL SELECT * FROM __te WHERE {ratio} < {thr}"
        )
    else:
        return None

    try:
        env = _subquery_type_env(q.from_)
    except Exception:  # noqa: BLE001
        env = None
    order = (
        _order_by_sql(q.order_by, env or _TYPE_ENV_DEFAULT)
        if q.order_by
        else "monotonically_increasing_id()"
    )
    reg = (
        f"SELECT {nl}, 0 AS __is_total, row_number() OVER "
        f"(ORDER BY {order}) AS __trn FROM __ga WHERE __adm AND __hv"
    )
    if q.limit:
        n = _emit(_translate_expr(q.limit))
        reg = f"SELECT * FROM ({reg}) WHERE __trn <= ({n})"
    return (
        f"WITH {', '.join(ctes)} SELECT {nl}, __is_total FROM "
        f"(SELECT * FROM ({reg}) UNION ALL SELECT {nl}, 1 AS __is_total, "
        f"0 AS __trn FROM ({tot_sel})) ORDER BY __is_total, __trn"
    )


_RAND_SEED_RE = re.compile(r"ch_rand_seeded\((\d+)\)")


def _render(q: _Select) -> str:
    sql = _render_core(q)
    if "ch_rand_seeded(" not in sql:
        return sql
    # seeded rand(N) resolved per SCOPE: per-row when the FROM exposes
    # the monotonic `number` column — a hash of the ROW IDENTITY, so
    # every instance of the same seed agrees within a row even when our
    # own lowerings duplicate it into conditional branches (a
    # per-instance monotonically_increasing_id counter desyncs there:
    # CASE arms advance it only when taken).  Scopes without `number`
    # keep the translate-time constant per seed (documented divergence
    # for per-row uses over arbitrary tables; src/Functions/rand.cpp).
    env: dict = {}
    if q.from_:
        try:
            env = _subquery_type_env(q.from_)
        except Exception:  # noqa: BLE001
            env = {}
    simple = bool(q.from_) and not any(_kw(t) == "JOIN" for t in q.from_)

    def _sub(m: "re.Match[str]") -> str:
        salt = int(m.group(1))
        if simple and "number" in env:
            return f"pmod(xxhash64(number, {salt}), 4294967296)"
        return "CAST({} AS BIGINT)".format(
            __import__("random").Random(salt).randrange(2**32)
        )

    return _RAND_SEED_RE.sub(_sub, sql)


#: the reference's default max_memory_usage for its test suite (~10 GB);
#: aggregations whose STATIC size estimate exceeds it refuse up front
_MAX_AGG_MEMORY = 10_000_000_000


def _check_agg_memory_cap(q: "_Select") -> None:
    """Emulate the reference's per-query memory limit (error 241,
    MemoryTracker.cpp) for the one shape a static estimate can prove:
    an un-prunable array aggregation of width-W strings (repeat/rpad
    with a literal count) over a numbers(R)-style literal source, with
    W*R past the limit.  Without this, Spark 'evaluates' the statement
    by spilling hundreds of GB to disk — the 01586_columns_pruning
    poison that broke the shared test JVM at the same point for three
    rounds.  The aggregate only counts as un-prunable when this scope
    itself consumes it (HAVING/ORDER BY reference); a merely-projected
    aggregate stays prunable by the outer query, exactly like the
    reference (and Spark) prune it."""
    if not q.from_ or not q.having and not q.order_by:
        return
    rows = 0
    for j, t in enumerate(q.from_):
        if t in ("numbers", "range") and j + 1 < len(q.from_) and (
            q.from_[j + 1] == "("
        ):
            close_f = _match_paren(q.from_, j + 1)
            lits = [
                x[0] for x in _split_top(q.from_[j + 2 : close_f], ",")
                if x and x[0].isdigit()
            ]
            if lits:
                rows = max(rows, max(int(x) for x in lits))
    if rows < 100_000:
        return
    for it in _split_top(q.select, ","):
        alias9 = (
            it[-1].strip('`"')
            if len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1])
            else None
        )
        txt9 = it
        if "groupArray" not in txt9 and "arraySort" not in txt9:
            continue
        width = 0
        for j, t in enumerate(txt9):
            if t in ("repeat", "rpad", "lpad") and j + 1 < len(txt9) and (
                txt9[j + 1] == "("
            ):
                close_r = _match_paren(txt9, j + 1)
                for part in _split_top(txt9[j + 2 : close_r], ","):
                    if len(part) == 1 and part[0].isdigit():
                        width = max(width, int(part[0]))
        if width * rows <= _MAX_AGG_MEMORY:
            continue
        # the HAVING/ORDER BY may hold the bare alias, the raw aggregate
        # call, or (after the alias-visibility pass inlined it) ONE
        # opaque token containing the TRANSLATED aggregate — all three
        # mean this scope consumes the array and nothing can prune it.
        # The original two checks only matched pre-substitution tokens,
        # which the pipeline never delivers here: the cap sat dead for
        # three rounds while the statement spilled hundreds of GB.
        consumers = (q.having or []) + (q.order_by or [])
        consumed = any(
            (alias9 is not None and t.strip('`"') == alias9)
            or t == "groupArray"
            or ("collect_list(" in t and "repeat" in t)
            for t in consumers
        )
        if consumed:
            raise DialectError(
                "Memory limit (for query) exceeded: aggregation would "
                "materialize ~%d bytes (reference error 241)"
                % (width * rows)
            )


def _render_core(q: _Select) -> str:
    _check_agg_memory_cap(q)
    if (
        q.distinct and not q.order_by and not q.fill
        and not q.with_totals and not q.limit_by
    ):
        # reference DISTINCT emits rows in FIRST-OCCURRENCE order
        # (DistinctTransform streams over the input); Spark's DISTINCT
        # shuffles into hash order.  Rewrite as group-by-all keeping the
        # minimal per-group row id, ordered by it.  With an explicit
        # ORDER BY the order is already pinned and plain DISTINCT wins.
        import copy

        q2 = copy.copy(q)
        q2.distinct = False
        q2.limit, q2.offset = [], []
        base = _render(q2)
        out = (
            "SELECT * EXCEPT (__dord) FROM ("
            "SELECT * EXCEPT (__mid), min(__mid) AS __dord "
            "FROM (SELECT *, monotonically_increasing_id() AS __mid "
            f"FROM ( {base} )) GROUP BY ALL) ORDER BY __dord"
        )
        if q.limit:
            out += " LIMIT " + _emit(_translate_expr(q.limit))
        if q.offset:
            out += " OFFSET " + _emit(_translate_expr(q.offset))
        return out
    sel = "SELECT " + ("DISTINCT " if q.distinct else "") + _emit(
        _translate_expr(q.select)
    )
    parts = [sel]
    lateral = q.lateral
    for ph, arg in q.aj_hoists:
        lateral += (
            f" LATERAL VIEW explode({_emit(_translate_expr(arg))}) "
            f"{ph}_t AS {ph}"
        )
    lateral = lateral.strip()
    if q.from_:
        from_sql = _emit(_translate_from(q.from_))
        # nested FROM subqueries set the type env for their own scope
        # while translating — restore THIS query's env for the clauses
        # still to come (WHERE/GROUP BY/ORDER BY)
        try:
            _TYPE_ENV_CTX.set(_subquery_type_env(q.from_))
        except Exception:  # noqa: BLE001
            _TYPE_ENV_CTX.set(None)
        # system.numbers expands to a capped lazy range; when a plain
        # integer LIMIT is the only row-consuming clause, push it into
        # the range bound — correlated subqueries in the select list
        # (e.g. dictGet) decorrelate into joins ABOVE the scan, through
        # which Spark's limit does not push, so the full cap would be
        # scanned (JVM-killing) for a 5-row query
        if (
            f"range({_NUMBERS_CAP})" in from_sql
            and len(q.limit) == 1 and q.limit[0].isdigit()
            and not (
                q.where or q.prewhere or q.group_by or q.having
                or q.order_by or q.offset or q.limit_by or q.distinct
            )
        ):
            from_sql = from_sql.replace(
                f"range({_NUMBERS_CAP})", f"range({q.limit[0]})", 1
            )
        frm = "FROM " + from_sql
        if lateral:
            frm += " " + lateral
        parts.append(frm)
    elif lateral:
        # ARRAY JOIN / hoisted arrayJoin with no FROM: explode over a
        # one-row relation
        parts.append("FROM (SELECT 1) " + lateral)
    wheres = []
    # reference truthiness: WHERE accepts any numeric (nonzero = keep)
    if q.prewhere:
        wheres.append("CAST(( " + _emit(_translate_expr(q.prewhere)) + " ) AS BOOLEAN)")
    if q.where:
        wheres.append("CAST(( " + _emit(_translate_expr(q.where)) + " ) AS BOOLEAN)")
    if wheres:
        parts.append("WHERE " + " AND ".join(wheres))
    totals_bypass = None
    if q.group_by:
        keys = _emit(_translate_expr(q.group_by))
        if q.with_totals:
            if not _TOTALS_BLOCK_CTX.get():
                parts.append(f"GROUP BY GROUPING SETS (({keys}), ())")
            elif _QDEPTH.get() <= 1:
                # non-default totals_mode / group-by overflow settings
                # take a dedicated CTE plan (TotalsHavingTransform.cpp)
                special = _totals_mode_sql(
                    q, from_sql if q.from_ else "", wheres
                )
                if special is not None:
                    return special
                # outermost WITH TOTALS: tag the totals row so the script
                # runner can emit it as the reference's separate block
                # (regular rows, empty line, totals with key defaults);
                # totals_mode default is before_having — the totals row
                # bypasses HAVING.  grouping_id() (not grouping(expr))
                # also works for constant group keys.
                parts.append(f"GROUP BY GROUPING SETS (({keys}), ())")
                # constant-only grouping keys can yield a NULL
                # grouping_id for the global set — NULL means totals
                parts[0] += (
                    ", IF(coalesce(grouping_id(), 1) = 0, 0, 1)"
                    " AS __is_total"
                )
                totals_bypass = "coalesce(grouping_id(), 1) != 0"
            else:
                # subquery WITH TOTALS: row-reading consumers see only
                # the regular rows (TotalsHavingTransform keeps totals in
                # a side block) — plain GROUP BY is exactly that
                parts.append("GROUP BY " + keys)
        elif q.with_rollup:
            parts.append(f"GROUP BY {keys} WITH ROLLUP")
        elif q.with_cube:
            parts.append(f"GROUP BY {keys} WITH CUBE")
        else:
            parts.append("GROUP BY " + keys)
    if q.having:
        hv = "CAST(( " + _emit(_translate_expr(q.having)) + " ) AS BOOLEAN)"
        if totals_bypass:
            hv = f"({hv} OR {totals_bypass})"
        parts.append("HAVING " + hv)
    if q.fill:
        # ORDER BY col WITH FILL -> integer grid FULL JOIN around the
        # fill-less query: generated rows carry NULL in non-key columns
        # (the reference fills type defaults — documented divergence,
        # same as operators/modifiers.with_fill), original rows are
        # always kept, TO is exclusive.
        col, desc, spec = q.fill
        inner = " ".join(parts)
        lo = spec["from"] or f"(SELECT min({col}) FROM ( {inner} ))"
        hi = spec["to"] or f"(SELECT max({col}) FROM ( {inner} ))"
        step = spec["step"] or "1"
        # a Date/DateTime fill key grids over dates (sequence with a
        # day/second interval step) — casting to BIGINT would make the
        # join key incomparable with the column (00995/01034)
        env_g = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
        tc_g = _ch_type_of(tokenize(col.strip("`")), env_g) or ""
        base_g = _ch_unwrap(tc_g)
        if base_g == "Date" or _dt_kind(lo) == "date":
            grid = (
                f"SELECT explode(sequence(CAST(({lo}) AS DATE), "
                f"CAST(({hi}) AS DATE), "
                f"make_interval(0, 0, 0, CAST(({step}) AS INT)))) AS {col}"
            )
        elif base_g.startswith("DateTime") or _dt_kind(lo) == "ts":
            grid = (
                f"SELECT explode(sequence(CAST(({lo}) AS TIMESTAMP), "
                f"CAST(({hi}) AS TIMESTAMP), make_interval(0, 0, 0, 0, "
                f"0, 0, CAST(({step}) AS INT)))) AS {col}"
            )
        else:
            grid = (
                f"SELECT explode(sequence(CAST(({lo}) AS BIGINT), "
                f"CAST(({hi}) AS BIGINT), CAST(({step}) AS BIGINT))) AS {col}"
            )
        if spec["to"]:
            cmp_g = ">" if desc else "<"
            grid = (
                f"SELECT {col} FROM ( {grid} ) "
                f"WHERE {col} {cmp_g} ({spec['to']})"
            )
        names = _select_out_names(q.select)
        # generated rows carry the TYPE DEFAULT in non-key columns
        # (FillingTransform uses column defaults, not NULL)
        sel_parts_f = []
        env_f = _TYPE_ENV_CTX.get() or _TYPE_ENV_DEFAULT
        for nm_f, it_f in zip(names or [], _split_top(q.select, ",")):
            if nm_f.strip("`") == col.strip("`"):
                sel_parts_f.append(nm_f)
                continue
            core_f = (
                it_f[:-2]
                if len(it_f) >= 3 and _kw(it_f[-2]) == "AS"
                else it_f
            )
            t_f = _ch_type_of(core_f, env_f)
            d_f = _default_of_ch_type(t_f) if t_f else None
            if d_f is not None:
                sel_parts_f.append(
                    f"coalesce({nm_f}, {d_f}) AS {nm_f}"
                )
            else:
                sel_parts_f.append(nm_f)
        sel_list = (
            ", ".join(sel_parts_f) if names else "*"
        )
        # q.order_by still holds every sort item (fill modifiers stripped,
        # the fill key kept in place), so render it as-is
        order = (
            _emit(_translate_expr(q.order_by))
            if q.order_by
            else f"{col} {'DESC' if desc else 'ASC'}"
        )
        out = (
            f"SELECT {sel_list} FROM ( {grid} ) AS __fg "
            f"FULL JOIN ( {inner} ) AS __fs USING ({col}) "
            f"ORDER BY {order}"
        )
        if q.limit:
            out += " LIMIT " + _emit(_translate_expr(q.limit))
        if q.offset:
            out += " OFFSET " + _emit(_translate_expr(q.offset))
        return out
    if q.order_by:
        env = (
            _subquery_type_env(q.from_) if q.from_ else _TYPE_ENV_DEFAULT
        )
        parts.append("ORDER BY " + _order_by_sql(q.order_by, env))
    elif q.group_by and (
        q.with_cube or q.with_rollup
        or _kw(q.group_by[0]) in ("CUBE", "ROLLUP", "GROUPING")
    ):
        # no explicit ORDER BY: the reference emits finest grouping
        # level first, subtotals after (per-level blocks); Spark's
        # grouping-sets output order is arbitrary — pin the level order
        parts.append("ORDER BY grouping_id() ASC")
    if q.limit and totals_bypass:
        # LIMIT applies to the REGULAR rows only; the totals row rides
        # in its side block regardless (TotalsHavingTransform)
        n = _emit(_translate_expr(q.limit))
        inner = " ".join(parts)
        return (
            f"SELECT * EXCEPT (__trn) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY __is_total ORDER BY "
            f"monotonically_increasing_id()) AS __trn "
            f"FROM ( {inner} )) "
            f"WHERE coalesce(__is_total, 1) = 1 OR __trn <= ({n})"
        )
    if q.with_ties and q.limit and not q.order_by:
        # the reference rejects ties without a sort key (error 452)
        _raise_dialect(
            "LIMIT WITH TIES without ORDER BY (452)"
        )
    if q.with_ties and q.limit and q.order_by:
        # LIMIT [o,] n WITH TIES (LimitTransform.cpp with_ties): keep
        # every row whose sort key ties with the row at position o+n —
        # rank() <= o+n keeps exactly those groups — then drop the
        # first o rows by position.  Hidden __wto keys carry the sort
        # expressions through the projection (ORDER BY may reference
        # columns the select list doesn't expose).
        n_wt = _emit(_translate_expr(q.limit))
        if re.fullmatch(r"\d+", n_wt.strip()) and int(n_wt) > (1 << 31):
            n_wt = str(1 << 30)  # UInt64-max spelling of "unbounded"
        o_wt = (
            _emit(_translate_expr(q.offset)) if q.offset else "0"
        )
        ord_items = []
        hidden_wt = []
        sel_idx = next(
            (k for k, p in enumerate(parts) if p.startswith("SELECT")),
            0,
        )
        for k9, oi in enumerate(_split_top(q.order_by, ",")):
            dirn9 = []
            core9w = list(oi)
            while core9w and _kw(core9w[-1]) in (
                "ASC", "DESC", "FIRST", "LAST", "NULLS",
            ):
                dirn9.insert(0, _kw(core9w.pop()))
            oe9 = _emit(_translate_expr(core9w))
            parts[sel_idx] += f", ({oe9}) AS __wto{k9}"
            hidden_wt.append(f"__wto{k9}")
            ord_items.append((f"__wto{k9} " + " ".join(dirn9)).strip())
        ord_wt = ", ".join(ord_items)
        inner_wt = " ".join(parts)
        return (
            f"SELECT * EXCEPT ({', '.join(['__wt_rk', '__wt_rn', *hidden_wt])}) "
            f"FROM (SELECT *, rank() OVER (ORDER BY {ord_wt}) AS __wt_rk, "
            f"row_number() OVER (ORDER BY {ord_wt}) AS __wt_rn "
            f"FROM ( {inner_wt} )) "
            f"WHERE __wt_rk <= ({o_wt}) + ({n_wt}) AND __wt_rn > ({o_wt}) "
            f"ORDER BY {ord_wt}"
        )
    if q.limit:
        lim_sql = _emit(_translate_expr(q.limit))
        # LIMIT 18446744073709551615 (UInt64 max = "no limit"): Spark's
        # LIMIT literal must be a foldable INT and limit+offset must
        # stay under int32 max — clamp past-int32 (reference tests use
        # huge literals to mean "unbounded")
        if re.fullmatch(r"\d+", lim_sql.strip()) and int(lim_sql) > (
            (1 << 31) - 1
        ):
            lim_sql = str((1 << 30))
        parts.append("LIMIT " + lim_sql)
    if q.offset:
        parts.append("OFFSET " + _emit(_translate_expr(q.offset)))
    if (
        q.with_totals and not q.group_by
        and _TOTALS_BLOCK_CTX.get() and _QDEPTH.get() <= 1
    ):
        # group-less WITH TOTALS: the global aggregate IS its own
        # totals — one data row plus an identical totals block
        # (TotalsHavingTransform over the single overall group)
        core_t = " ".join(parts)
        return (
            f"SELECT *, 0 AS __is_total FROM ( {core_t} ) "
            f"UNION ALL SELECT *, 1 AS __is_total FROM ( {core_t} )"
        )
    return " ".join(parts)


def _order_by_sql(
    order_toks: list[str], env: dict[str, str] | None = None
) -> str:
    """Render ORDER BY items with the reference's NULL placement defaults
    (sortColumnDescription: NULLS LAST ascending, NULLS FIRST descending —
    the exact opposite of Spark's defaults), unless spelled explicitly.

    Float keys additionally pre-rank NaN ADJACENT to the NULL block
    (the reference sorts nan with the nulls; Spark sorts NaN greatest):
    a leading CASE rank puts NULL outermost, nan next, values last."""
    items = []
    for it in _split_top(order_toks, ","):
        if not it:
            continue
        has_nulls = any(_kw(t) == "NULLS" for t in it)
        has_collate = any(_kw(t) == "COLLATE" for t in it)
        if has_collate:
            # expr [ASC|DESC] COLLATE 'locale': ICU-ish two-level key —
            # primary case-folded (ru: ё files between е and ж, which
            # plain codepoint order gets wrong), tertiary lowercase
            # first (Columns/Collator.cpp via ICU; exact for the
            # corpus's single-character samples)
            ci = list(it)
            k9 = next(
                k for k, t9 in enumerate(ci) if _kw(t9) == "COLLATE"
            )
            loc9 = ci[k9 + 1].strip("'\"") if k9 + 1 < len(ci) else ""
            rest9 = ci[k9 + 2:]
            core9 = ci[:k9]
            dir9 = ""
            while core9 and _kw(core9[-1]) in ("ASC", "DESC"):
                dir9 = _kw(core9.pop())
            ce9 = _emit(_translate_expr(core9))
            t9c = _ch_type_of(core9, env or _TYPE_ENV_DEFAULT) or ""
            depth9 = 0
            u9c = _ch_unwrap(t9c)
            while u9c.startswith("Array("):
                depth9 += 1
                u9c = _ch_unwrap(u9c[6:-1])

            def _fold9(x: str) -> str:
                k = f"lower({x})"
                if loc9.startswith("ru"):
                    k = f"replace({k}, 'ё', concat('е', chr(1)))"
                return k

            # array elements compare with the FULL collation key per
            # element (primary, then case) before the next element —
            # encode both levels into one string per element so Spark's
            # lexicographic array ordering reproduces it; NULL elements
            # sort last via a high sentinel
            def _elem9(x: str) -> str:
                return (
                    f"coalesce(concat({_fold9(x)}, chr(1), "
                    f"IF({x} = lower({x}), '0', '1')), '￿')"
                )

            if depth9 == 1:
                key9 = f"transform({ce9}, __ce -> {_elem9('__ce')})"
            elif depth9 == 2:
                key9 = (
                    f"transform({ce9}, __ca -> "
                    f"transform(__ca, __ce -> {_elem9('__ce')}))"
                )
            else:
                key9 = _fold9(ce9)
            sfx9 = (" " + dir9 if dir9 else "") + (
                " " + _emit(rest9) if rest9 else ""
            )
            items.append((key9 + sfx9 + " NULLS LAST").strip())
            if depth9 == 0:
                items.append(
                    f"IF({ce9} = lower({ce9}), 0, 1){sfx9}".strip()
                )
            items.append((f"{ce9}{sfx9} NULLS LAST").strip())
            continue
        # strip trailing direction/nulls for type inference
        core = list(it)
        nulls_first = None
        while core and _kw(core[-1]) in ("ASC", "DESC", "FIRST", "LAST", "NULLS"):
            if _kw(core[-1]) == "FIRST":
                nulls_first = True
            if _kw(core[-1]) == "LAST":
                nulls_first = False
            core.pop()
        if nulls_first is None:
            nulls_first = False  # reference default: NULLS LAST
        sql_item = _emit(_translate_expr(it))
        if not has_nulls and not has_collate:
            sql_item += " NULLS LAST"
        t = _ch_type_of(core, env or _TYPE_ENV_DEFAULT)
        if t is not None and _ch_unwrap(t) in ("Float32", "Float64"):
            ce = _emit(_translate_expr(core))
            if nulls_first:
                rank = (
                    f"(CASE WHEN ({ce}) IS NULL THEN 0 "
                    f"WHEN isnan({ce}) THEN 1 ELSE 2 END)"
                )
            else:
                rank = (
                    f"(CASE WHEN ({ce}) IS NULL THEN 2 "
                    f"WHEN isnan({ce}) THEN 1 ELSE 0 END)"
                )
            items.append(rank)
        items.append(sql_item)
    return " , ".join(items)


def _render_with_limit_by(q: _Select) -> str:
    """LIMIT n BY cols -> row_number window wrapper (LimitByTransform.cpp
    semantics: dedup-to-n per key after ORDER BY, before final LIMIT)."""
    assert q.limit_by is not None
    n_expr, by_cols = q.limit_by
    # an alias on a BY expression (`LIMIT 1 BY 1 AS one`) names the key
    # for the select list; PARTITION BY takes the bare expression
    by_items = []
    for it in _split_top(by_cols, ","):
        if len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1]):
            it = it[:-2]
        by_items.append(_emit(_translate_expr(it)))
    by_sql = ", ".join(by_items)
    # without ORDER BY the reference keeps the first-encountered rows per
    # key (stream order, LimitByTransform.cpp); partition order stands in
    # for stream order — exact for the single-part/sorted-insert tables
    # the script engine produces
    ord_sql = (
        _emit(_translate_expr(q.order_by))
        if q.order_by
        else "monotonically_increasing_id()"
    )
    # BY/ORDER BY columns may be pruned by the projection (`SELECT x
    # ... LIMIT 1 BY y`): carry them through as hidden aliases the
    # window can reference, excluded again by the outer star
    hidden: list[str] = []
    sel2 = list(q.select)
    # DISTINCT dedups over the projection ALONE (DistinctTransform runs
    # before LimitByTransform); appending hidden key aliases to the
    # inner select would widen the dedup key, so for DISTINCT partition
    # directly over __q's columns instead (keys must be projected)
    if not q.distinct and not (
        len([t for t in q.select if t.strip()]) == 1 and q.select[0] == "*"
    ):
        for x9, bi in enumerate(by_items):
            sel2 += [",", f"({bi}) AS __lb{x9}"]
            hidden.append(f"__lb{x9}")
        by_sql = ", ".join(f"__lb{x9}" for x9 in range(len(by_items)))
        if q.order_by:
            ords: list[str] = []
            for x9, oi in enumerate(_split_top(q.order_by, ",")):
                dirn: list[str] = []
                while oi and _kw(oi[-1]) in (
                    "ASC", "DESC", "FIRST", "LAST", "NULLS",
                ):
                    dirn.insert(0, _kw(oi.pop()))
                oe = _emit(_translate_expr(oi))
                sel2 += [",", f"({oe}) AS __lo{x9}"]
                hidden.append(f"__lo{x9}")
                ords.append((f"__lo{x9} " + " ".join(dirn)).strip())
            ord_sql = ", ".join(ords)
    inner = _Select(
        select=sel2, distinct=q.distinct, from_=q.from_,
        prewhere=q.prewhere, where=q.where, group_by=q.group_by,
        with_totals=q.with_totals, with_rollup=q.with_rollup,
        with_cube=q.with_cube, having=q.having,
    )
    inner_sql = _render(inner)
    # LIMIT o, n BY cols: skip the first o rows per key
    np = n_expr.split(",")
    if len(np) == 2:
        cond = (
            f"__rn > ({np[0].strip()}) "
            f"AND __rn <= ({np[0].strip()}) + ({np[1].strip()})"
        )
    else:
        cond = f"__rn <= {n_expr}"
    out = (
        f"SELECT * EXCEPT ({', '.join(['__rn', *hidden])}) FROM ("
        f"SELECT __q.*, row_number() OVER "
        f"(PARTITION BY {by_sql} ORDER BY {ord_sql}) AS __rn "
        f"FROM ( {inner_sql} ) AS __q"
        f") WHERE {cond}"
    )
    out += f" ORDER BY {ord_sql}"
    if q.limit:
        out += " LIMIT " + _emit(_translate_expr(q.limit))
    if q.offset:
        out += " OFFSET " + _emit(_translate_expr(q.offset))
    return out


_JOIN_EDGE_KW = {
    "JOIN", "ANY", "ASOF", "SEMI", "ANTI", "LEFT", "RIGHT", "INNER",
    "FULL", "CROSS", "GLOBAL", "ALL", "ARRAY",
}


def _from_item_cols(src: list[str]) -> dict[str, str] | None:
    """Ordered column -> default map for a FROM item whose shape makes
    the list derivable: inline subquery, numbers/one virtual tables, or
    a script table with a registered schema.  None when unknown."""
    if src and src[0] == "(":
        close = _match_paren(src, 0)
        inner = src[1:close]
        if inner and _kw(inner[0]) in ("SELECT", "WITH"):
            if any(_kw(t) in _TRANSFORMER_KWS for t in inner):
                # transformers rename/drop the subquery's outputs —
                # expand them first so the derived list is the real one
                try:
                    qi = _parse_select(list(inner))
                    _column_transformers(qi)
                    return _subq_cols(["SELECT", *qi.select])
                except Exception:  # noqa: BLE001
                    pass
            return _subq_cols(inner)
        return None
    txt = "".join(t.strip("`") for t in src)
    if txt in ("system.numbers", "system.numbers_mt") or re.match(
        r"^numbers(_mt)?\(", txt
    ):
        return {"number": "0"}
    if txt == "system.one":
        return {"dummy": "0"}
    schemas = _SCRIPT_SCHEMAS_CTX.get() or {}
    if txt in schemas:
        return {c: d for c, _, d in schemas[txt]}
    return None


def _split_single_join(f: list[str]) -> tuple[
    list[str], list[str], list[str], list[str]
] | None:
    """Split a FROM clause with exactly ONE top-level JOIN into
    (left_item, join_words, right_item(+alias), tail).  None when the
    shape is anything else."""
    n = len(f)
    join_at = -1
    for i, t in _top_level(f, brackets="("):
        if _kw(t) == "JOIN":
            if join_at >= 0:
                return None
            join_at = i
        elif t == "," and join_at < 0:
            return None  # comma join (commas after the JOIN belong to
            # a bare USING key list)
    if join_at < 0:
        return None
    # join words run backwards over the modifier keywords
    ws = join_at
    while ws > 0 and _kw(f[ws - 1]) in (
        "ANY", "ALL", "LEFT", "RIGHT", "INNER", "FULL", "OUTER", "GLOBAL",
        "SEMI", "ANTI", "ASOF", "CROSS",
    ):
        ws -= 1
    left = f[:ws]
    words = f[ws : join_at + 1]
    # right item: source (+ optional alias), then ON/USING tail
    k = join_at + 1
    if k < n and f[k] == "(":
        k = _match_paren(f, k) + 1
    else:
        while k < n and (
            (_is_ident(f[k]) and _kw(f[k]) not in _SQL_KEYWORDS)
            or f[k] == "."
        ):
            k += 1
        # table-function args: numbers(3) / values(...) (01117)
        if k < n and f[k] == "(" and k > join_at + 1:
            k = _match_paren(f, k) + 1
    if k < n and _kw(f[k]) == "AS":
        k += 1
        if k < n:
            k += 1
    elif k < n and _is_ident(f[k]) and _kw(f[k]) not in _SQL_KEYWORDS:
        k += 1
    return left, words, f[join_at + 1 : k], f[k:]


def _using_alias_rewrite(q: _Select) -> None:
    """The reference resolves ``USING k`` against the SELECT list's
    aliases too: ``SELECT 1 AS k FROM t JOIN u USING k`` joins on the
    computed k even when t has no such column
    (Interpreters/TranslateQualifiedNamesVisitor).  Spark's USING demands
    a real left column — when a USING key is a select-list alias and the
    left FROM item's columns are known not to include it, wrap the left
    item so the alias becomes a column: ``(SELECT __l.*, 1 AS k FROM t
    AS __l)``."""
    f = q.from_
    if "USING" not in {_kw(t) for t in f}:
        return
    # select-list aliases: name -> expression tokens
    aliases: dict[str, list[str]] = {}
    for item in _split_top(q.select, ","):
        if len(item) >= 3 and _kw(item[-2]) == "AS" and _is_ident(item[-1]):
            aliases[item[-1].strip("`")] = item[:-2]
    if not aliases:
        return
    # first FROM item: source tokens [+ AS alias], up to the first join kw
    n = len(f)
    if f and f[0] == "(":
        src_end = _match_paren(f, 0) + 1
    else:
        src_end = 0
        while src_end < n and not (
            _kw(f[src_end]) in _JOIN_EDGE_KW or f[src_end] == ","
        ):
            src_end += 1
        # a trailing bare alias is part of the item
    item_end = src_end
    alias_toks: list[str] = []
    if item_end < n and _kw(f[item_end]) == "AS":
        alias_toks = f[item_end : item_end + 2]
        item_end += 2
    elif (
        f and f[0] == "(" and item_end < n and _is_ident(f[item_end])
        and _kw(f[item_end]) not in _JOIN_EDGE_KW | _SQL_KEYWORDS
    ):
        alias_toks = [f[item_end]]
        item_end += 1
    src = f[:src_end]
    if f and f[0] == "(":
        src_txt = ""
        left_cols = set(_subq_cols(f[1 : src_end - 1]))
    else:
        # strip the alias off a bare-name item: `system.one AS xxx`
        if len(src) >= 2 and _kw(src[-2]) == "AS":
            alias_toks = src[-2:]
            src = src[:-2]
        src_txt = "".join(t.strip("`") for t in src)
        if src_txt in ("system.numbers", "system.numbers_mt") or re.match(
            r"^numbers(_mt)?\(", src_txt
        ):
            left_cols = {"number"}
        elif src_txt == "system.one":
            left_cols = {"dummy"}
        else:
            schemas = _SCRIPT_SCHEMAS_CTX.get() or {}
            if src_txt in schemas:
                left_cols = {c[0] for c in schemas[src_txt]}
            else:
                return  # unknown left side — leave untouched
    # USING keys at depth 0
    keys: list[str] = []
    depth = 0
    j = 0
    while j < n:
        tk = f[j]
        if tk == "(":
            depth += 1
        elif tk == ")":
            depth -= 1
        elif depth == 0 and _kw(tk) == "USING":
            k = j + 1
            if k < n and f[k] == "(":
                kc = _match_paren(f, k)
                keys += [x.strip("`") for x in f[k + 1 : kc] if _is_ident(x)]
                j = kc
            else:
                while k < n and (_is_ident(f[k]) or f[k] == ","):
                    if _kw(f[k]) in _SQL_KEYWORDS and f[k] != ",":
                        break
                    if f[k] != ",":
                        keys.append(f[k].strip("`"))
                    k += 1
                j = k
        j += 1
    missing = [
        k for k in keys if k in aliases and k not in left_cols
    ]
    if not missing:
        return
    add: list[str] = []
    for k in missing:
        add += [","] + aliases[k] + ["AS", k]
    # no inner alias: bare names need none, and the system.numbers /
    # system.one expansions arrive self-aliased
    wrapped = ["(", "SELECT", "*"] + add + ["FROM"] + src + [")"]
    if not alias_toks and src and src[0] != "(":
        # Spark wants an alias on a FROM subquery; reuse the table name
        # so qualified references keep resolving
        bare = src_txt.split(".")[-1].split("(")[0]
        if bare and _is_ident(bare):
            alias_toks = ["AS", bare]
    q.from_ = wrapped + alias_toks + f[item_end:]


def _item_src_alias(item: list[str]) -> tuple[list[str], str]:
    """Split a FROM item into (source tokens, alias); bare tables use
    their own (unqualified) name as the alias."""
    src = list(item)
    alias = ""
    if len(src) >= 2 and _kw(src[-2]) == "AS":
        alias, src = src[-1].strip("`"), src[:-2]
    elif (
        src and src[0] == "(" and _is_ident(src[-1])
        and _match_paren(src, 0) < len(src) - 1
    ):
        alias, src = src[-1].strip("`"), src[:-1]
    elif (
        src and src[0] != "(" and len(src) > 1 and _is_ident(src[-1])
        and src[-2] != "."
        and _kw(src[-1]) not in _SQL_KEYWORDS
    ):
        alias, src = src[-1].strip("`"), src[:-1]
    if not alias and src and src[0] != "(":
        alias = "".join(t.strip("`") for t in src).split(".")[-1]
    return src, alias


def _orig_table_alias_rewrite(q: _Select) -> None:
    """The reference lets a qualified column use the ORIGINAL table
    name even when the table carries an alias (`FROM t AS l ... SELECT
    t.x` — TranslateQualifiedNamesMatcher::canRewriteTable /
    DatabaseAndTableWithAlias): rewrite `t.x` -> `l.x` so Spark's
    resolver (which hides the base name behind the alias) accepts it.
    Names that appear under two different aliases (self-join) stay
    untouched — the reference errors there too."""
    f = q.from_
    if not f or "." not in (
        q.select + q.where + q.prewhere + q.group_by + q.having
        + q.order_by
    ):
        return
    pairs: dict[str, set[str]] = {}
    aliases: set[str] = set()
    for j, t in _top_level(f):
        if _kw(t) == "AS" and 0 < j < len(f) - 1:
            alias = f[j + 1].strip("`")
            aliases.add(alias)
            if not _is_ident(f[j - 1]) or f[j - 1] == ")":
                continue
            name = f[j - 1].strip("`")
            if _kw(f[j - 1]) in _SQL_KEYWORDS:
                continue
            # subquery alias: `( ... ) AS x` — nothing to map
            if j >= 2 and f[j - 2] == ")":
                continue
            pairs.setdefault(name, set()).add(alias)
            # db-qualified source: map `db.name` too
            if j >= 3 and f[j - 2] == "." and _is_ident(f[j - 3]):
                pairs.setdefault(
                    f[j - 3].strip("`") + "." + name, set()
                ).add(alias)
    remap = {
        n: next(iter(al)) for n, al in pairs.items()
        if len(al) == 1 and n not in aliases
        and next(iter(al)) != n
    }
    if not remap:
        return

    def subst(ts: list[str]) -> list[str]:
        res: list[str] = []
        j = 0
        while j < len(ts):
            t = ts[j]
            prev = res[-1] if res else ""
            name = t.strip("`")
            hit = None
            # db . name . col
            if (
                j + 4 < len(ts) and ts[j + 1] == "." and ts[j + 3] == "."
                and _is_ident(ts[j + 2])
                and name + "." + ts[j + 2].strip("`") in remap
                and prev != "." and _kw(prev) != "AS"
            ):
                hit = (remap[name + "." + ts[j + 2].strip("`")], 3)
            elif (
                j + 2 < len(ts) and ts[j + 1] == "."
                and name in remap
                and (_is_ident(ts[j + 2]) or ts[j + 2] == "*")
                and prev != "." and _kw(prev) != "AS"
                # not itself a db qualifier of something else
                and not (
                    j + 4 < len(ts) and ts[j + 3] == "."
                    and _is_ident(ts[j + 2])
                )
            ):
                hit = (remap[name], 1)
            if hit is not None:
                # replace the (possibly db-qualified) table name with
                # the alias; the `. col` tail copies on the next loops
                res.append(hit[0])
                j += hit[1]
            else:
                res.append(t)
                j += 1
        return res

    q.select = subst(q.select)
    q.where = subst(q.where)
    q.prewhere = subst(q.prewhere)
    q.group_by = subst(q.group_by)
    q.having = subst(q.having)
    q.order_by = subst(q.order_by)
    # JOIN ON conditions may use the original names too; the definition
    # sites (`name AS alias`) are immune — their next token is AS
    q.from_ = subst(q.from_)


def _dotted_column_rewrite(q: _Select) -> None:
    """A flattened Nested member is ONE column whose name contains a
    dot (`c.d Array(Date)` — NestedUtils.h flatten): a `c . d` token
    triple that matches such a column is that column, not a table
    qualification.  Backquote it so Spark reads the literal name.
    Qualifiers that are actual FROM aliases are left alone."""
    dotted = _dotted_cols()
    if not dotted or not q.from_:
        return
    quals = {d.split(".", 1)[0] for d in dotted}
    # FROM aliases shadow the Nested qualifier
    aliases: set[str] = set()
    f = q.from_
    for j, t in enumerate(f):
        if _kw(t) == "AS" and j + 1 < len(f):
            aliases.add(f[j + 1].strip("`"))
    # ARRAY JOIN items joust with these refs — that path has its own
    # dotted handling (_apply_array_join/_subst_dotted)
    aj_names: set[str] = set()
    if q.array_join:
        for p in _split_top(q.array_join[1], ","):
            for t in p:
                aj_names.add(t.strip("`"))

    def subst(ts: list[str]) -> list[str]:
        res: list[str] = []
        j = 0
        while j < len(ts):
            t = ts[j]
            nm = t.strip("`")
            if (
                nm in quals and nm not in aliases and nm not in aj_names
                and j + 2 < len(ts) and ts[j + 1] == "."
                and _is_ident(ts[j + 2])
                and f"{nm}.{ts[j + 2].strip('`')}" in dotted
                and (not res or res[-1] != ".")
                and (j + 3 >= len(ts) or ts[j + 3] != "(")
            ):
                res.append(f"`{nm}.{ts[j + 2].strip('`')}`")
                j += 3
            else:
                res.append(t)
                j += 1
        return res

    q.select = subst(q.select)
    q.where = subst(q.where)
    q.prewhere = subst(q.prewhere)
    q.group_by = subst(q.group_by)
    q.having = subst(q.having)
    q.order_by = subst(q.order_by)


def _on_alias_rewrite(q: _Select) -> None:
    """SELECT-list aliases are visible inside JOIN ON in the reference
    (`select t1.a t1_a ... join t2 on t1_a = t2.a` — QueryNormalizer
    resolves aliases query-wide); Spark's ON scope has no projection
    aliases, so inline the defining expression."""
    f = q.from_
    if not f or not q.select:
        return
    on_at = [j for j, t in _top_level(f) if _kw(t) == "ON"]
    if not on_at:
        return
    amap: dict[str, list[str]] = {}
    for it in _split_top(q.select, ","):
        if len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1]):
            amap[it[-1].strip("`")] = it[:-2]
        elif (
            len(it) >= 2 and _is_ident(it[-1]) and it[-2] != "."
            and _kw(it[-1]) not in _SQL_KEYWORDS
            and not (it[-1] in amap)
        ):
            # implicit trailing alias: `t1.a t1_a`
            amap[it[-1].strip("`")] = it[:-1]
    if not amap:
        return
    # substitute ONLY inside ON expression spans — a bare ident in
    # relation position (the alias in `) d ON ...` / `tbl d`) must
    # survive (00917: `d.ANIMAL d` must not eat subquery alias d)
    jch = {
        "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS",
        "SEMI", "ANTI", "ASOF", "ANY", "ALL", "GLOBAL", "USING",
        "ARRAY", "WHERE", "PREWHERE",
    }
    spans: list[tuple[int, int]] = []
    for j in on_at:
        k = next(
            (k for k, t in _top_level(f, j + 1) if _kw(t) in jch or t == ","),
            len(f),
        )
        spans.append((j + 1, k))
    res: list[str] = []
    for j, t in enumerate(f):
        nm = t.strip("`")
        prev = f[j - 1] if j else ""
        nxt = f[j + 1] if j + 1 < len(f) else ""
        if (
            any(a <= j < b for a, b in spans)
            and nm in amap and _is_ident(t) and prev != "."
            and _kw(prev) != "AS" and nxt not in (".", "(")
        ):
            res += ["(", *amap[nm], ")"]
        else:
            res.append(t)
    q.from_ = res


def _using_qualified_rewrite(q: _Select) -> None:
    """Spark's USING join hides the non-surviving side's qualified key
    (`X.id` after `X RIGHT JOIN Y USING (id)` is unresolvable); the
    reference keeps every side addressable.  When the select references
    a qualified KEY (or a qualified star) over a single USING join,
    lower USING to the equivalent ON condition — the default-fill and
    ambiguity passes then supply the reference's left-biased, type-
    default-filled semantics."""
    parts = _split_single_join(q.from_)
    if not parts:
        return
    left, words, right, tail = parts
    if not tail or _kw(tail[0]) != "USING":
        return
    if any(_kw(w) in ("ANY", "ASOF", "SEMI", "ANTI", "CROSS") for w in words):
        return
    j = 1
    keys: list[str] = []
    if j < len(tail) and tail[j] == "(":
        close = _match_paren(tail, j)
        seg = tail[j + 1 : close]
        rest = tail[close + 1 :]
    else:
        seg = []
        while j < len(tail) and (
            (_is_ident(tail[j]) and _kw(tail[j]) not in _SQL_KEYWORDS)
            or tail[j] == ","
        ):
            seg.append(tail[j])
            j += 1
        rest = tail[j:]
    for p in _split_top(seg, ","):
        if len(p) == 1 and _is_ident(p[0]):
            keys.append(p[0].strip("`"))
        else:
            return  # USING with expressions/AS keys: other machinery
    if not keys:
        return
    lsrc, lalias = _item_src_alias(left)
    rsrc, ralias = _item_src_alias(right)
    if not lalias or not ralias or lalias == ralias:
        return
    want = False
    for ts in (q.select, q.where, q.group_by, q.having, q.order_by):
        for k2, t2 in enumerate(ts):
            if (
                t2.strip("`") in (lalias, ralias)
                and k2 + 2 < len(ts) and ts[k2 + 1] == "."
                and (ts[k2 + 2] == "*" or ts[k2 + 2].strip("`") in keys)
                and (k2 == 0 or ts[k2 - 1] != ".")
            ):
                want = True
    if not want:
        return
    # a BARE key reference needs the ambiguity pass after the rewrite,
    # which needs both column lists derivable — otherwise keep USING
    # (Spark resolves the bare name there natively)
    bare_key = any(
        t2.strip("`") in keys
        and (k2 == 0 or (ts[k2 - 1] != "." and _kw(ts[k2 - 1]) != "AS"))
        and (k2 + 1 >= len(ts) or ts[k2 + 1] not in (".", "("))
        for ts in (q.select, q.where, q.group_by, q.having, q.order_by)
        for k2, t2 in enumerate(ts)
    )
    if bare_key and (
        _from_item_cols(lsrc) is None or _from_item_cols(rsrc) is None
    ):
        return
    # `select *` would change shape under ON (keys no longer deduped)
    for k2, t2 in _top_level(q.select):
        if t2 == "*" and (
            k2 == 0 or q.select[k2 - 1] != "."
        ):
            return
    cond: list[str] = []
    for k3 in keys:
        if cond:
            cond.append("AND")
        cond += [lalias, ".", f"`{k3}`", "=", ralias, ".", f"`{k3}`"]
    q.from_ = left + words + right + ["ON", *cond, *rest]


def _qualify_ambiguous(q: _Select) -> None:
    """Unqualified column names that exist on BOTH sides of a join
    resolve to the LEFT side in the reference
    (TranslateQualifiedNamesVisitor); Spark raises AMBIGUOUS_REFERENCE.
    Qualify such bare references with the left alias when both column
    lists are derivable."""
    parts = _split_single_join(q.from_)
    if not parts:
        return
    left, _, right, tail = parts
    lsrc, lalias = _item_src_alias(left)
    rsrc, _ = _item_src_alias(right)
    if not lalias:
        return
    lcols = _from_item_cols(lsrc)
    rcols = _from_item_cols(rsrc)
    if not lcols or not rcols:
        return
    keys: set[str] = set()
    for j, t in enumerate(tail):
        if _kw(t) == "USING":
            k = j + 1
            if k < len(tail) and tail[k] == "(":
                keys = {
                    x.strip("`") for x in tail[k + 1 : _match_paren(tail, k)]
                    if _is_ident(x)
                }
            else:
                while k < len(tail) and (_is_ident(tail[k]) or tail[k] == ","):
                    if _kw(tail[k]) in _SQL_KEYWORDS and tail[k] != ",":
                        break
                    if tail[k] != ",":
                        keys.add(tail[k].strip("`"))
                    k += 1
            break
    both = (set(lcols) & set(rcols)) - keys
    if not both:
        return

    def subst(ts: list[str]) -> list[str]:
        res: list[str] = []
        for j, t in enumerate(ts):
            name = t.strip("`")
            prev = ts[j - 1] if j > 0 else ""
            nxt = ts[j + 1] if j + 1 < len(ts) else ""
            if (
                name in both
                and prev != "."
                and _kw(prev) != "AS"
                and nxt not in (".", "(")
            ):
                res += [lalias, ".", t]
            else:
                res.append(t)
        return res

    q.select = subst(q.select)
    q.where = subst(q.where)
    q.prewhere = subst(q.prewhere)
    q.group_by = subst(q.group_by)
    q.having = subst(q.having)
    q.order_by = subst(q.order_by)




def _split_from_alias(
    item: list[str], default_name: str
) -> tuple[list[str], str]:
    """Split one FROM item into (source tokens, effective alias) —
    trailing explicit alias (with or without AS), else the bare table
    name, else ``default_name``."""
    src2 = list(item)
    alias = None
    if len(src2) >= 2 and _kw(src2[-2]) == "AS":
        alias, src2 = src2[-1], src2[:-2]
    elif (
        src2 and src2[0] == "(" and _is_ident(src2[-1])
        and _match_paren(src2, 0) < len(src2) - 1
    ):
        alias, src2 = src2[-1], src2[:-1]
    elif (
        src2 and src2[0] != "(" and len(src2) > 1
        and _is_ident(src2[-1]) and src2[-2] != "."
    ):
        alias, src2 = src2[-1], src2[:-1]
    if alias is None:
        bare = "".join(x.strip("`") for x in src2).split(".")[-1]
        alias = bare if _is_ident(bare) else default_name
    return src2, alias.strip("`")


def _semi_anti_both_sides_rewrite(q: "_Select") -> None:
    """The reference's SEMI/ANTI joins output BOTH sides (HashJoin.h
    JoinKind Semi/Anti): SEMI LEFT keeps left rows with a match plus the
    FIRST matching right row's columns (right insertion order); SEMI
    RIGHT mirrors; ANTI LEFT keeps matchless left rows with right
    columns = type defaults except USING keys (which echo the left
    value); ANTI RIGHT keeps matchless right rows with left columns all
    defaults.  Spark's LEFT SEMI/ANTI return one side only — rewrite
    when the other side is referenced (and always for RIGHT variants,
    which Spark lacks)."""
    parts = _split_single_join(q.from_)
    if not parts:
        return
    left, words, right, tail = parts
    kws = {_kw(w) for w in words}
    which = "SEMI" if "SEMI" in kws else ("ANTI" if "ANTI" in kws else None)
    if which is None:
        return
    rightward = "RIGHT" in kws
    # USING keys (ON forms keep the existing one-sided path)
    keys: list[str] = []
    for j, t in enumerate(tail):
        if _kw(t) == "USING":
            k = j + 1
            if k < len(tail) and tail[k] == "(":
                keys = [
                    x.strip("`") for x in tail[k + 1 : _match_paren(tail, k)]
                    if _is_ident(x)
                ]
            else:
                while k < len(tail) and (_is_ident(tail[k]) or tail[k] == ","):
                    if _kw(tail[k]) in _SQL_KEYWORDS and tail[k] != ",":
                        break
                    if tail[k] != ",":
                        keys.append(tail[k].strip("`"))
                    k += 1
            break
    if not keys:
        return
    lsrc, lalias = _split_from_alias(left, "__sa_l")
    rsrc, ralias = _split_from_alias(right, "__sa_r")
    other = ralias if not rightward else lalias
    refs_other = any(
        q.select[j].strip("`") == other
        and j + 1 < len(q.select) and q.select[j + 1] == "."
        for j in range(len(q.select))
    )
    if not rightward and not refs_other:
        return  # Spark's one-sided LEFT SEMI/ANTI suffices
    lcols = _from_item_cols(lsrc)
    rcols = _from_item_cols(rsrc)
    if lcols is None or rcols is None:
        return
    if which == "SEMI":
        # dedup the non-driving side to its first row per key, then a
        # plain INNER join — one output row per driving-side match
        dd_src, dd_alias, dd_cols = (
            (rsrc, ralias, rcols) if not rightward else (lsrc, lalias, lcols)
        )
        col_list = ", ".join(f"`{c}`" for c in dd_cols)
        key_list = ", ".join(f"`{k}`" for k in keys)
        sub = tokenize(
            f"( SELECT {col_list} FROM ( SELECT *, row_number() OVER "
            f"(PARTITION BY {key_list} "
            f"ORDER BY monotonically_increasing_id()) AS __sa_rn "
            f"FROM {' '.join(dd_src)} ) WHERE __sa_rn = 1 ) AS {dd_alias}"
        )
        # driving side carries a stream id so an ORDER BY with ties
        # falls back to the reference's insertion order
        drv_src, drv_alias = (lsrc, lalias) if not rightward else (rsrc, ralias)
        drv = tokenize(
            f"( SELECT *, monotonically_increasing_id() AS __sa_id "
            f"FROM {' '.join(drv_src)} ) AS {drv_alias}"
        )
        if rightward:
            q.from_ = sub + ["INNER", "JOIN"] + drv + tail
        else:
            q.from_ = drv + ["INNER", "JOIN"] + sub + tail
        if q.order_by:
            q.order_by = q.order_by + [",", "`__sa_id`"]
        # the id column must not leak through `alias.*`
        drv_cols = lcols if not rightward else rcols
        sel: list[str] = []
        j2 = 0
        while j2 < len(q.select):
            if (
                q.select[j2].strip("`") == drv_alias
                and j2 + 2 < len(q.select) and q.select[j2 + 1] == "."
                and q.select[j2 + 2] == "*"
            ):
                sel += tokenize(", ".join(
                    f"{drv_alias}.`{c}`" for c in drv_cols
                ))
                j2 += 3
                continue
            sel.append(q.select[j2])
            j2 += 1
        q.select = sel
        return
    # ANTI: keep the one-sided Spark anti join, synthesize the missing
    # side's columns in every clause that references them
    miss_alias, miss_cols = (
        (ralias, rcols) if not rightward else (lalias, lcols)
    )
    kept_alias = lalias if not rightward else ralias

    def col_expr(c: str) -> str:
        if c in keys and not rightward:
            return f"{kept_alias}.`{c}`"
        d = str(miss_cols[c])
        # coalesce wrapper: a bare integer default in ORDER BY position
        # would read as a positional ordinal
        return f"coalesce({d}, {d})"

    def subst(ts: list[str]) -> list[str]:
        res: list[str] = []
        j = 0
        while j < len(ts):
            if (
                ts[j].strip("`") == miss_alias and j + 2 < len(ts)
                and ts[j + 1] == "."
            ):
                tgt = ts[j + 2]
                if tgt == "*":
                    exp = ", ".join(
                        f"{col_expr(c)} AS `{c}`" for c in miss_cols
                    )
                    res += tokenize(exp)
                else:
                    res += tokenize(f"( {col_expr(tgt.strip(chr(96)))} )")
                j += 3
                continue
            res.append(ts[j])
            j += 1
        return res

    q.select = subst(q.select)
    q.where = subst(q.where)
    q.prewhere = subst(q.prewhere)
    q.group_by = subst(q.group_by)
    q.having = subst(q.having)
    q.order_by = subst(q.order_by)
    if rightward:
        q.from_ = right + ["ANTI", "LEFT", "JOIN"] + left + tail



def _single_from_names(q: _Select) -> set[str]:
    """Names a qualified `x.*` matcher may legally use for an un-joined
    FROM item: the trailing alias if present, else the table's own
    (undotted) name.  Empty for joins / underivable items."""
    f = list(q.from_ or [])
    if any(_kw(t) == "JOIN" for _, t in _top_level(f)):
        return set()
    src = f
    if len(src) >= 2 and _kw(src[-2]) == "AS" and _is_ident(src[-1]):
        return {src[-1].strip("`")}
    if (
        len(src) >= 2 and _is_ident(src[-1])
        and _kw(src[-1]) not in _SQL_KEYWORDS
        and (src[-2] == ")" or (_is_ident(src[-2]) and src[-2] != "."))
    ):
        return {src[-1].strip("`")}
    if src and _is_ident(src[-1]):
        return {src[-1].strip("`")}
    # a TVF keeps its function name as the qualifier (FROM numbers(3))
    if len(src) >= 2 and _is_ident(src[0]) and src[1] == "(":
        return {src[0].strip("`")}
    return set()


def _qcols_universe(q: _Select) -> list[tuple[str, str]] | None:
    """Ordered (qualified, bare) column universe of q's FROM clause:
    the single FROM item, or every join item in order with
    alias-qualified names (the reference expands matchers over ALL
    joined sources, 01839).  None when any item's columns are
    underivable."""
    qcols: list[tuple[str, str]] = []
    f9 = list(q.from_ or [])
    has_join9 = any(_kw(t) == "JOIN" for _, t in _top_level(f9))
    if not has_join9:
        src = f9
        if len(src) >= 2 and _kw(src[-2]) == "AS" and _is_ident(src[-1]):
            src = src[:-2]
        elif (
            len(src) >= 2 and _is_ident(src[-1])
            and _kw(src[-1]) not in _SQL_KEYWORDS
            and (src[-2] == ")" or (_is_ident(src[-2]) and src[-2] != "."))
        ):
            src = src[:-1]  # bare trailing alias (`FROM t a`)
        cols = _from_item_cols(src)
        if cols is None:
            return None
        return [(c, c) for c in cols]
    # split at depth-0 JOIN keywords; per item, strip join words,
    # the ON tail, and pull a trailing alias
    items9: list[list[str]] = []
    last9 = 0
    for j9, t in _top_level(f9, brackets="("):
        if _kw(t) == "JOIN":
            items9.append(f9[last9:j9])
            last9 = j9 + 1
    items9.append(f9[last9:])
    _JW9 = {"LEFT", "RIGHT", "FULL", "INNER", "OUTER", "CROSS",
            "ANY", "ALL", "SEMI", "ANTI", "ASOF", "GLOBAL"}
    for it9 in items9:
        # drop trailing join-kind words and the ON condition
        for k9, t9 in _top_level(it9):
            if _kw(t9) == "ON":
                it9 = it9[:k9]
                break
        while it9 and _kw(it9[-1]) in _JW9:
            it9 = it9[:-1]
        alias9 = ""
        src9 = list(it9)
        if len(src9) >= 2 and _kw(src9[-2]) == "AS" and _is_ident(src9[-1]):
            alias9, src9 = src9[-1], src9[:-2]
        elif (
            len(src9) >= 2 and _is_ident(src9[-1])
            and _kw(src9[-1]) not in _SQL_KEYWORDS
            and (src9[-2] == ")" or (_is_ident(src9[-2]) and src9[-2] != "."))
        ):
            alias9, src9 = src9[-1], src9[:-1]
        cs9 = _from_item_cols(src9)
        if cs9 is None:
            return None
        for c9 in cs9:
            qcols.append((f"{alias9}.{c9}" if alias9 else c9, c9))
    return qcols


#: column transformer keywords (ASTColumnsTransformers.cpp)
_TRANSFORMER_KWS = ("APPLY", "EXCEPT", "REPLACE")


def _col_ref_toks(qc: str) -> list[str]:
    """Reference a universe column as tokens: plain (possibly
    qualified) identifiers tokenize; anything else (a subquery output
    named after its expression text) must stay ONE quoted token."""
    if re.fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?", qc
    ):
        return tokenize(qc)
    return [f"`{qc}`"]


def _transformer_name_list(
    it: list[str], k: int
) -> tuple[list[str], int]:
    """EXCEPT's `(a, b)` or bare single identifier."""
    if k < len(it) and it[k] == "(":
        close = _match_paren(it, k)
        names: list[str] = []
        for p in _split_top(it[k + 1 : close], ","):
            if len(p) != 1 or not _is_ident(p[0]):
                raise DialectError("EXCEPT: expected identifiers")
            names.append(p[0].strip("`"))
        return names, close + 1
    if k < len(it) and _is_ident(it[k]) and _kw(it[k]) not in _TRANSFORMER_KWS:
        return [it[k].strip("`")], k + 1
    raise DialectError("EXCEPT: expected a column list")


def _transformer_replace_list(
    it: list[str], k: int
) -> tuple[list[tuple[list[str], str]], int]:
    """REPLACE's `(expr AS name, ...)` or bare `expr AS name` (the
    bare form runs to the next transformer keyword)."""
    if k < len(it) and it[k] == "(":
        close = _match_paren(it, k)
        parts = _split_top(it[k + 1 : close], ",")
        k2 = close + 1
    else:
        j = k
        while j < len(it) and _kw(it[j]) not in _TRANSFORMER_KWS:
            j += 1
        parts, k2 = [it[k:j]], j
    reps: list[tuple[list[str], str]] = []
    for p in parts:
        if len(p) >= 3 and _kw(p[-2]) == "AS" and _is_ident(p[-1]):
            reps.append((p[:-2], p[-1].strip("`")))
        else:
            raise DialectError("REPLACE: expected `expr AS column`")
    return reps, k2


def _column_transformers(q: _Select) -> None:
    """Column transformers `* | t.* | COLUMNS(...) APPLY/EXCEPT/REPLACE
    ...` (src/Parsers/ASTColumnsTransformers.cpp; TreeRewriter expands
    them before analysis).  APPLY wraps each matched column (updating
    its NAME to the wrapped spelling, so later EXCEPT/REPLACE no longer
    match the bare name); EXCEPT drops by name; REPLACE swaps the
    expression while keeping the name, substituting the current
    expression for self-references.  STRICT demands every listed name
    matched (reference error 16); a doubly-replaced column is error
    43."""
    sel = q.select
    if not any(_kw(t) in _TRANSFORMER_KWS for t in sel):
        return

    def _matcher_end(it: list[str]) -> int | None:
        if not it:
            return None
        if it[0] == "*":
            return 1
        if (
            len(it) >= 3 and _is_ident(it[0]) and it[1] == "."
            and it[2] == "*"
        ):
            return 3
        if _kw(it[0]) == "COLUMNS" and len(it) > 1 and it[1] == "(":
            return _match_paren(it, 1) + 1
        return None

    items = _split_top(sel, ",")
    if not any(
        (e9 := _matcher_end(it)) is not None and e9 < len(it)
        and _kw(it[e9]) in _TRANSFORMER_KWS
        for it in items
    ):
        return
    uni = _qcols_universe(q)
    out_items: list[list[str]] = []
    for it in items:
        e = _matcher_end(it)
        if e is None or e >= len(it) or _kw(it[e]) not in _TRANSFORMER_KWS:
            out_items.append(it)
            continue
        if uni is None:
            raise DialectError(
                "column transformer: source columns are not derivable"
            )
        cols: list[tuple[list[str], str]] = []
        if it[0] == "*":
            cols = [(_col_ref_toks(qc), bc) for qc, bc in uni]
        elif it[1] == ".":
            pref = [x for x in uni if x[0].startswith(it[0] + ".")]
            # an unaliased single table referenced by its own name is
            # the only legal full-universe fallback; any other
            # qualifier is the reference's unknown-identifier error
            # (ASTColumnsTransformers matchers resolve strictly)
            if not pref and (
                it[0].strip("`") not in _single_from_names(q)
            ):
                raise DialectError(
                    f"unknown table qualifier in {it[0]}.* "
                    "(UNKNOWN_IDENTIFIER)"
                )
            cols = [(_col_ref_toks(qc), bc) for qc, bc in (pref or uni)]
        else:
            inner = it[2 : _match_paren(it, 1)]
            pat = _const_str_of_raw(inner)
            if pat is not None:
                try:
                    rx = re.compile(pat)
                except re.error:
                    raise DialectError("COLUMNS: invalid regex")
                cols = [(_col_ref_toks(qc), bc) for qc, bc in uni
                        if rx.search(bc)]
            else:
                # explicit identifier list: COLUMNS(i, j, k)
                parts = _split_top(inner, ",")
                if not all(
                    len(p) == 1 and _is_ident(p[0]) for p in parts if p
                ):
                    raise DialectError("COLUMNS: expected identifiers")
                cols = [(list(p), p[0].strip("`")) for p in parts if p]
        k, n = e, len(it)
        while k < n:
            kw = _kw(it[k])
            if kw not in _TRANSFORMER_KWS:
                raise DialectError(
                    f"unexpected token after column matcher: {it[k]}"
                )
            k += 1
            strict = k < n and _kw(it[k]) == "STRICT"
            if strict:
                k += 1
            if kw == "APPLY":
                if k < n and it[k] == "(":
                    close = _match_paren(it, k)
                    f_toks = it[k + 1 : close]
                    k = close + 1
                else:
                    if k >= n or not _is_ident(it[k]):
                        raise DialectError("APPLY: expected a function")
                    f_toks = [it[k]]
                    k += 1
                    if k < n and it[k] == "(":  # parameterized
                        close = _match_paren(it, k)
                        f_toks += it[k : close + 1]
                        k = close + 1
                f_txt = "".join(f_toks)
                cols = [
                    (f_toks + ["(", *ex, ")"], f"{f_txt}({nm})")
                    for ex, nm in cols
                ]
            elif kw == "EXCEPT":
                names, k = _transformer_name_list(it, k)
                if strict:
                    for x in names:
                        if all(nm != x for _, nm in cols):
                            raise DialectError(
                                f"EXCEPT STRICT: no column {x} (16)"
                            )
                cols = [(ex, nm) for ex, nm in cols if nm not in names]
            else:  # REPLACE
                reps, k = _transformer_replace_list(it, k)
                seen_r: set[str] = set()
                for _, rn in reps:
                    if rn in seen_r:
                        raise DialectError(
                            f"REPLACE: column {rn} replaced twice (43)"
                        )
                    seen_r.add(rn)
                if strict:
                    for _, rn in reps:
                        if all(nm != rn for _, nm in cols):
                            raise DialectError(
                                f"REPLACE STRICT: no column {rn} (16)"
                            )
                rmap = {rn: rex for rex, rn in reps}
                cols = [
                    (
                        [
                            tk2
                            for tkr in rmap[nm]
                            for tk2 in (
                                ["(", *ex, ")"]
                                if tkr.strip("`") == nm else [tkr]
                            )
                        ]
                        if nm in rmap else ex,
                        nm,
                    )
                    for ex, nm in cols
                ]
        for ex, nm in cols:
            out_items.append(list(ex) + ["AS", f"`{nm}`"])
    if not out_items:
        raise DialectError("empty column list after transformers (51)")
    new_sel: list[str] = []
    for x9, itx in enumerate(out_items):
        if x9:
            new_sel.append(",")
        new_sel += itx
    q.select = new_sel


def _columns_matcher_fill(q: _Select) -> None:
    """COLUMNS('re') matcher (src/Parsers/ASTColumnsMatcher + the
    TranslateQualifiedNamesVisitor expansion): splice the FROM source's
    columns whose name CONTAINS a regex match, as separate select items
    / function arguments.  Empty overall select list is reference error
    51; empty splice inside an argument list just drops its slot."""

    def _has_columns(ts: list[str]) -> bool:
        return any(
            _kw(t) == "COLUMNS" and k + 1 < len(ts) and ts[k + 1] == "("
            for k, t in enumerate(ts)
        )

    if not (_has_columns(q.select) or _has_columns(q.where)):
        return
    uni9 = _qcols_universe(q)
    if uni9 is None:
        return
    qcols: list[tuple[str, str]] = uni9

    _OPS9 = {"+", "-", "*", "/", "%", "=", "==", "!=", "<>", "<", ">",
             "<=", ">=", "||"}

    def _expand(ts: list[str]) -> list[str]:
        out: list[str] = []
        k = 0
        n = len(ts)
        while k < n:
            if (
                _kw(ts[k]) == "COLUMNS" and k + 1 < n and ts[k + 1] == "("
            ):
                close = _match_paren(ts, k + 1)
                pat9 = _const_str_of_raw(ts[k + 2 : close])
                if pat9 is None:
                    raise DialectError(
                        "COLUMNS: pattern must be a constant string"
                    )
                try:
                    rx9 = re.compile(pat9)
                except re.error:
                    raise DialectError("COLUMNS: invalid regex")
                matched9 = [qc for qc, bc in qcols if rx9.search(bc)]
                # an OPERAND of a binary operator takes exactly one
                # column — the reference rewrites `x + y` to plus(x, y)
                # BEFORE splicing, so a multi-match is an arity error
                operand9 = (out and out[-1] in _OPS9) or (
                    close + 1 < n and ts[close + 1] in _OPS9
                )
                if operand9 and len(matched9) != 1:
                    raise DialectError(
                        "COLUMNS: wrong argument count for operator"
                    )
                for x9, c9 in enumerate(matched9):
                    if x9:
                        out.append(",")
                    out += tokenize(c9)
                k = close + 1
                continue
            out.append(ts[k])
            k += 1
        # comma hygiene where a zero-column splice left a dangling comma
        clean: list[str] = []
        for t9 in out:
            if t9 == "," and (not clean or clean[-1] in ("(", ",")):
                continue
            if t9 == ")" and clean and clean[-1] == ",":
                clean.pop()
            clean.append(t9)
        while clean and clean[-1] == ",":
            clean.pop()
        return clean

    if _has_columns(q.select):
        q.select = _expand(q.select)
        if not [t for t in q.select if t.strip()]:
            raise DialectError("COLUMNS: empty list of columns queried")
    if _has_columns(q.where):
        q.where = _expand(q.where)


def _bare_star_fill(q: _Select) -> None:
    """``SELECT *`` over a LEFT/FULL USING join: expand the star so the
    right side's columns can carry the reference's type-default fill
    (join_use_nulls=0).  Only fires when both sides' column lists are
    derivable; Spark's star order for USING joins (keys, left rest,
    right rest) matches the reference's."""
    if [t for t in q.select if t.strip()] != ["*"]:
        return
    if str((_SETTINGS_CTX.get() or {}).get("join_use_nulls", "0")) == "1":
        return
    parts = _split_single_join(q.from_)
    if not parts:
        return
    left, words, right, tail = parts
    kws = {_kw(w) for w in words}
    if {"SEMI", "ANTI", "CROSS", "ASOF"} & kws:
        return
    lsrc = list(left)
    if len(lsrc) >= 2 and _kw(lsrc[-2]) == "AS":
        lsrc = lsrc[:-2]
    elif (
        lsrc and lsrc[0] != "(" and _is_ident(lsrc[-1])
        and len(lsrc) > 1 and lsrc[-2] != "."
    ):
        lsrc = lsrc[:-1]
    rsrc = list(right)
    if len(rsrc) >= 2 and _kw(rsrc[-2]) == "AS":
        rsrc = rsrc[:-2]
    elif (
        rsrc and rsrc[0] == "(" and _is_ident(rsrc[-1])
        and _match_paren(rsrc, 0) < len(rsrc) - 1
    ):
        rsrc = rsrc[:-1]
    lcols = _from_item_cols(lsrc)
    rcols = _from_item_cols(rsrc)
    if not lcols or not rcols:
        return
    keys: list[str] = []
    for j, t in enumerate(tail):
        if _kw(t) == "USING":
            k = j + 1
            if k < len(tail) and tail[k] == "(":
                keys = [
                    x.strip("`") for x in tail[k + 1 : _match_paren(tail, k)]
                    if _is_ident(x)
                ]
            else:
                while k < len(tail) and (_is_ident(tail[k]) or tail[k] == ","):
                    if _kw(tail[k]) in _SQL_KEYWORDS and tail[k] != ",":
                        break
                    if tail[k] != ",":
                        keys.append(tail[k].strip("`"))
                    k += 1
            break
    if not keys:
        return  # ON joins keep NULL semantics here
    dups = [c for c in rcols if c not in keys and c in lcols]
    if not ({"LEFT", "FULL"} & kws) and not dups:
        return  # inner/right joins need no fill unless names collide
    if not dups:
        # plain names — _outer_join_default_fill adds the coalesce fills
        items = list(keys)
        items += [c for c in lcols if c not in keys]
        items += [c for c in rcols if c not in keys]
        q.select = tokenize(", ".join(items))
        return
    # both sides expose the same non-key NAME (00819: `b` on both):
    # qualify every non-key column by side, giving alias-less sides an
    # alias first.  A right column whose name also exists on the left
    # shows the LEFT value in the reference's star (old-analyzer name
    # flattening — 00819_full_join_wrong_columns_in_block locks this
    # quirk in for every join kind, inner/ANY included).
    _, lalias = _item_src_alias(left)
    _, ralias = _item_src_alias(right)
    new_left, new_right = list(left), list(right)
    if not lalias:
        lalias = "__sl"
        new_left += ["AS", "__sl"]
    if not ralias:
        ralias = "__sr"
        new_right += ["AS", "__sr"]
    if new_left != left or new_right != right:
        q.from_ = new_left + words + new_right + tail
    items = list(keys)
    items += [
        f"{lalias}.`{c}` AS `{c}`" for c in lcols if c not in keys
    ]
    items += [
        (f"{lalias}.`{c}` AS `{c}`" if c in lcols
         else f"{ralias}.`{c}` AS `{c}`")
        for c in rcols if c not in keys
    ]
    q.select = tokenize(", ".join(items))


_AGG_HINT_RE = re.compile(
    r"(?i)^(count|sum\w*|min\w*|max\w*|avg\w*|any\w*|uniq\w*|group\w*|"
    r"quantile\w*|median\w*|topK\w*|corr\w*|covar\w*|var\w*|stddev\w*|"
    r"skew\w*|kurt\w*|argMin\w*|argMax\w*|histogram|entropy|deltaSum\w*|"
    r"retention|windowFunnel|sequence\w*|collect_\w+)$"
)


def _stream_order_join_rewrite(
    q: _Select,
) -> tuple[list[str], list[str], list[str]] | None:
    """The reference's hash join streams the LEFT side and, per left
    row, emits right matches in right INSERTION order — so a top-level
    join without ORDER BY still has a deterministic row order.  Spark's
    shuffles scramble it.  For the script engine's OUTERMOST select over
    exactly one join, attach per-side stream ids and sort on them (ids
    stripped by an outer wrapper; LIMIT moves outside so it takes the
    stream PREFIX).  Returns the stashed (limit, offset) when applied."""
    if _QDEPTH.get() > 1 or not _TOTALS_BLOCK_CTX.get():
        return None
    if (
        q.group_by or q.having or q.distinct or q.limit_by
        or q.with_totals or q.with_rollup or q.with_cube or q.array_join
        or q.aj_hoists or q.fill or q.lateral or q.is_stream
    ):
        return None
    # an explicit ORDER BY: the reference sorts STABLY over the join's
    # stream order — append the stream ids as tiebreakers instead of
    # replacing the sort (00702 right/full tie groups)
    with_order = bool(q.order_by)
    if with_order and any(
        _kw(t) in ("COLLATE", "FILL") for t in q.order_by
    ):
        return None
    parts = _split_single_join(q.from_)
    if not parts:
        return None
    left, words, right, tail = parts
    kws = {_kw(w) for w in words}
    if "ASOF" in kws:
        return None
    semi = bool({"SEMI", "ANTI"} & kws)
    # aggregates / windows in the select list leave the row-stream
    # model — skip; qualified stars expand in place when the side's
    # column list is derivable (so ANY/plain joins keep stream order)
    for j, t in enumerate(q.select):
        if _kw(t) == "OVER":
            return None
        if (
            _AGG_HINT_RE.match(t)
            and j + 1 < len(q.select)
            and q.select[j + 1] == "("
        ):
            return None
    if any(
        t == "*" and j >= 1 and q.select[j - 1] == "."
        for j, t in enumerate(q.select)
    ):
        lsrc, lalias = _split_from_alias(left, "__jw_l")
        rsrc, ralias = _split_from_alias(right, "__jw_r")
        sides = {lalias: lsrc, ralias: rsrc}
        sel: list[str] = []
        j = 0
        while j < len(q.select):
            if (
                j + 2 < len(q.select) and q.select[j + 1] == "."
                and q.select[j + 2] == "*"
            ):
                al = q.select[j].strip("`")
                cols = _from_item_cols(sides[al]) if al in sides else None
                if not cols:
                    return None
                sel += tokenize(", ".join(f"{al}.`{c}`" for c in cols))
                j += 3
                continue
            sel.append(q.select[j])
            j += 1
        q.select = sel

    def wrap(item: list[str], idcol: str) -> list[str]:
        src = list(item)
        alias: list[str] = []
        if len(src) >= 2 and _kw(src[-2]) == "AS":
            alias, src = ["AS", src[-1]], src[:-2]
        elif (
            src and src[0] == "(" and _is_ident(src[-1])
            and _match_paren(src, 0) < len(src) - 1
        ):
            alias, src = ["AS", src[-1]], src[:-1]
        elif (
            src and src[0] != "(" and len(src) > 1 and _is_ident(src[-1])
            and src[-2] != "."
        ):
            alias, src = ["AS", src[-1]], src[:-1]
        if not alias:
            if src and src[0] == "(":
                alias = ["AS", f"__jw_{idcol[-1]}"]
            else:
                bare = "".join(x.strip("`") for x in src).split(".")[-1]
                if _kw(bare) in _SQL_KEYWORDS:
                    bare = "`" + bare + "`"  # table named like a keyword
                alias = ["AS", bare] if _is_ident(bare) else ["AS", "__jw"]
        return (
            ["(", "SELECT", "*", ",", "monotonically_increasing_id", "(",
             ")", "AS", idcol, "FROM"] + src + [")"] + alias
        )

    new_from = wrap(left, "__jord_l") + words
    ids = ["__jord_l"]
    if semi:
        new_from += right
    else:
        new_from += wrap(right, "__jord_r")
        ids.append("__jord_r")
    q.from_ = new_from + tail
    if [t for t in q.select if t.strip()] != ["*"]:
        for c in ids:
            q.select = q.select + [",", c]
    if with_order:
        for c in ids:
            q.order_by = q.order_by + [",", c]
        return ids, None, None
    lim, off = q.limit, q.offset
    q.limit, q.offset = [], []
    return ids, lim, off


def _translate_select_tokens(toks: list[str]) -> tuple[str, dict[str, str]]:
    # fully parenthesized query part: ( SELECT ... )
    if toks and toks[0] == "(" and _match_paren(toks, 0) == len(toks) - 1:
        return "( " + _translate_query(toks[1:-1])[0] + " )", {}
    q = _parse_select(toks)
    # a FROM-less SELECT reads system.one implicitly in the reference;
    # materialize that when it actually references the `dummy` column
    if not q.from_ and any(
        t.strip("`") == "dummy"
        for t in q.select + q.where + q.group_by + q.having + q.order_by
    ):
        q.from_ = ["system", ".", "one"]
    # a declared table may shadow a keyword (a table literally named
    # `join` / `set` — 00475): backquote it right after JOIN so the
    # join-splitting passes don't read it as another join keyword
    schemas0 = _SCRIPT_SCHEMAS_CTX.get() or {}
    if schemas0:
        for j0 in range(1, len(q.from_)):
            t0 = q.from_[j0]
            if (
                _kw(q.from_[j0 - 1]) == "JOIN"
                and _kw(t0) in _SQL_KEYWORDS
                and t0.strip("`") in schemas0
            ):
                q.from_[j0] = "`" + t0.strip("`") + "`"
    # duplicate names inside USING (a, a, b, b, a) dedup to first
    # occurrence (TreeRewriter normalization — 00702)
    f9u = q.from_
    out9u: list[str] = []
    last9u = 0
    for j9u, t9u in _top_level(f9u):
        if (
            _kw(t9u) == "USING" and j9u + 1 < len(f9u)
            and f9u[j9u + 1] == "(" and j9u >= last9u
        ):
            c9u = _match_paren(f9u, j9u + 1)
            keys9u: list[str] = []
            for part in _split_top(f9u[j9u + 2:c9u], ","):
                k9u = _emit(part)
                if k9u not in keys9u:
                    keys9u.append(k9u)
            out9u += f9u[last9u:j9u] + ["USING", "("]
            out9u += tokenize(", ".join(keys9u)) + [")"]
            last9u = c9u + 1
    q.from_ = out9u + f9u[last9u:]
    _orig_table_alias_rewrite(q)
    _dotted_column_rewrite(q)
    _on_alias_rewrite(q)
    _using_alias_rewrite(q)
    _using_qualified_rewrite(q)
    _qualify_ambiguous(q)
    _apply_array_join(q)
    _semi_anti_both_sides_rewrite(q)
    if q.having and not q.group_by and not q.with_totals and not any(
        _AGG_HINT_RE.match(tk)
        and j9 + 1 < len(q.having) and q.having[j9 + 1] == "("
        for j9, tk in enumerate(q.having)
    ) and not any(
        _AGG_HINT_RE.match(tk)
        and j9 + 1 < len(q.select) and q.select[j9 + 1] == "("
        for j9, tk in enumerate(q.select)
    ):
        # aggregate-free HAVING without GROUP BY filters rows like
        # WHERE (the reference allows it; Spark demands grouping)
        q.where = (
            ["(", *q.where, ")", "AND", "(", *q.having, ")"]
            if q.where else list(q.having)
        )
        q.having = []
    # SET join_default_strictness = '' demands an explicit ANY/ALL on
    # bare joins (reference error 417, old-analyzer behavior)
    if str((_SETTINGS_CTX.get() or {}).get(
        "join_default_strictness", "ALL"
    )).strip("'\" ") == "":
        f0 = q.from_ or []
        for k0, t0 in _top_level(f0):
            if _kw(t0) == "JOIN":
                words0 = {
                    _kw(x) for x in f0[max(0, k0 - 3) : k0]
                }
                if not words0 & {
                    "ANY", "ALL", "ASOF", "SEMI", "ANTI", "CROSS",
                }:
                    raise DialectError(
                        "JOIN strictness required "
                        "(join_default_strictness is empty)"
                    )
    # no-FROM star forms: `SELECT *` is the system.one dummy row (one
    # UInt8 0); a QUALIFIED star without a FROM is reference error 47
    if not q.from_:
        for k_st, t_st in _top_level(q.select):
            if t_st == "*" and k_st > 0 and (
                q.select[k_st - 1] == "."
            ):
                raise DialectError("qualified star without FROM")
        if [t for t in q.select if t.strip()] == ["*"]:
            q.select = ["0"]
    _column_transformers(q)
    _columns_matcher_fill(q)
    _bare_star_fill(q)
    _outer_join_default_fill(q)
    stash = _stream_order_join_rewrite(q)
    settings = _parse_settings(q.settings)
    sql_text = _render_with_limit_by(q) if q.limit_by else _render(q)
    if stash is not None:
        ids, lim, off = stash
        id_list = ", ".join(ids)
        if lim is None and off is None:
            # user ORDER BY kept inside (ids appended as tiebreakers):
            # the wrapper only strips the id columns — a narrow
            # projection preserves the inner sort
            sql_text = (
                f"SELECT * EXCEPT ({id_list}) FROM ( {sql_text} ) "
                f"AS __jord"
            )
        else:
            order = ", ".join(f"{c} NULLS LAST" for c in ids)
            sql_text = (
                f"SELECT * EXCEPT ({id_list}) FROM ( {sql_text} ) "
                f"AS __jord ORDER BY {order}"
            )
            if lim:
                sql_text += " LIMIT " + _emit(_translate_expr(lim))
            if off:
                sql_text += " OFFSET " + _emit(_translate_expr(off))
    return sql_text, settings


def _subq_cols(inner: list[str]) -> dict[str, str]:
    """Column name -> guessed default for an inline subquery's select
    list (numeric 0 / string '' / date epoch, inferred from the raw
    expression text)."""
    cols: dict[str, str] = {}
    stop = next(
        (
            j for j, tk in _top_level(inner, 1, brackets="(")
            if _kw(tk) in (
                "FROM", "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION",
            )
        ),
        len(inner),
    )
    body = inner[1:stop]
    for item in _split_top(body, ","):
        if not item:
            continue
        if item == ["*"]:
            # bare star over a single named table: expand from its
            # registered schema (enables alias passes over
            # `( select * from X ) AS s` items — 00702)
            f9 = inner[len(body) + 1 :]
            if f9 and _kw(f9[0]) == "FROM":
                k9 = 1
                nm9: list[str] = []
                while k9 < len(f9) and (
                    (_is_ident(f9[k9]) and _kw(f9[k9]) not in _SQL_KEYWORDS)
                    or f9[k9] == "."
                ):
                    nm9.append(f9[k9].strip("`"))
                    k9 += 1
                if (k9 >= len(f9) or _kw(f9[k9]) in (
                    "WHERE", "ORDER", "LIMIT", "SETTINGS",
                )) and nm9:
                    schema9 = (_SCRIPT_SCHEMAS_CTX.get() or {}).get(
                        "".join(nm9)
                    )
                    if schema9:
                        for c9, _, d9 in schema9:
                            cols.setdefault(c9, d9)
            continue
        if len(item) >= 3 and _kw(item[-2]) == "AS" and _is_ident(item[-1]):
            name, expr = item[-1].strip("`"), item[:-2]
        elif len(item) == 1 and _is_ident(item[0]):
            name, expr = item[0].strip("`"), item
        elif (
            len(item) >= 2 and _is_ident(item[-1])
            and _kw(item[-1]) not in _SQL_KEYWORDS
            and (
                (_is_ident(item[-2]) and _kw(item[-2]) not in _SQL_KEYWORDS)
                or item[-2].endswith((")", "]"))
                or item[-2][:1] == "'"
                or item[-2][:1].isdigit()
            )
        ):
            # implicit alias (`a s_a`, `count(x) cnt`)
            name, expr = item[-1].strip("`"), item[:-1]
        elif len(item) == 1 and re.fullmatch(r"-?\d+", item[0]):
            # bare literal column: its NAME is its text (`SELECT 1, 3 y`)
            name, expr = item[0], item
        else:
            continue
        if name in cols:
            # duplicate output names collapse to the FIRST occurrence
            # (a trailing bare re-reference must not demote a string
            # column's guessed default to 0)
            continue
        txt = " ".join(expr)
        if re.search(r"arrayJoin\s*\(", txt):
            cols[name] = "0"  # arrayJoin EXPLODES — elements are scalars
        elif re.search(
            r"groupBitmap\w*State|bitmapBuild|groupArray|groupUniqArray"
            r"|range\s*\(|emptyArray|^\s*\[",
            txt,
        ):
            cols[name] = "array()"  # empty set/list, not 0
        elif re.search(r"'|toString|concat|substring|String", txt):
            cols[name] = "''"
        elif re.search(r"toDate\b", txt):
            cols[name] = "DATE '1970-01-01'"
        else:
            cols[name] = "0"
    return cols


def _join_fill_cols(
    q: _Select,
) -> tuple[
    dict[str, tuple[str, str]],
    dict[str, list[tuple[str, str]]],
    dict[str, str],
]:
    """For each LEFT/FULL JOIN in the FROM clause whose right side's
    column list is derivable (inline subquery select list, or a script
    table with a registered schema), map column name ->
    (qualifier, default_sql).  Drives the reference's join_use_nulls=0
    semantics: unmatched rows carry TYPE DEFAULTS, not NULLs
    (src/Interpreters/HashJoin.h LEFT-join comment)."""
    toks = q.from_
    n = len(toks)
    fill: dict[str, tuple[str, str]] = {}
    star: dict[str, list[tuple[str, str]]] = {}
    keymap: dict[str, str] = {}
    i = 0
    while i < n:
        if toks[i] == "(":
            # a nested subquery handles its own joins' fill when IT is
            # translated — a LEFT JOIN inside it must not leak fills
            # into this query's clauses (00917: HAVING referenced a
            # name that collided with the inner join's column)
            i = _match_paren(toks, i) + 1
            continue
        if _kw(toks[i]) not in ("LEFT", "FULL"):
            i += 1
            continue
        if i > 0 and _kw(toks[i - 1]) in ("SEMI", "ANTI"):
            i += 1
            continue  # SEMI rewrites elsewhere; ANTI drops right cols
        j = i + 1
        while j < n and _kw(toks[j]) in ("ANY", "ALL", "OUTER", "SEMI", "ANTI"):
            if _kw(toks[j]) in ("SEMI", "ANTI"):
                break  # semi/anti produce no right columns
            j += 1
        if j >= n or _kw(toks[j]) != "JOIN":
            i += 1
            continue
        k = j + 1
        cols: dict[str, str] = {}
        ralias = None
        if k < n and toks[k] == "(":
            close = _match_paren(toks, k)
            inner = toks[k + 1 : close]
            if inner and _kw(inner[0]) == "SELECT":
                cols = _subq_cols(inner)
            k = close + 1
        elif k < n and _is_ident(toks[k]) and _kw(toks[k]) not in _SQL_KEYWORDS:
            tname = toks[k]
            schema = (_SCRIPT_SCHEMAS_CTX.get() or {}).get(
                tname.strip("`")
            )
            if schema:
                cols = {c: d for c, _, d in schema}
                ralias = tname  # a bare table stays addressable by name
            k += 1
        if k < n and _kw(toks[k]) == "AS":
            k += 1
        if k < n and _is_ident(toks[k]) and _kw(toks[k]) not in _SQL_KEYWORDS:
            ralias = toks[k]
        # USING keys come from the left side on LEFT joins — exclude
        if ralias and cols:
            # alias.* expansion fills EVERY right column, keys included
            star[ralias] = list(cols.items())
        for x in range(k, min(k + 40, n)):
            if _kw(toks[x]) == "USING":
                y = x + 1
                key_toks = []
                if y < n and toks[y] == "(":
                    key_toks = toks[y + 1 : _match_paren(toks, y)]
                else:
                    while y < n and (_is_ident(toks[y]) or toks[y] == ","):
                        if _kw(toks[y]) in _SQL_KEYWORDS and toks[y] != ",":
                            break
                        key_toks.append(toks[y])
                        y += 1
                for kt in key_toks:
                    cols.pop(kt, None)
                break
            if _kw(toks[x]) in ("JOIN", "ON") or toks[x] == "(":
                break
        for name, dd in cols.items():
            fill[name] = (ralias or "", dd)
        i = k
    # RIGHT/FULL joins additionally fill the LEFT side's columns
    i = 0
    while i < n:
        if _kw(toks[i]) not in ("RIGHT", "FULL"):
            i += 1
            continue
        j = i + 1
        while j < n and _kw(toks[j]) in ("ANY", "ALL", "OUTER"):
            j += 1
        if j >= n or _kw(toks[j]) != "JOIN":
            i += 1
            continue
        lcols: dict[str, str] = {}
        lalias = None
        e = i - 1
        while e >= 0 and _kw(toks[e]) in ("ANY", "ALL", "GLOBAL", "OUTER"):
            e -= 1
        if (
            e >= 1
            and _is_ident(toks[e])
            and _kw(toks[e]) not in _SQL_KEYWORDS
            and (toks[e - 1] == ")" or _is_ident(toks[e - 1]))
        ):
            lalias = toks[e]
            e -= 1
            if e >= 0 and _kw(toks[e]) == "AS":
                e -= 1
        if e >= 0 and toks[e] == ")":
            d, y = 0, e
            while y >= 0:
                if toks[y] == ")":
                    d += 1
                elif toks[y] == "(":
                    d -= 1
                    if d == 0:
                        break
                y -= 1
            inner = toks[y + 1 : e]
            if inner and _kw(inner[0]) == "SELECT":
                lcols = _subq_cols(inner)
        elif e >= 0 and _is_ident(toks[e]) and _kw(toks[e]) not in _SQL_KEYWORDS:
            schema = (_SCRIPT_SCHEMAS_CTX.get() or {}).get(toks[e])
            if schema:
                lcols = {c: dd for c, _, dd in schema}
            lalias = lalias or toks[e]
        if lcols:
            if lalias:
                star[lalias] = list(lcols.items())
            for x in range(j + 1, min(j + 60, n)):
                if _kw(toks[x]) == "USING":
                    y2 = x + 1
                    key_toks = []
                    if y2 < n and toks[y2] == "(":
                        key_toks = toks[y2 + 1 : _match_paren(toks, y2)]
                    else:
                        while y2 < n and (_is_ident(toks[y2]) or toks[y2] == ","):
                            if (
                                _kw(toks[y2]) in _SQL_KEYWORDS
                                and toks[y2] != ","
                            ):
                                break
                            key_toks.append(toks[y2])
                            y2 += 1
                    # the right item's alias (right after JOIN)
                    ra = None
                    z = j + 1
                    if z < n and toks[z] == "(":
                        z = _match_paren(toks, z) + 1
                    else:
                        z0 = z
                        while z < n and (
                            (_is_ident(toks[z])
                             and _kw(toks[z]) not in _SQL_KEYWORDS)
                            or toks[z] == "."
                        ):
                            z += 1
                        if z > z0:
                            ra = toks[z - 1]
                    if z < n and _kw(toks[z]) == "AS":
                        z += 1
                    if z < n and _is_ident(toks[z]) and _kw(
                        toks[z]
                    ) not in _SQL_KEYWORDS:
                        ra = toks[z]
                    for kt in key_toks:
                        lcols.pop(kt, None)
                        # RIGHT joins: the reference's output key is the
                        # RIGHT side's key (rows stream from the right);
                        # Spark's bare-name resolution over RIGHT USING
                        # is unstable — force the qualification
                        if _kw(toks[i]) == "RIGHT" and ra and kt != ",":
                            keymap[kt.strip("`")] = ra
                    break
                if _kw(toks[x]) in ("JOIN",):
                    break
            for name, dd in lcols.items():
                fill[name] = (lalias or "", dd)
        i = j + 1
    return fill, star, keymap


def _outer_join_default_fill(q: _Select) -> None:
    # join_use_nulls=1: the reference emits NULLs (like Spark) — no fill
    if str((_SETTINGS_CTX.get() or {}).get("join_use_nulls", "0")) == "1":
        return
    fill, star, keymap = _join_fill_cols(q)
    if not fill and not star and not keymap:
        return

    def subst(ts: list[str], in_select: bool = False) -> list[str]:
        res: list[str] = []
        i = 0
        m = len(ts)
        while i < m:
            t = ts[i]
            # alias.* of a filled right side: expand to coalesced columns
            if (
                t in star
                and i + 2 < m
                and ts[i + 1] == "."
                and ts[i + 2] == "*"
            ):
                exp = ", ".join(
                    "coalesce({0}.{1}, {2}) AS {1}".format(
                        t, c if _is_ident(c) else f"`{c}`", d
                    )
                    for c, d in star[t]
                )
                res.append(exp)
                i += 3
                continue
            # qualified: alias . col
            if (
                i + 2 < m
                and ts[i + 1] == "."
                and ts[i + 2] in fill
                and fill[ts[i + 2]][0] == t
            ):
                dd = fill[ts[i + 2]][1]
                res.append(f"coalesce({t}.{ts[i + 2]}, {dd})")
                i += 3
                continue
            if (
                t in star
                and i + 2 < m
                and ts[i + 1] == "."
                and ts[i + 2] != "*"
            ):
                hit = next(
                    (d for c, d in star[t] if c == ts[i + 2].strip("`")),
                    None,
                )
                if hit is not None:
                    res.append(f"coalesce({t}.{ts[i + 2]}, {hit})")
                    i += 3
                    continue
            # bare column reference (not qualified, not a call, not an
            # alias position — after AS or directly after an operand)
            prev = ts[i - 1] if i > 0 else ""
            if (
                t in fill
                and not re.match(r"^[0-9.']", t)
                and prev != "."
                and _kw(prev) != "AS"
                and not (
                    prev.endswith((")", "]"))
                    or prev.startswith("'")
                    or re.match(r"^[0-9]", prev)
                    or (_is_ident(prev) and _kw(prev) not in _SQL_KEYWORDS)
                )
                and (i + 1 >= m or ts[i + 1] not in (".", "("))
            ):
                qual, dd = fill[t]
                ref = f"{qual}.{t}" if qual else t
                res.append(f"coalesce({ref}, {dd})")
                i += 1
                continue
            if (
                in_select
                and t.strip("`") in keymap
                and prev in ("", ",")
                and (i + 1 >= m or ts[i + 1] == ",")
            ):
                # top-level select item: alias back to the bare name so
                # ORDER BY resolves the OUTPUT column deterministically
                res += [keymap[t.strip("`")], ".", t, "AS", t]
                i += 1
                continue
            res.append(t)
            i += 1
        return res

    # a bare `*` select item over a filled right side expands to left.*
    # plus the right side's coalesced columns (the reference fills
    # unmatched right columns with type defaults even through `*`)
    star_at = next(
        (
            k0 for k0, tk0 in enumerate(q.select)
            if tk0 == "*"
            and (k0 == 0 or q.select[k0 - 1] == ",")
            and (k0 + 1 >= len(q.select) or q.select[k0 + 1] == ",")
        ),
        None,
    )
    if star_at is not None and fill and q.from_ and (
        _is_ident(q.from_[0]) or q.from_[0] == "("
    ):
        lt0 = None
        j0 = 1
        if q.from_[0] == "(":
            # left side is a subquery: only its trailing alias names it
            j0 = _match_paren(q.from_, 0) + 1
        elif len(q.from_) > 1 and q.from_[1] == "(":
            # table-function left side (merge(...), numbers(...)):
            # only a trailing alias can name it
            j0 = _match_paren(q.from_, 1) + 1
        else:
            lt0 = q.from_[0]
        if j0 < len(q.from_) and _kw(q.from_[j0]) == "AS":
            j0 += 1
        if (
            j0 < len(q.from_) and _is_ident(q.from_[j0])
            and _kw(q.from_[j0]) not in _SQL_KEYWORDS
            and _kw(q.from_[j0]) not in (
                "ASOF", "GLOBAL", "FINAL", "SAMPLE", "PREWHERE",
            )
        ):
            lt0 = q.from_[j0]  # the left table's alias wins
        if lt0 is None:
            star_at = None  # unnamed subquery left side: cannot expand
    if star_at is not None and fill and lt0:
        exp0: list[str] = [lt0, ".", "*"]
        for name0, (qual0, dd0) in fill.items():
            nm0 = name0 if _is_ident(name0) else f"`{name0}`"
            ref0 = f"{qual0}.{nm0}" if qual0 else nm0
            exp0 += [",", f"coalesce({ref0}, {dd0}) AS {nm0}"]
        q.select = q.select[:star_at] + exp0 + q.select[star_at + 1 :]
    q.select = subst(q.select, in_select=True)
    q.where = subst(q.where)
    q.having = subst(q.having)
    q.group_by = subst(q.group_by)
    q.order_by = subst(q.order_by)


def _parse_settings(toks: list[str]) -> dict[str, str]:
    if not toks:
        return {}
    out = {}
    for part in _split_top(toks, ","):
        if len(part) >= 3 and part[1] == "=":
            out[part[0]] = _emit(part[2:])
    return out


def _subst_scalar_aliases(
    body: list[str], scalars: list[tuple[str, list[str]]]
) -> list[str]:
    """Inline scalar WITH aliases (reference `WITH expr AS name SELECT`,
    TreeRewriter scalar-alias semantics): each bare occurrence of the
    alias name in the body becomes (expr). Qualified refs (`t.name`) and
    function calls (`name(`) are left alone."""
    by_name = dict(scalars)
    out: list[str] = []
    for k, tk in enumerate(body):
        if (
            tk in by_name
            and (k == 0 or body[k - 1] != ".")
            and (k + 1 >= len(body) or body[k + 1] != "(")
        ):
            out += ["("] + by_name[tk] + [")"]
        else:
            out.append(tk)
    return out


#: clause keywords ending the select list at depth 0
_SEL_END_KWS = {
    "FROM", "WHERE", "PREWHERE", "GROUP", "ORDER", "HAVING", "LIMIT",
    "SETTINGS", "UNION", "INTO", "FORMAT", "WINDOW", "OFFSET",
}

#: True while translating a subquery that sits in EXPRESSION position
#: (IN / scalar): those keep their raw column list — the reference only
#: renames/dedups FROM-position subquery projections
#: ((1, 1) IN (SELECT 1 AS x, x) needs BOTH columns, 00482)
_EXPR_SUBQ_CTX: "contextvars.ContextVar[bool]" = contextvars.ContextVar(
    "daisy_expr_subq", default=False
)


def _alias_subquery_outputs(toks: list[str]) -> list[str]:
    """The reference names unaliased output columns after the ORIGINAL
    expression text (IAST::appendColumnName; TreeRewriter.cpp:941,
    1021-1083), and OUTER queries may reference subquery columns by
    those names (`` `pow(four, 2)` ``).  Attach that name as an alias to
    function-call-shaped unaliased items (plus `a || b` -> concat):
    same-select aliases substitute into the name (``2 AS two`` makes
    pow(two, 2) name ``pow(2, 2)``); WITH aliases keep their NAME — this
    runs before scalar-alias inlining, so they are still plain
    identifiers here.  Items with top-level infix arithmetic are left
    alone (their reference names are plus(...)-style renders this
    engine does not reproduce yet)."""
    if _EXPR_SUBQ_CTX.get():
        return toks  # IN/scalar subqueries keep their raw column list
    # locate the top-level SELECT and its item span
    sel = None
    for j, t in _top_level(toks):
        k = _kw(t)
        if k == "SELECT":
            sel = j
            break
        if k == "UNION":
            return toks
    if sel is None:
        return toks
    start = sel + 1
    if start < len(toks) and _kw(toks[start]) == "DISTINCT":
        start += 1
    end = next(
        (j for j, t in _top_level(toks, start) if _kw(t) in _SEL_END_KWS),
        len(toks),
    )
    if any(_kw(t) == "UNION" for _, t in _top_level(toks, end)):
        return toks  # UNION branches share names from the first SELECT
    items = _split_top(toks[start:end], ",")
    amap: dict[str, list[str]] = {}
    for it in items:
        if len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1]):
            amap[it[-1].strip("`")] = it[:-2]
    # duplicate-name elimination (TreeRewriter removeDuplicateColumns):
    # `SELECT 1 AS x, 2 AS y, x, y` exposes TWO columns — a repeat of an
    # already-projected name (bare re-reference, or the identical
    # aliased expression again) collapses away
    seen9: dict[str, str] = {}
    dedup9: list[list[str]] = []
    for it in items:
        nm9 = None
        if len(it) == 1 and _is_ident(it[0]) and _kw(it[0]) not in _SQL_KEYWORDS:
            nm9 = it[0].strip("`")
        elif len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1]):
            nm9 = it[-1].strip("`")
        if nm9 is not None:
            txt9 = " ".join(it)
            prev9 = seen9.get(nm9)
            if prev9 is not None and (len(it) == 1 or prev9 == txt9):
                continue
            seen9.setdefault(nm9, txt9)
        dedup9.append(it)
    if len(dedup9) != len(items):
        items = dedup9
        spliced0: list[str] = []
        for x9, it in enumerate(items):
            if x9:
                spliced0.append(",")
            spliced0 += it
        toks = toks[:start] + spliced0 + toks[end:]
        end = start + len(spliced0)

    def _subst(ts: list[str], depth9: int = 0) -> list[str]:
        if depth9 > 4:
            return ts
        out9: list[str] = []
        for k9, t9 in enumerate(ts):
            if (
                t9 in amap
                and (k9 == 0 or ts[k9 - 1] != ".")
                and (k9 + 1 >= len(ts) or ts[k9 + 1] not in (".", "("))
            ):
                out9 += _subst(amap[t9], depth9 + 1)
            else:
                out9.append(t9)
        return out9

    _INFIX9 = {"+", "-", "*", "/", "%", "=", "==", "!=", "<>", "<", ">",
               "<=", ">=", "?", ":", "->"}
    changed = False
    new_items: list[list[str]] = []
    for it in items:
        if (
            not it or len(it) == 1 or "*" in it
            or (len(it) >= 3 and _kw(it[-2]) == "AS" and _is_ident(it[-1]))
        ):
            new_items.append(it)
            continue
        # depth-0 shape scan: pure call / pure ||-chain qualify
        bad = False
        pipes: list[int] = []
        for k9, t9 in _top_level(it):
            if t9 in _INFIX9 or (
                _is_ident(t9) and _kw(t9) in _SQL_KEYWORDS
            ):
                bad = True
                break
            if t9 == "||":
                pipes.append(k9)
        call_shape = (
            len(it) >= 3 and _is_ident(it[0]) and it[1] == "("
            and _match_paren(it, 1) == len(it) - 1
            # untuple EXPANDS to several columns — an alias would pin it
            # to one and break the _ut_N outputs
            and it[0] != "untuple"
        )
        if bad or not (call_shape or pipes):
            new_items.append(it)
            continue
        name_toks = _subst(list(it))
        if pipes:
            # a || b -> concat(a, b) in the canonical name (the parser
            # desugars the operator before naming)
            parts9 = _split_top(name_toks, "||")
            name_toks = ["concat", "("]
            for x9, p9 in enumerate(parts9):
                if x9:
                    name_toks.append(",")
                name_toks += p9
            name_toks.append(")")
        try:
            from daisy_spark.chsyntax import ch_expr
            nm = ch_expr(name_toks)
        except Exception:  # noqa: BLE001
            new_items.append(it)
            continue
        if not nm or "`" in nm or len(nm) > 200:
            new_items.append(it)
            continue
        new_items.append(list(it) + ["AS", f"`{nm}`"])
        changed = True
    if not changed:
        return toks
    spliced: list[str] = []
    for x9, it in enumerate(new_items):
        if x9:
            spliced.append(",")
        spliced += it
    return toks[:start] + spliced + toks[end:]


def _translate_query(toks: list[str]) -> tuple[str, dict[str, str]]:
    """UNION-aware, WITH-aware entry for a (sub)query token list: the
    Spark SQL and the SETTINGS of its top-level SELECTs (a later UNION
    part's key wins; a WITH query's are its body's)."""
    tok_d = _QDEPTH.set(_QDEPTH.get() + 1)
    try:
        return _translate_query_inner(toks)
    finally:
        _QDEPTH.reset(tok_d)


def _translate_query_inner(toks: list[str]) -> tuple[str, dict[str, str]]:
    # inner `expr AS name` aliases are scoped per SELECT: the top-level
    # hoist in translate() skips subquery bodies, so hoist again at each
    # query scope (no-op when the scope has none)
    toks = _hoist_inner_aliases(toks)
    if _QDEPTH.get() >= 2:
        # a SUBQUERY's unaliased outputs are addressable by the
        # reference's expression-text column names — attach them
        toks = _alias_subquery_outputs(toks)
    # WITH cte AS (SELECT ...), expr AS name, ... SELECT ...
    if toks and _kw(toks[0]) == "WITH":
        n = len(toks)
        # find the SELECT that ends the WITH clause (depth-0 scan)
        sel = next(
            (j for j, tk in _top_level(toks, 1, n) if _kw(tk) == "SELECT"),
            None,
        )
        if sel is None:
            raise DialectError("WITH without a SELECT body")
        ctes: list[list[str]] = []
        scalars: list[tuple[str, list[str]]] = []
        for part in _split_top(toks[1:sel], ","):
            if not part:
                continue
            if (
                len(part) >= 3
                and _is_ident(part[0])
                and _kw(part[1]) == "AS"
                and part[2] == "("
            ):
                ctes.append(part)
            elif (
                len(part) >= 3
                and _kw(part[-2]) == "AS"
                and _is_ident(part[-1])
            ):
                # scalar alias: expr AS name — earlier aliases may appear
                # inside later exprs, so substitute transitively
                expr = _subst_scalar_aliases(part[:-2], scalars)
                # the reference's ActionsDAG computes one shared column
                # for an alias's nondeterministic call, so every use of
                # the alias sees the SAME value — freeze the call to a
                # literal at translate time to match (uuid round-trips,
                # 00396)
                j9 = 0
                while j9 < len(expr):
                    if (
                        _kw(expr[j9]) == "GENERATEUUIDV4"
                        and j9 + 1 < len(expr) and expr[j9 + 1] == "("
                    ):
                        import uuid as _uuidmod

                        c9 = _match_paren(expr, j9 + 1)
                        expr[j9 : c9 + 1] = [f"'{_uuidmod.uuid4()}'"]
                    j9 += 1
                scalars.append((part[-1], expr))
            else:
                raise DialectError(
                    "unsupported WITH item (expected `name AS (SELECT ...)` "
                    "or `expr AS name`)"
                )
        body = toks[sel:]
        if scalars:
            body = _subst_scalar_aliases(body, scalars)
        rendered = ""
        if ctes:
            parts = []
            for part in ctes:
                close = _match_paren(part, 2)
                parts.append(
                    f"{part[0]} AS ( {_translate_query(part[3:close])[0]} )"
                )
            rendered = "WITH " + " , ".join(parts) + " "
        body_sql, settings = _translate_query(body)
        return rendered + body_sql, settings

    # split top-level UNION
    parts: list[list[str]] = []
    seps: list[str] = []
    last = 0
    for i, t in _top_level(toks, brackets="("):
        if _kw(t) == "UNION":
            parts.append(toks[last:i])
            last = i + 1
            mode = "DISTINCT"
            if last < len(toks) and _kw(toks[last]) in ("ALL", "DISTINCT"):
                mode = _kw(toks[last])
                last += 1
            seps.append("UNION " + mode)
    parts.append(toks[last:])
    rendered_parts = []
    settings: dict[str, str] = {}
    for p in parts:
        sql_text, part_settings = _translate_select_tokens(p)
        rendered_parts.append(sql_text)
        settings.update(part_settings)
    if len(rendered_parts) > 1:
        # parenthesize every branch: the reference binds a branch's
        # ORDER BY/LIMIT to that branch; Spark's parser rejects e.g.
        # `SELECT ... LIMIT n UNION ALL SELECT ...` without parens
        rendered_parts = [f"( {p} )" for p in rendered_parts]
    out = rendered_parts[0]
    for sep, nxt in zip(seps, rendered_parts[1:]):
        out += f" {sep} {nxt}"
    return out, settings


# ---------------------------------------------------------------------------
# Pipe queries (parseQueryPipe.cpp): q | WHERE e | SELECT ...
# ---------------------------------------------------------------------------

def _translate_pipe(stages: list[list[str]]) -> tuple[str, dict[str, str]]:
    first, settings = _translate_select_tokens(stages[0])
    prev = first
    all_settings = dict(settings)
    for k, stage in enumerate(stages[1:], start=1):
        if not stage:
            raise DialectError("empty pipe stage")
        head = _kw(stage[0])
        if head == "WHERE":
            cond_toks, *set_toks = _split_top(stage[1:], "SETTINGS")
            for st in set_toks:
                all_settings.update(_parse_settings(st))
            cond = _emit(_translate_expr(cond_toks))
            prev = f"SELECT * FROM ( {prev} ) AS __p{k} WHERE {cond}"
        elif head == "SELECT":
            q = _parse_select(stage)
            if q.from_:
                raise DialectError(
                    "pipe SELECT stage must not have FROM (the pipe is its input)"
                )
            # splice prev as ONE opaque token: it is already-translated
            # Spark SQL, and re-tokenizing it through _translate_from would
            # re-apply literal rewrites (e.g. double-suffixing 0.5D -> 0.5D D)
            q.from_ = [f"( {prev} ) AS __p{k}"]
            all_settings.update(_parse_settings(q.settings))
            prev = _render_with_limit_by(q) if q.limit_by else _render(q)
        else:
            raise DialectError(
                f"pipe stage must start with SELECT or WHERE, got {stage[0]!r}"
            )
    return prev, all_settings


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------

@dataclass
class TranslateResult:
    spark_sql: str
    settings: dict[str, str]
    is_stream: bool
    explain_mode: str | None = None  # AST | SYNTAX | PLAN | PIPELINE


#: reference EXPLAIN kinds (src/Parsers/ASTExplainQuery.h:14-20) -> Spark
_EXPLAIN_MODES = {"AST": "EXTENDED", "PLAN": "FORMATTED", "PIPELINE": "FORMATTED",
                  "SYNTAX": None, "ESTIMATE": "COST"}


def _ch_int_hash64(x: int) -> int:
    """The reference's intHash64 finalizer (base/base/... intHash64,
    used by DefaultHash<UInt64>): murmur-style avalanche."""
    m = (1 << 64) - 1
    x &= m
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & m
    x ^= x >> 33
    x = (x * 0xC4CEB9FE1A85EC53) & m
    x ^= x >> 33
    return x


def _uniq_elem_state(v: int | None) -> bytes:
    """Serialized uniq state over ONE Nullable element: null-adaptor
    flag (always written — uniq returns default on only-null:
    AggregateFunctionNull.h serialize), then UniquesHashSet::write =
    skip_degree 0, varint size, 4-byte LE truncated DefaultHash64
    values (src/AggregateFunctions/UniquesHashSet.h)."""
    if v is None:
        return b"\x01\x00\x00"
    h = _ch_int_hash64(v) & 0xFFFFFFFF
    return b"\x01\x00\x01" + h.to_bytes(4, "little")


_CH_BYTE_ESC = {
    0: b"\\0", 8: b"\\b", 9: b"\\t", 10: b"\\n", 12: b"\\f",
    13: b"\\r", 0x27: b"\\'", 0x5C: b"\\\\",
}


def _ch_escape_bytes(bs: bytes) -> bytes:
    """writeEscapedString byte escaping (IO/WriteHelpers.h)."""
    out = bytearray()
    for b in bs:
        e = _CH_BYTE_ESC.get(b)
        out += e if e else bytes([b])
    return bytes(out)


def _uniq_state_elems(arr: list[str]) -> list[int | None] | None:
    """Constant array argument -> element values (None = NULL); None
    when any element is not a plain integer/NULL literal."""
    if len(arr) < 2 or arr[0] != "[" or arr[-1] != "]":
        return None
    vals: list[int | None] = []
    for part in _split_top(arr[1:-1], ","):
        if len(part) != 1:
            return None
        if _kw(part[0]) == "NULL":
            vals.append(None)
        elif part[0].isdigit():
            vals.append(int(part[0]))
        else:
            return None
    return vals


def _rewrite_uniq_state_consts(toks: list[str]) -> list[str]:
    """uniqStateForEach[State] over CONSTANT arrays (01381): the state
    BYTES are fully determined at translate time — fold the recognized
    hex/toString/finalizeAggregation compositions into literals.  The
    ForEach state is writeBinary(UInt64 count) + per-element nested
    states (AggregateFunctionForEach.h serialize)."""
    if "uniqStateForEach" not in toks and "uniqStateForEachState" not in toks:
        return toks
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        # hex(toString(uniqStateForEach[State]([...])))
        if (
            _kw(t) == "HEX" and i + 5 < n and toks[i + 1] == "("
            and _kw(toks[i + 2]) == "TOSTRING" and toks[i + 3] == "("
            and toks[i + 4] in (
                "uniqStateForEach", "uniqStateForEachState",
            )
            and toks[i + 5] == "("
        ):
            c_in = _match_paren(toks, i + 5)
            c_ts = _match_paren(toks, i + 3)
            c_hex = _match_paren(toks, i + 1)
            elems = (
                _uniq_state_elems(toks[i + 6:c_in])
                if c_ts == c_in + 1 and c_hex == c_ts + 1 else None
            )
            if elems is not None:
                states = [_uniq_elem_state(v) for v in elems]
                if toks[i + 4] == "uniqStateForEachState":
                    blob = len(states).to_bytes(8, "little") + b"".join(
                        states
                    )
                else:
                    blob = (
                        b"[" + b",".join(
                            b"'" + _ch_escape_bytes(s) + b"'"
                            for s in states
                        ) + b"]"
                    )
                out.append("'" + blob.hex().upper() + "'")
                i = c_hex + 1
                continue
        # arrayMap(x -> BODY, finalizeAggregation(uniqStateForEachState([...])))
        if (
            _kw(t) == "ARRAYMAP" and i + 1 < n and toks[i + 1] == "("
        ):
            c_am = _match_paren(toks, i + 1)
            parts = _split_top(toks[i + 2:c_am], ",")
            if len(parts) == 2:
                lam, src = parts
                elems = None
                if (
                    len(src) >= 5
                    and _kw(src[0]) == "FINALIZEAGGREGATION"
                    and src[1] == "(" and src[2] == "uniqStateForEachState"
                    and src[3] == "(" and src[-2] == ")" and src[-1] == ")"
                ):
                    elems = _uniq_state_elems(src[4:-2])
                if elems is not None and len(lam) >= 3 and lam[1] == "->":
                    var = lam[0]
                    body = lam[2:]
                    states = [_uniq_elem_state(v) for v in elems]
                    repl = None
                    if body == [
                        "hex", "(", "toString", "(", var, ")", ")",
                    ]:
                        repl = ["["] + sum(
                            (
                                ["'" + s.hex().upper() + "'", ","]
                                for s in states
                            ), [],
                        )[:-1] + ["]"]
                    elif body == ["finalizeAggregation", "(", var, ")"]:
                        repl = ["["] + sum(
                            (
                                [str(0 if v is None else 1), ","]
                                for v in elems
                            ), [],
                        )[:-1] + ["]"]
                    if repl is not None:
                        out += repl
                        i = c_am + 1
                        continue
        out.append(t)
        i += 1
    return out


def translate(query: str) -> TranslateResult:
    """Reference-dialect SQL -> Spark SQL (+ extracted SETTINGS, stream flag)."""
    _ARRAY_LAMBDA_VARS.set(frozenset())
    _ASOF_SEQ.set(0)
    toks = tokenize(query.strip().rstrip(";"))
    if not toks:
        raise DialectError("empty query")
    # merge() TVF: `_table` may be referenced from ANY clause (WHERE
    # in 00578), while the TVF expander only sees the FROM tokens —
    # record statement-wide usage here
    _WANT_TABLE_VCOL.set(any(t.strip('`"') == "_table" for t in toks))
    explain_mode = None
    if _kw(toks[0]) == "EXPLAIN":
        toks = toks[1:]
        explain_mode = "PLAN"
        if toks and _kw(toks[0]) in _EXPLAIN_MODES:
            explain_mode = _kw(toks[0])
            toks = toks[1:]
    is_stream = False
    # detect SELECT STREAM anywhere at top level (strip in parse)
    for j, t in enumerate(toks):
        if _kw(t) == "STREAM" and j > 0 and _kw(toks[j - 1]) == "SELECT":
            is_stream = True
            toks = toks[:j] + toks[j + 1 :]
            break
    # parenthesized statement: (SELECT ...)
    while (
        len(toks) >= 2
        and toks[0] == "("
        and _match_paren(toks, 0) == len(toks) - 1
    ):
        toks = toks[1:-1]
    toks = _rewrite_uniq_state_consts(toks)
    toks = _hoist_inner_aliases(toks)
    toks = _dist_localize_subqueries(toks)
    stages = _split_top(toks, "|")
    if len(stages) > 1:
        sql_text, settings = _translate_pipe(stages)
    elif _kw(toks[0]) in ("SELECT", "WITH") or toks[0] == "(":
        # "(" start: parenthesized SELECTs around UNION branches —
        # _translate_query / _translate_select_tokens unwrap them
        sql_text, settings = _translate_query(toks)
    else:
        raise DialectError(f"unsupported statement start: {toks[0]!r}")
    n_shards = _DIST_NO_MERGE.get()
    if n_shards > 1:
        sql_text = " UNION ALL ".join(
            [f"SELECT * FROM ( {sql_text} )"] * n_shards
        )
    return TranslateResult(
        _wrap_in_subqueries(sql_text), settings, is_stream, explain_mode
    )


def _dist_localize_subqueries(toks: list[str]) -> list[str]:
    """distributed_product_mode='local': in a distributed query (the
    TOP level reads a multi-shard Distributed table), every Distributed
    reference INSIDE a subquery resolves to its LOCAL shard table —
    each shard runs the subquery against its own data
    (src/Interpreters/InJoinSubqueriesPreprocessor.cpp) — while the
    top-level read still unions all shards (the N-times view).
    Statement-level token pass so the engine's later wrapper
    subqueries don't re-trigger it."""
    _DIST_NO_MERGE.set(0)
    dist_local = _DIST_LOCAL_CTX.get()
    if not dist_local:
        return toks
    sess = _SETTINGS_CTX.get() or {}
    mode_local = str(sess.get(
        "distributed_product_mode", ""
    )).strip("'\" ") == "local"
    no_merge = str(sess.get(
        "distributed_group_by_no_merge", ""
    )).strip("'\" ") == "1"
    # a trailing statement-level SETTINGS clause also counts
    for j, t in enumerate(toks):
        if t == "distributed_group_by_no_merge" and toks[
            j + 1 : j + 3
        ] == ["=", "1"]:
            no_merge = True
        if t == "distributed_product_mode" and j + 2 < len(toks) and str(
            toks[j + 2]
        ).strip("'\" ") == "local":
            mode_local = True
    if not (mode_local or no_merge):
        return toks
    top_has_dist = False
    for j, t in _top_level(toks):
        if (
            t.strip("`") in dist_local
            and (j == 0 or toks[j - 1] != ".")
            and (j + 1 >= len(toks) or toks[j + 1] != ".")
        ):
            top_has_dist = True
    if not top_has_dist:
        return toks
    out: list[str] = []
    depth = 0
    shards = 2  # every multi-shard test cluster has two local shards
    for j, t in enumerate(toks):
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            depth -= 1
        nm = t.strip("`")
        if (depth > 0 or no_merge) and nm in dist_local:
            if out and out[-1] == "." and len(out) >= 2 and _is_ident(
                out[-2]
            ):
                out = out[:-2]  # drop a `db .` qualifier
            out.append(dist_local[nm])
        else:
            out.append(t)
    if no_merge:
        # the initiator skips final merging: each shard streams its own
        # complete local result (StorageDistributed — the setting turns
        # the initiator into a pass-through)
        _DIST_NO_MERGE.set(shards)
    return out


def _hoist_inner_aliases(toks: list[str]) -> list[str]:
    """The reference lets ``expr AS name`` appear ANYWHERE in an
    expression (``intDiv(number, 30000 AS d)``), defining ``name`` for
    the whole query (ParserAlias in ExpressionElementParsers.cpp).  Spark
    has no such scoping, so hoist: record name -> operand, drop the
    ``AS name``, and inline the operand at every later standalone
    reference.  CAST(x AS type) and aliases inside subqueries (their own
    scope) are left untouched."""
    n = len(toks)
    stack: list[tuple[bool, str]] = []  # (is_subquery, enclosing_func)
    aliases: dict[str, list[str]] = {}
    remove: set[int] = set()
    i = 0
    while i < n:
        t = toks[i]
        if t == "(":
            fn = toks[i - 1] if i > 0 and _is_ident(toks[i - 1]) else ""
            sub = i + 1 < n and _kw(toks[i + 1]) in ("SELECT", "WITH")
            fnk = _kw(fn)
            if fnk == "REPLACE" and i >= 2 and (
                toks[i - 2] in ("*", ")")
                or _kw(toks[i - 2]) == "STRICT"
            ):
                # the column transformer `* REPLACE(expr AS col)` — its
                # inner AS is the transformer's own syntax, not an alias
                fnk = "CAST"
            stack.append((sub, fnk))
            i += 1
            continue
        if t == ")":
            if stack:
                stack.pop()
            i += 1
            continue
        if (
            _kw(t) == "AS"
            and stack
            and not any(s[0] for s in stack)
            and stack[-1][1] not in ("CAST", "EXTRACT")
            and i + 1 < n
            and _is_ident(toks[i + 1])
            and _kw(toks[i + 1]) not in _SQL_KEYWORDS
            and i > 0
        ):
            def _operand_start(j: int) -> int:
                if toks[j] in (")", "]"):
                    depth, k = 0, j
                    while k >= 0:
                        if toks[k] in (")", "]"):
                            depth += 1
                        elif toks[k] in ("(", "["):
                            depth -= 1
                            if depth == 0:
                                break
                        k -= 1
                    s = k
                    if toks[j] == ")" and s > 0 and _is_ident(toks[s - 1]):
                        s -= 1
                    return s
                return j

            j = i - 1
            start = _operand_start(j)
            # extend across binary operators: number % 256 AS n binds the
            # WHOLE arithmetic expression to the alias
            _BINOPS = {
                "%", "*", "/", "+", "-", ".", "||",
                "<", ">", "<=", ">=", "=", "==", "!=", "<>",
            }
            while (
                start - 2 >= 0
                and toks[start - 1] in _BINOPS
                and toks[start - 2] not in (",", "(", "[")
            ):
                start = _operand_start(start - 2)
            if start > 0 and toks[start - 1] == "-" and (
                start - 2 < 0 or toks[start - 2] in ("(", ",", "[")
            ):
                start -= 1
            # filter already-removed inner `AS x` tokens out of the stored
            # operand: `f(g(1 AS a) AS b)` must record b -> `g ( 1 )`, not
            # `g ( 1 AS a )` (re-emitting the inner AS is invalid Spark SQL)
            aliases[toks[i + 1]] = [
                toks[k] for k in range(start, i) if k not in remove
            ]
            remove.add(i)
            remove.add(i + 1)
            i += 2
            continue
        i += 1
    if not aliases:
        return toks
    # an alias operand may itself reference an EARLIER alias
    # (`f(x AS a, g(a) AS b, h(b))`): substitute transitively inside the
    # stored operands first, so every inline copy is fully resolved
    def _subst(body: list[str], skip: str) -> list[str]:
        acc: list[str] = []
        for k, tk in enumerate(body):
            if (
                tk in aliases and tk != skip
                and (k == 0 or body[k - 1] not in (".", "AS", "as"))
                and (k + 1 >= len(body) or body[k + 1] not in (".", "("))
            ):
                acc += ["("] + aliases[tk] + [")"]
            else:
                acc.append(tk)
        return acc

    for _ in range(len(aliases)):
        changed = False
        for name in aliases:
            nb = _subst(aliases[name], name)
            if nb != aliases[name]:
                aliases[name] = nb
                changed = True
        if not changed:
            break
    out = [t for idx, t in enumerate(toks) if idx not in remove]
    res: list[str] = []
    for idx, t in enumerate(out):
        if (
            t in aliases
            and (idx == 0 or out[idx - 1] not in (".", "AS", "as"))
            and (idx + 1 >= len(out) or out[idx + 1] not in (".", "("))
        ):
            res += ["("] + aliases[t] + [")"]
        else:
            res.append(t)
    return res


def _wrap_in_subqueries(sql_text: str) -> str:
    """``'lit' IN (SELECT ...)`` hits Spark's typed-literal parse path
    (UNSUPPORTED_TYPED_LITERAL: it reads ``'lit' IN`` then ``(SELECT
    'x')`` as a SELECT-typed literal).  Wrapping every IN-subquery as
    ``IN (SELECT * FROM ( ... ) __in_sq)`` is semantics-preserving and
    sidesteps the parser."""
    pat = re.compile(r"\bIN\s*\(\s*(?:SELECT|WITH)\b", re.I)
    pos = 0
    while True:
        m = pat.search(sql_text, pos)
        if not m:
            return sql_text
        op = sql_text.index("(", m.start())
        depth, j, in_str = 0, op, False
        while j < len(sql_text):
            ch = sql_text[j]
            if in_str:
                if ch == "\\":
                    j += 1
                elif ch == "'":
                    in_str = False
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        inner = sql_text[op + 1 : j]
        sql_text = (
            sql_text[: op + 1]
            + " SELECT * FROM ( "
            + inner
            + " ) __in_sq "
            + sql_text[j:]
        )
        pos = op + 18  # past the inserted "SELECT * FROM ("
    return sql_text


def sql(spark, query: str):
    """Run reference-dialect SQL on a SparkSession.  Every table the
    query reads must be registered as a temp view
    (``df.createOrReplaceTempView(name)``)."""
    _SLEPT_CTX.set(False)
    res = translate(query)
    if res.settings:
        from daisy_spark.session import apply_settings

        apply_settings(spark, res.settings)
    if res.is_stream:
        raise DialectError(
            "SELECT STREAM requires a streaming source; use "
            "daisy_spark.streaming with the translated query: " + res.spark_sql
        )
    if res.explain_mode:
        # EXPLAIN SYNTAX = show the translation itself (the reference shows
        # the rewritten query); other modes defer to Spark's EXPLAIN
        if res.explain_mode == "SYNTAX":
            return spark.createDataFrame(
                [(res.spark_sql,)], "explain STRING"
            )
        return spark.sql(
            f"EXPLAIN {_EXPLAIN_MODES[res.explain_mode]} {res.spark_sql}"
        )
    return spark.sql(res.spark_sql)
