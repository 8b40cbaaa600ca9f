"""Canonical ClickHouse-style SQL text rendering.

The reference prints expressions, types and whole queries in ONE
canonical spelling (IAST::formatImpl / DataType::getName): SHOW CREATE,
DESCRIBE's default_expression column and EXPLAIN SYNTAX all share it.
This module re-renders our tokenizer's token stream in that spelling —
it does NOT translate to Spark SQL (plans/dialect.py does that); it
formats the ORIGINAL dialect text the way clickhouse-client would echo
it back.

reference: src/Parsers/IAST.cpp (formatImpl), src/DataTypes/*::getName.
"""

from __future__ import annotations

import re

# -- type canonicalization -------------------------------------------------

#: lowercase spelling -> canonical ClickHouse type head
_TYPE_CANON = {
    "int8": "Int8", "int16": "Int16", "int32": "Int32", "int64": "Int64",
    "int128": "Int128", "int256": "Int256",
    "uint8": "UInt8", "uint16": "UInt16", "uint32": "UInt32",
    "uint64": "UInt64", "uint128": "UInt128", "uint256": "UInt256",
    "float32": "Float32", "float64": "Float64",
    "decimal": "Decimal", "decimal32": "Decimal32",
    "decimal64": "Decimal64", "decimal128": "Decimal128",
    "decimal256": "Decimal256",
    "string": "String", "fixedstring": "FixedString",
    "date": "Date", "date32": "Date32",
    "datetime": "DateTime", "datetime64": "DateTime64",
    "uuid": "UUID", "ipv4": "IPv4", "ipv6": "IPv6",
    "array": "Array", "tuple": "Tuple", "map": "Map",
    "nullable": "Nullable", "lowcardinality": "LowCardinality",
    "enum": "Enum", "enum8": "Enum8", "enum16": "Enum16",
    "bool": "Bool", "nothing": "Nothing", "nested": "Nested",
    "aggregatefunction": "AggregateFunction",
    "simpleaggregatefunction": "SimpleAggregateFunction",
    # SQL-compat aliases normalize to the native type (ParserDataType)
    "int": "Int32", "integer": "Int32", "bigint": "Int64",
    "smallint": "Int16", "tinyint": "Int8",
    "float": "Float32", "double": "Float64", "real": "Float32",
    "char": "String", "varchar": "String", "text": "String",
    "blob": "String", "dec": "Decimal", "boolean": "Bool",
    # legacy LowCardinality spellings
    "stringwithdictionary": "LowCardinality(String)",
}

_TYPE_TOK = re.compile(r"'(?:[^'\\]|\\.)*'|[A-Za-z_][A-Za-z_0-9]*|\d+|\S")


def ch_type_canon(text: str) -> str:
    """Canonical ClickHouse type name text: alias heads normalized
    (INT -> Int32, DECIMAL -> Decimal), `, ` after commas, parens tight.
    Quoted enum labels pass through untouched."""
    out: list[str] = []
    for t in _TYPE_TOK.findall(text or ""):
        if t[0] not in "'\"" and t.lower() in _TYPE_CANON:
            t = _TYPE_CANON[t.lower()]
        if t in (")", ","):
            out[-1] = (out[-1] + t) if out else t
        elif t == "(":
            if out and (out[-1][-1:].isalnum() or out[-1][-1:] in ")_"):
                out[-1] += t
            else:
                out.append(t)
        elif out and out[-1].endswith(("(", ".")):
            out[-1] += t
        elif t == "=":  # Enum8('a' = 1)
            out.append(t)
        else:
            out.append(t)
    return " ".join(out).replace(",", ", ").replace(",  ", ", ")


# -- expression rendering ----------------------------------------------------

_BIN_OPS = {
    "+", "-", "*", "/", "%", "=", "==", "!=", "<>", "<", ">", "<=", ">=",
    "->", "||",
}
_KW_OPS = {
    "AND", "OR", "NOT", "IN", "LIKE", "ILIKE", "BETWEEN", "IS", "AS",
    "GLOBAL", "CASE", "WHEN", "THEN", "ELSE", "END", "ASC", "DESC",
    "DISTINCT", "OVER", "SELECT", "FROM", "WHERE", "GROUP", "BY",
    "ORDER", "HAVING", "LIMIT", "OFFSET", "UNION", "ALL", "ANY", "JOIN",
    "ON", "USING", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "WITH",
    "INTERVAL", "ARRAY", "NULL",
}

# keywords that double as reference FUNCTION names (src/Functions/
# array/any/substring registrations): in a call position they render
# lowercase+tight (any(x), left(s, 2)), never uppercased
_FN_COLLIDING_KWS = {"ANY", "ALL", "LEFT", "RIGHT", "ARRAY"}

_INTERVAL_UNIT = {
    "second": "Second", "seconds": "Second",
    "minute": "Minute", "minutes": "Minute",
    "hour": "Hour", "hours": "Hour",
    "day": "Day", "days": "Day",
    "week": "Week", "weeks": "Week",
    "month": "Month", "months": "Month",
    "quarter": "Quarter", "quarters": "Quarter",
    "year": "Year", "years": "Year",
}


def ch_expr(toks: list[str]) -> str:
    """Canonical one-line expression text from dialect tokens:
    operators spaced, calls/commas/dots tight, unary sign attached,
    `INTERVAL n unit` respelled as toIntervalUnit(n), backticks
    stripped from plain identifiers (kept for dotted/odd names only
    when quoting is required)."""
    toks = list(toks)
    out: list[str] = []
    glue_next = False  # attach next token to the current tail
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        up = t.upper()
        # INTERVAL <n> <unit>  ->  toIntervalUnit(n)
        if (
            up == "INTERVAL" and i + 2 < n
            and toks[i + 2].lower() in _INTERVAL_UNIT
        ):
            t = f"toInterval{_INTERVAL_UNIT[toks[i + 2].lower()]}({toks[i + 1]})"
            i += 2
        elif t.startswith("`") and t.endswith("`"):
            inner = t[1:-1]
            # expression positions print plain identifiers bare
            if re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*(\.[A-Za-z_0-9]+)*", inner):
                t = inner
        elif up in _KW_OPS and t.isalpha():
            # keyword-followed-by-paren in a CALL position is a function
            # (any(x), left(s, 2) — reference prints them lowercase and
            # tight), unlike the infix `x IN (1, 2)` where the keyword
            # follows an operand.  Keep original casing for the call.
            prev_raw = toks[i - 1] if i > 0 else ""
            call_pos = not prev_raw or not (
                prev_raw[-1:].isalnum() or prev_raw[-1:] in ")]`'\""
            ) or prev_raw.upper() in _KW_OPS
            if not (
                up in _FN_COLLIDING_KWS and call_pos
                and i + 1 < n and toks[i + 1] == "("
            ):
                t = up

        prev = out[-1] if out else ""
        if glue_next:
            out[-1] += t
            glue_next = False
        elif t in (")", ",", "."):
            out[-1] = (out[-1] + t) if out else t
        elif prev.endswith(("(", ".")):
            out[-1] += t
        elif t == "(":
            if prev and (prev[-1].isalnum() or prev[-1] in ")_`]"):
                # function call / tuple index — but keyword heads space
                # exact-case test: a lowercase tail (any/left kept as a
                # function name above) glues its call paren tight
                if prev.split()[-1] in _KW_OPS and prev[-1:] != ")":
                    out.append(t)
                else:
                    out[-1] += t
            else:
                out.append(t)
        elif t in ("-", "+") and (
            not prev
            or prev in _BIN_OPS
            or prev.endswith(("(", ","))
            or prev.upper() in _KW_OPS
        ):
            # unary sign binds to its operand
            out.append(t)
            glue_next = True
        else:
            out.append(t)
        i += 1
    s = " ".join(out)
    # cosmetic: comma spacing got fused into elements; normalize
    s = re.sub(r",(?=\S)", ", ", s)
    return s


def _clause_spans(toks: list[str]) -> list[tuple[str, list[str]]]:
    """Split a SELECT statement's tokens into (clause keyword, tokens)
    spans at paren depth 0."""
    spans: list[tuple[str, list[str]]] = []
    cur_kw: str = ""
    cur: list[str] = []
    depth = 0
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        up = t.upper() if t.isalpha() else t
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if depth == 0 and up in (
            "SELECT", "FROM", "PREWHERE", "WHERE", "HAVING", "LIMIT",
            "OFFSET", "SETTINGS",
        ):
            if cur_kw or cur:
                spans.append((cur_kw, cur))
            cur_kw, cur = up, []
            i += 1
            continue
        if depth == 0 and up in ("GROUP", "ORDER") and i + 1 < n and (
            toks[i + 1].upper() == "BY"
        ):
            if cur_kw or cur:
                spans.append((cur_kw, cur))
            cur_kw, cur = up + " BY", []
            i += 2
            continue
        # depth-0 UNION [ALL|DISTINCT] is a clause boundary: reference
        # prints each SELECT of a union on its own line with the UNION
        # keyword between them (IAST::FormatSettings one_line=false)
        if depth == 0 and up == "UNION":
            if cur_kw or cur:
                spans.append((cur_kw, cur))
            mode = toks[i + 1].upper() if i + 1 < n else ""
            if mode in ("ALL", "DISTINCT"):
                spans.append((f"UNION {mode}", []))
                i += 2
            else:
                spans.append(("UNION", []))
                i += 1
            cur_kw, cur = "", []
            continue
        cur.append(t)
        i += 1
    if cur_kw or cur:
        spans.append((cur_kw, cur))
    return spans


def _split_top_commas(toks: list[str]) -> list[list[str]]:
    out: list[list[str]] = [[]]
    depth = 0
    for t in toks:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if t == "," and depth == 0:
            out.append([])
        else:
            out[-1].append(t)
    return [p for p in out if p]


def format_select(toks: list[str]) -> str:
    """ClickHouse-client canonical multi-line SELECT rendering: one
    select item inline, several each on an indented line; every other
    clause on its own line (IAST::FormatSettings one_line=false)."""
    lines: list[str] = []
    for kw, span in _clause_spans(toks):
        if kw == "SELECT":
            distinct = ""
            if span and span[0].upper() == "DISTINCT":
                distinct = " DISTINCT"
                span = span[1:]
            items = [ch_expr(p) for p in _split_top_commas(span)]
            if len(items) == 1:
                lines.append(f"SELECT{distinct} {items[0]}")
            else:
                lines.append(f"SELECT{distinct}")
                lines += [
                    "    " + it + ("," if k < len(items) - 1 else "")
                    for k, it in enumerate(items)
                ]
        elif kw == "ORDER BY":
            items = []
            for p in _split_top_commas(span):
                if p and p[-1].upper() in ("ASC", "DESC"):
                    d = p[-1].upper()
                    items.append(ch_expr(p[:-1]) + " " + d)
                else:
                    items.append(ch_expr(p) + " ASC")
            if len(items) == 1:
                lines.append("ORDER BY " + items[0])
            else:
                lines.append("ORDER BY")
                lines += [
                    "    " + it + ("," if k < len(items) - 1 else "")
                    for k, it in enumerate(items)
                ]
        elif kw:
            lines.append((kw + " " + ch_expr(span)).rstrip())
        elif span:
            lines.append(ch_expr(span))
    return "\n".join(lines)


#: Spark simpleString -> ClickHouse type (lossy: Spark has no unsigned;
#: callers with better knowledge — e.g. numbers() is UInt64 — override)
_SPARK_TO_CH = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "float": "Float32", "double": "Float64",
    "string": "String", "binary": "String", "boolean": "Bool",
    "date": "Date", "timestamp": "DateTime", "timestamp_ntz": "DateTime",
}


def spark_to_ch(t: str) -> str:
    """Best-effort ClickHouse type name for a Spark simpleString."""
    t = t.strip()
    if t in _SPARK_TO_CH:
        return _SPARK_TO_CH[t]
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", t)
    if m:
        return f"Decimal({m.group(1)}, {m.group(2)})"
    m = re.fullmatch(r"(?i)array\s*<(.*)>", t)
    if m:
        return f"Array({spark_to_ch(m.group(1))})"
    m = re.fullmatch(r"(?i)struct\s*<(.*)>", t)
    if m:
        # split fields on top-level commas (types nest via <>)
        parts, depth, cur = [], 0, ""
        for ch in m.group(1):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                cur += ch
        if cur:
            parts.append(cur)
        elems = [spark_to_ch(p.split(":", 1)[-1]) for p in parts]
        return "Tuple(" + ", ".join(elems) + ")"
    return t


def strip_outer_parens(toks: list[str]) -> list[str]:
    """Remove a single redundant outer paren pair around the whole
    token span (the reference prints INDEX/TTL expressions unwrapped)."""
    while len(toks) >= 2 and toks[0] == "(":
        depth = 0
        for k, t in enumerate(toks):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
                if depth == 0 and k != len(toks) - 1:
                    return toks
        toks = toks[1:-1]
    return toks
