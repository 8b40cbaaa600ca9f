"""Canonical EXPLAIN SYNTAX rendering.

Re-implements the reference's formatted-AST output (formatAST with
hilite off, one_line=false): a recursive-descent parser over the
dialect tokenizer per src/Parsers/ExpressionListParsers.cpp, the
formatter per src/Parsers/ASTSelectQuery.cpp:73-199,
ASTFunction.cpp:190-560, ASTExpressionList.cpp:33-59,
ASTSubquery.cpp, ASTTablesInSelectQuery.cpp:105-287,
ASTOrderByElement.cpp and ASTWithAlias.cpp, plus the TreeRewriter
normalizations visible in the output (src/Interpreters/
TreeRewriter.cpp): star / COLUMNS / transformer expansion,
first-table identifier shortening, alias canonicalization, union
normalization (src/Interpreters/NormalizeSelectWithUnionQueryVisitor
.cpp) and cross-to-inner rewriting (src/Interpreters/
CrossToInnerJoinVisitor.cpp).

Everything here is pure text -> text; Spark is never touched.  On any
construct outside the supported subset the module raises
ChExplainError and the caller falls back to its previous rendering.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from daisy_spark.plans.dialect import tokenize


class ChExplainError(Exception):
    pass


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


class Node:
    alias: str = ""

    def hashable(self):
        raise NotImplementedError


@dataclass
class Lit(Node):
    text: str  # canonical spelling
    alias: str = ""

    def hashable(self):
        return ("lit", self.text, self.alias)


@dataclass
class Ident(Node):
    parts: list[str]
    alias: str = ""

    def hashable(self):
        return ("id", tuple(self.parts), self.alias)


@dataclass
class Func(Node):
    name: str
    args: list[Node]
    params: list[Node] | None = None  # parametrized aggregates f(p)(x)
    alias: str = ""
    no_empty_args: bool = False  # `now` vs `now()` — reference keeps ()

    def hashable(self):
        return (
            "fn", self.name, tuple(a.hashable() for a in self.args),
            tuple(p.hashable() for p in self.params) if self.params else None,
            self.alias,
        )


@dataclass
class Star(Node):
    prefix: str = ""  # '' for *, 't' for t.*, regex text for COLUMNS
    kind: str = "star"  # star | qstar | columns | columns_list
    names: list[str] = field(default_factory=list)  # COLUMNS(i, j)
    transformers: list[tuple] = field(default_factory=list)
    alias: str = ""

    def hashable(self):
        return ("star", self.prefix, self.kind, tuple(self.names))


@dataclass
class Sub(Node):
    """Scalar / IN-subquery in an expression position."""

    union: "Union"
    alias: str = ""

    def hashable(self):
        return ("sub", id(self.union), self.alias)


@dataclass
class OrderElem:
    expr: Node
    desc: bool = False
    nulls: str | None = None  # 'FIRST' | 'LAST'
    collate: Node | None = None
    fill: dict | None = None


@dataclass
class TableExpr:
    kind: str  # 'table' | 'tvf' | 'sub'
    node: Node | None = None  # Ident | Func
    sub: "Union | None" = None
    alias: str = ""
    final: bool = False
    sample: tuple | None = None  # (size_node, offset_node|None)
    #: substituted view body (StorageView::replaceWithSubquery): the
    #: raw stored AST — no TreeRewriter runs on it, and pushed
    #: predicates stay in HAVING
    is_view: bool = False


@dataclass
class JoinSpec:
    kind: str  # comma|cross|inner|left|right|full
    strictness: str = ""  # ''|ALL|ANY|ASOF|SEMI|ANTI
    glob: bool = False
    on: Node | None = None
    using: list[Node] | None = None


@dataclass
class ArrayJoin:
    left: bool
    items: list[Node]


@dataclass
class Select:
    with_items: list[Node] = field(default_factory=list)
    distinct: bool = False
    items: list[Node] = field(default_factory=list)
    tables: list[tuple[JoinSpec | None, TableExpr]] = field(default_factory=list)
    array_join: ArrayJoin | None = None
    prewhere: Node | None = None
    where: Node | None = None
    group_by: list[Node] | None = None
    with_rollup: bool = False
    with_cube: bool = False
    with_totals: bool = False
    having: Node | None = None
    order_by: list[OrderElem] | None = None
    limit_by: tuple[Node | None, Node, list[Node]] | None = None
    limit: Node | None = None
    limit_offset: Node | None = None
    with_ties: bool = False
    settings: list[tuple[str, str]] | None = None


@dataclass
class Union:
    children: list["Select | Union"]
    modes: list[str]  # len == len(children) - 1; '' | 'ALL' | 'DISTINCT'
    normalized_mode: str = ""  # set by normalize_union


# ---------------------------------------------------------------------------
# Literal canonicalization (FieldVisitorToString / writeQuotedString)
# ---------------------------------------------------------------------------

_STR_UNESC = {
    "b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t", "0": "\0",
    "a": "\a", "v": "\v", "\\": "\\", "'": "'", '"': '"', "`": "`",
    "/": "/", "=": "=",
}
_STR_ESC = {
    "\b": "\\b", "\f": "\\f", "\n": "\\n", "\r": "\\r", "\t": "\\t",
    "\0": "\\0", "\\": "\\\\", "'": "\\'",
}


def _unquote_string(tok: str) -> str:
    body = tok[1:-1]
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            out.append(_STR_UNESC.get(body[i + 1], body[i + 1]))
            i += 2
        elif c == "'" and i + 1 < len(body) and body[i + 1] == "'":
            out.append("'")
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def quote_string(v: str) -> str:
    return "'" + "".join(_STR_ESC.get(c, c) for c in v) + "'"


def fmt_float(f: float) -> str:
    """The reference's Float64 text (FieldVisitorToString -> formatFloat
    -> double-conversion ToShortest): shortest digits, decimal notation
    for 1e-6 <= |v| < 1e21 with a trailing point on integral values,
    exponential otherwise with a bare exponent."""
    if f != f:
        return "nan"
    if f in (float("inf"), float("-inf")):
        return "inf" if f > 0 else "-inf"
    if f == 0:
        return "-0." if repr(f).startswith("-") else "0."
    sign = "-" if f < 0 else ""
    s = repr(abs(f))
    if "e" in s:
        mant, exp = s.split("e")
        exp_i = int(exp)
    else:
        mant, exp_i = s, 0
    if "." in mant:
        int_part, frac = mant.split(".")
    else:
        int_part, frac = mant, ""
    digits = (int_part + frac).lstrip("0")
    # decimal point position p: value = 0.digits * 10**p
    p = len(int_part.lstrip("0")) + exp_i if int_part.lstrip("0") else (
        exp_i - (len(frac) - len(frac.lstrip("0")))
    )
    digits = digits.rstrip("0") or "0"
    if -6 < p <= 21:
        if p <= 0:
            return sign + "0." + "0" * (-p) + digits
        if p >= len(digits):
            return sign + digits + "0" * (p - len(digits)) + "."
        return sign + digits[:p] + "." + digits[p:]
    head = digits[0] + ("." + digits[1:] if len(digits) > 1 else "")
    return sign + head + "e" + str(p - 1)


def canon_number(tok: str) -> str:
    if re.fullmatch(r"[0-9]+", tok):
        return str(int(tok))
    return fmt_float(float(tok))


_PLAIN_IDENT = re.compile(r"[A-Za-z_][A-Za-z_0-9]*\Z")


def write_ident(name: str) -> str:
    if _PLAIN_IDENT.match(name):
        return name
    return "`" + name.replace("`", "\\`") + "`"


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

_KW = {
    "SELECT", "FROM", "WHERE", "PREWHERE", "GROUP", "ORDER", "BY",
    "HAVING", "LIMIT", "OFFSET", "SETTINGS", "UNION", "WITH", "AS",
    "ASC", "DESC", "DESCENDING", "ASCENDING", "NULLS", "FIRST", "LAST",
    "COLLATE", "TOTALS", "ROLLUP", "CUBE", "TIES", "JOIN", "INNER",
    "LEFT", "RIGHT", "FULL", "CROSS", "OUTER", "ANY", "ALL", "ASOF",
    "SEMI", "ANTI", "GLOBAL", "USING", "ON", "FINAL", "SAMPLE",
    "ARRAY", "DISTINCT", "HAVING", "INTERVAL", "CASE", "WHEN", "THEN",
    "ELSE", "END", "NOT", "AND", "OR", "BETWEEN", "IN", "LIKE",
    "ILIKE", "IS", "NULL", "EXISTS", "APPLY", "EXCEPT", "REPLACE",
    "STRICT", "COLUMNS", "FILL", "STEP", "TO", "STREAM",
}

_TVF_COLS = {
    "numbers": ["number"],
    "numbers_mt": ["number"],
    "zeros": ["zero"],
    "zeros_mt": ["zero"],
}

_SYS_TABLES = {
    "system.one": ["dummy"],
    "system.numbers": ["number"],
    "system.zeros": ["zero"],
}


def _kwu(t: str) -> str:
    return t.upper() if t and t[0].isalpha() else t


class _P:
    def __init__(self, toks: list[str]):
        self.t = toks
        self.i = 0

    def peek(self, off: int = 0) -> str:
        j = self.i + off
        return self.t[j] if j < len(self.t) else ""

    def kw(self, off: int = 0) -> str:
        return _kwu(self.peek(off))

    def next(self) -> str:
        t = self.peek()
        self.i += 1
        return t

    def expect(self, tok: str) -> None:
        if _kwu(self.peek()) != tok:
            raise ChExplainError(f"expected {tok}, got {self.peek()!r}")
        self.i += 1

    def at_end(self) -> bool:
        return self.i >= len(self.t)


def _is_ident_tok(t: str) -> bool:
    return bool(t) and (t[0].isalpha() or t[0] == "_" or t[0] == "`")


def _ident_name(t: str) -> str:
    return t[1:-1].replace("\\`", "`").replace("``", "`") if t[:1] == "`" else t


# --- expressions -----------------------------------------------------------

_CMP_OPS = {
    "=": "equals", "==": "equals", "!=": "notEquals", "<>": "notEquals",
    "<": "less", ">": "greater", "<=": "lessOrEquals",
    ">=": "greaterOrEquals",
}

_INTERVAL_UNITS = {
    "second": "Second", "minute": "Minute", "hour": "Hour", "day": "Day",
    "week": "Week", "month": "Month", "quarter": "Quarter", "year": "Year",
}


class _ExprParser:
    def __init__(self, p: _P):
        self.p = p

    # precedence climbing, low -> high
    def expr(self) -> Node:
        return self.lambda_()

    def lambda_(self) -> Node:
        p = self.p
        start = p.i
        # ident -> body   |   (a, b) -> body
        if _is_ident_tok(p.peek()) and p.peek(1) == "->":
            x = Ident([_ident_name(p.next())])
            p.next()
            body = self.lambda_()
            return Func("lambda", [Func("tuple", [x]), body])
        if p.peek() == "(":
            # try (a, b) ->
            j = p.i
            ok = True
            names = []
            k = j + 1
            while k < len(p.t):
                if p.t[k] == ")":
                    break
                if not _is_ident_tok(p.t[k]):
                    ok = False
                    break
                names.append(_ident_name(p.t[k]))
                k += 1
                if p.t[k] == ",":
                    k += 1
                elif p.t[k] == ")":
                    break
                else:
                    ok = False
                    break
            if ok and names and k + 1 < len(p.t) and p.t[k + 1] == "->":
                p.i = k + 2
                body = self.lambda_()
                return Func(
                    "lambda",
                    [Func("tuple", [Ident([n]) for n in names]), body],
                )
            p.i = start
        return self.ternary()

    def ternary(self) -> Node:
        cond = self.or_()
        if self.p.peek() == "?":
            self.p.next()
            a = self.or_()
            self.p.expect(":")
            b = self.ternary()
            return Func("if", [cond, a, b])
        return cond

    def or_(self) -> Node:
        args = [self.and_()]
        while self.p.kw() == "OR":
            self.p.next()
            args.append(self.and_())
        return args[0] if len(args) == 1 else Func("or", args)

    def and_(self) -> Node:
        args = [self.not_()]
        while self.p.kw() == "AND":
            self.p.next()
            args.append(self.not_())
        return args[0] if len(args) == 1 else Func("and", args)

    def not_(self) -> Node:
        if self.p.kw() == "NOT":
            self.p.next()
            return Func("not", [self.not_()])
        return self.comparison()

    def comparison(self) -> Node:
        lhs = self.concat()
        p = self.p
        t = p.peek()
        k = _kwu(t)
        if t in _CMP_OPS:
            p.next()
            return Func(_CMP_OPS[t], [lhs, self.concat()])
        neg = False
        if k == "NOT" and _kwu(p.peek(1)) in ("LIKE", "ILIKE", "IN", "BETWEEN"):
            neg = True
            p.next()
            k = _kwu(p.peek())
        if k == "GLOBAL" and _kwu(p.peek(1)) in ("IN", "NOT"):
            p.next()
            if _kwu(p.peek()) == "NOT":
                neg = True
                p.next()
            p.expect("IN")
            return Func("globalNotIn" if neg else "globalIn",
                        [lhs, self.concat()])
        if k in ("LIKE", "ILIKE"):
            p.next()
            nm = {"LIKE": "like", "ILIKE": "ilike"}[k]
            if neg:
                nm = {"like": "notLike", "ilike": "notILike"}[nm]
            return Func(nm, [lhs, self.concat()])
        if k == "IN":
            p.next()
            return Func("notIn" if neg else "in", [lhs, self.concat()])
        if k == "BETWEEN":
            p.next()
            lo = self.concat()
            p.expect("AND")
            hi = self.concat()
            ge = Func("greaterOrEquals", [lhs, lo])
            le = Func("lessOrEquals", [lhs, hi])
            both = Func("and", [ge, le])
            return Func("not", [both]) if neg else both
        if k == "IS":
            p.next()
            if _kwu(p.peek()) == "NOT":
                p.next()
                p.expect("NULL")
                return Func("isNotNull", [lhs])
            p.expect("NULL")
            return Func("isNull", [lhs])
        return lhs

    def concat(self) -> Node:
        args = [self.additive()]
        while self.p.peek() == "||":
            self.p.next()
            args.append(self.additive())
        return args[0] if len(args) == 1 else Func("concat", args)

    def additive(self) -> Node:
        lhs = self.multiplicative()
        while self.p.peek() in ("+", "-"):
            op = self.p.next()
            rhs = self.multiplicative()
            lhs = Func("plus" if op == "+" else "minus", [lhs, rhs])
        return lhs

    def multiplicative(self) -> Node:
        lhs = self.unary()
        while self.p.peek() in ("*", "/", "%"):
            op = self.p.next()
            rhs = self.unary()
            lhs = Func(
                {"*": "multiply", "/": "divide", "%": "modulo"}[op],
                [lhs, rhs],
            )
        return lhs

    def unary(self) -> Node:
        if self.p.peek() == "-":
            self.p.next()
            arg = self.unary()
            if isinstance(arg, Lit) and not arg.alias and re.match(
                r"[0-9.]", arg.text
            ):
                # negate folds into a numeric literal (ASTFunction.cpp:243)
                return Lit("-" + arg.text)
            return Func("negate", [arg])
        if self.p.peek() == "+":
            self.p.next()
            return self.unary()
        return self.postfix()

    def postfix(self) -> Node:
        e = self.atom()
        p = self.p
        while True:
            t = p.peek()
            if t == "[":
                p.next()
                idx = self.expr()
                p.expect("]")
                e = Func("arrayElement", [e, idx])
            elif t == "." and re.fullmatch(r"[0-9]+", p.peek(1) or ""):
                p.next()
                e = Func("tupleElement", [e, Lit(p.next())])
            elif t == "::":
                p.next()
                ty = self._type_text()
                e = Func("CAST", [e, Lit(quote_string(ty))])
            elif t == "(" and isinstance(e, Func) and e.params is None and not e.args and e.no_empty_args is False and False:
                break
            else:
                break
        return e

    def _type_text(self) -> str:
        # a type name possibly with (args): emitted verbatim
        p = self.p
        parts = [p.next()]
        if p.peek() == "(":
            depth = 0
            while True:
                t = p.next()
                parts.append(t)
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                    if depth == 0:
                        break
        out = ""
        for x in parts:
            if out and (x[0].isalnum() or x[0] in "_'") and (
                out[-1].isalnum() or out[-1] in "_'"
            ):
                out += " " + x
            else:
                out += x
        return out

    def atom(self) -> Node:
        p = self.p
        t = p.peek()
        k = _kwu(t)
        if not t:
            raise ChExplainError("unexpected end of expression")
        if t.startswith("'"):
            p.next()
            return Lit(quote_string(_unquote_string(t)))
        if re.fullmatch(r"[0-9]+(?:\.[0-9]*)?(?:[eE][+-]?[0-9]+)?|\.[0-9]+", t):
            p.next()
            return Lit(canon_number(t))
        if k == "NULL":
            p.next()
            return Lit("NULL")
        if t == "*":
            p.next()
            return self._star_tail(Star())
        if t == "[":
            p.next()
            args = []
            if p.peek() != "]":
                args.append(self.expr())
                while p.peek() == ",":
                    p.next()
                    args.append(self.expr())
            p.expect("]")
            return Func("array", args)
        if t == "(":
            # subquery / tuple / paren expr
            if _kwu(p.peek(1)) in ("SELECT", "WITH"):
                save = p.i
                try:
                    p.next()
                    u = parse_union(p)
                    p.expect(")")
                    return Sub(u)
                except ChExplainError:
                    p.i = save
            p.next()
            first = self.expr()
            if p.peek() == ",":
                args = [first]
                while p.peek() == ",":
                    p.next()
                    args.append(self.expr())
                p.expect(")")
                return Func("tuple", args)
            # a parenthesized expression may carry its own alias:
            # ((SELECT 2) AS subquery)
            if _kwu(p.peek()) == "AS" and _is_ident_tok(p.peek(1)):
                p.next()
                first.alias = _ident_name(p.next())
            p.expect(")")
            # plain parens vanish in the canonical form (the formatter
            # re-adds them from operator need_parens rules)
            return first
        if k == "CASE":
            return self._case()
        if k == "INTERVAL":
            p.next()
            val = self.additive()
            unit = p.next().lower()
            if unit not in _INTERVAL_UNITS:
                raise ChExplainError(f"bad interval unit {unit}")
            return Func(f"toInterval{_INTERVAL_UNITS[unit]}", [val])
        if k == "CAST" and p.peek(1) == "(":
            save = p.i
            p.next()
            p.next()
            e = self.expr()
            if _kwu(p.peek()) == "AS":
                p.next()
                ty = self._type_text()
                p.expect(")")
                return Func("CAST", [e, Lit(quote_string(ty))])
            p.i = save  # CAST(x, 'T') — fall through to generic call
        if k == "EXISTS" and p.peek(1) == "(":
            p.next()
            p.next()
            u = parse_union(p)
            p.expect(")")
            return Func("exists", [Sub(u)])
        if k == "COLUMNS" and p.peek(1) == "(":
            p.next()
            p.next()
            if p.peek().startswith("'"):
                pat = _unquote_string(p.next())
                p.expect(")")
                return self._star_tail(Star(prefix=pat, kind="columns"))
            names = []
            while True:
                names.append(_ident_name(p.next()))
                if p.peek() == ",":
                    p.next()
                    continue
                break
            p.expect(")")
            return self._star_tail(Star(kind="columns_list", names=names))
        if _is_ident_tok(t):
            # qualified star t.* / db.t.*
            if p.peek(1) == "." and p.peek(2) == "*":
                nm = _ident_name(p.next())
                p.next()
                p.next()
                return self._star_tail(Star(prefix=nm, kind="qstar"))
            # function call?
            if p.peek(1) == "(":
                name = _ident_name(p.next())
                p.next()
                if _kwu(p.peek()) == "DISTINCT":
                    # ParserFunction: DISTINCT inside the call renames
                    # the aggregate (count -> countDistinct; fooIf ->
                    # fooDistinctIf — the -Distinct combinator slots in
                    # before -If)
                    p.next()
                    if name.lower() == "count":
                        name = "countDistinct"
                    elif name.endswith("If"):
                        name = name[:-2] + "DistinctIf"
                    else:
                        name = name + "Distinct"
                args = self._call_args()
                params = None
                if p.peek() == "(":
                    p.next()
                    params, args = args, self._call_args()
                return Func(name, args, params=params)
            # dotted identifier
            parts = [_ident_name(p.next())]
            while p.peek() == "." and _is_ident_tok(p.peek(1)):
                p.next()
                parts.append(_ident_name(p.next()))
            return Ident(parts)
        raise ChExplainError(f"unsupported token {t!r}")

    def _call_args(self) -> list[Node]:
        p = self.p
        args: list[Node] = []
        if p.peek() == ")":
            p.next()
            return args
        while True:
            args.append(self._aliasable())
            if p.peek() == ",":
                p.next()
                continue
            p.expect(")")
            return args

    def _aliasable(self) -> Node:
        """expr [AS alias] — aliases are legal inside call args
        (`sum(i + 1 AS i)`)."""
        e = self.expr()
        p = self.p
        if _kwu(p.peek()) == "AS" and _is_ident_tok(p.peek(1)):
            p.next()
            e.alias = _ident_name(p.next())
        return e

    def _star_tail(self, s: Star) -> Star:
        p = self.p
        while _kwu(p.peek()) in ("APPLY", "EXCEPT", "REPLACE"):
            kind = _kwu(p.next())
            strict = False
            if _kwu(p.peek()) == "STRICT":
                strict = True
                p.next()
            if kind == "APPLY":
                if p.peek() == "(":
                    p.next()
                    fname = _ident_name(p.next())
                    fparams = None
                    if p.peek() == "(":
                        p.next()
                        fparams = self._call_args()
                    p.expect(")")
                    s.transformers.append(("APPLY", fname, fparams))
                else:
                    s.transformers.append(("APPLY", _ident_name(p.next()), None))
            elif kind == "EXCEPT":
                names = []
                if p.peek() == "(":
                    p.next()
                    while True:
                        names.append(_ident_name(p.next()))
                        if p.peek() == ",":
                            p.next()
                            continue
                        break
                    p.expect(")")
                else:
                    names.append(_ident_name(p.next()))
                s.transformers.append(("EXCEPT", strict, names))
            else:  # REPLACE
                reps = []
                if p.peek() == "(":
                    p.next()
                    while True:
                        e = self.expr()
                        self.p.expect("AS")
                        col = _ident_name(p.next())
                        reps.append((e, col))
                        if p.peek() == ",":
                            p.next()
                            continue
                        break
                    p.expect(")")
                else:
                    e = self.expr()
                    self.p.expect("AS")
                    reps.append((e, _ident_name(p.next())))
                s.transformers.append(("REPLACE", strict, reps))
        return s

    def _case(self) -> Node:
        p = self.p
        p.expect("CASE")
        operand = None
        if _kwu(p.peek()) != "WHEN":
            operand = self.expr()
        whens: list[tuple[Node, Node]] = []
        while _kwu(p.peek()) == "WHEN":
            p.next()
            c = self.expr()
            p.expect("THEN")
            v = self.expr()
            whens.append((c, v))
        els = None
        if _kwu(p.peek()) == "ELSE":
            p.next()
            els = self.expr()
        p.expect("END")
        if els is None:
            els = Lit("NULL")
        if operand is not None:
            args: list[Node] = [operand]
            for c, v in whens:
                args += [c, v]
            args.append(els)
            return Func("caseWithExpression", args)
        if len(whens) == 1:
            return Func("if", [whens[0][0], whens[0][1], els])
        args = []
        for c, v in whens:
            args += [c, v]
        args.append(els)
        return Func("multiIf", args)


def parse_expr_item(p: _P) -> Node:
    """A select-list / order-by item: expr with optional (bare) alias."""
    e = _ExprParser(p).expr()
    k = _kwu(p.peek())
    if k == "AS" and _is_ident_tok(p.peek(1)):
        p.next()
        e.alias = _ident_name(p.next())
    elif (
        _is_ident_tok(p.peek())
        and _kwu(p.peek()) not in _KW
        and not isinstance(e, Star)
    ):
        e.alias = _ident_name(p.next())
    return e


# --- select / union --------------------------------------------------------


def parse_union(p: _P) -> "Union":
    children: list[Select | Union] = []
    modes: list[str] = []
    children.append(_parse_union_element(p))
    while _kwu(p.peek()) == "UNION":
        p.next()
        mode = ""
        if _kwu(p.peek()) in ("ALL", "DISTINCT"):
            mode = _kwu(p.next())
        modes.append(mode)
        children.append(_parse_union_element(p))
    return Union(children, modes)


def _parse_union_element(p: _P) -> "Select | Union":
    if p.peek() == "(":
        p.next()
        u = parse_union(p)
        p.expect(")")
        if len(u.children) == 1 and isinstance(u.children[0], Select):
            return u.children[0]
        return u
    return parse_select(p)


def parse_select(p: _P) -> Select:
    sel = Select()
    if _kwu(p.peek()) == "WITH":
        p.next()
        while True:
            sel.with_items.append(parse_expr_item(p))
            if p.peek() == ",":
                p.next()
                continue
            break
    p.expect("SELECT")
    if _kwu(p.peek()) == "STREAM":
        raise ChExplainError("SELECT STREAM unsupported in explain")
    if _kwu(p.peek()) == "DISTINCT":
        p.next()
        sel.distinct = True
    while True:
        sel.items.append(parse_expr_item(p))
        if p.peek() == ",":
            p.next()
            continue
        break
    if _kwu(p.peek()) == "FROM":
        p.next()
        sel.tables.append((None, _parse_table_expr(p)))
        while True:
            js = _parse_join_spec(p)
            if js is None:
                break
            te = _parse_table_expr(p)
            if js.kind not in ("comma", "cross"):
                if _kwu(p.peek()) == "USING":
                    p.next()
                    paren = p.peek() == "("
                    if paren:
                        p.next()
                    cols = [parse_expr_item(p)]
                    while p.peek() == ",":
                        p.next()
                        cols.append(parse_expr_item(p))
                    if paren:
                        p.expect(")")
                    js.using = cols
                elif _kwu(p.peek()) == "ON":
                    p.next()
                    js.on = _ExprParser(p).expr()
            sel.tables.append((js, te))
    if _kwu(p.peek()) == "LEFT" and _kwu(p.peek(1)) == "ARRAY":
        p.next()
        p.next()
        p.expect("JOIN")
        sel.array_join = ArrayJoin(True, _parse_item_list(p))
    elif _kwu(p.peek()) == "ARRAY" and _kwu(p.peek(1)) == "JOIN":
        p.next()
        p.next()
        sel.array_join = ArrayJoin(False, _parse_item_list(p))
    if _kwu(p.peek()) == "PREWHERE":
        p.next()
        sel.prewhere = _ExprParser(p).expr()
    if _kwu(p.peek()) == "WHERE":
        p.next()
        sel.where = _ExprParser(p).expr()
    if _kwu(p.peek()) == "GROUP":
        p.next()
        p.expect("BY")
        sel.group_by = _parse_item_list(p)
        while _kwu(p.peek()) == "WITH":
            p.next()
            w = _kwu(p.next())
            if w == "ROLLUP":
                sel.with_rollup = True
            elif w == "CUBE":
                sel.with_cube = True
            elif w == "TOTALS":
                sel.with_totals = True
            else:
                raise ChExplainError(f"WITH {w}?")
    if _kwu(p.peek()) == "HAVING":
        p.next()
        sel.having = _ExprParser(p).expr()
    if _kwu(p.peek()) == "ORDER":
        p.next()
        p.expect("BY")
        sel.order_by = []
        while True:
            sel.order_by.append(_parse_order_elem(p))
            if p.peek() == ",":
                p.next()
                continue
            break
    # LIMIT [o,] n [BY items] — possibly twice (limit-by + limit)
    while _kwu(p.peek()) == "LIMIT":
        p.next()
        n1 = _ExprParser(p).expr()
        off = None
        if p.peek() == ",":
            p.next()
            off, n1 = n1, _ExprParser(p).expr()
        if _kwu(p.peek()) == "BY":
            p.next()
            sel.limit_by = (off, n1, _parse_item_list(p))
            continue
        if _kwu(p.peek()) == "OFFSET":
            p.next()
            off = _ExprParser(p).expr()
        sel.limit = n1
        sel.limit_offset = off
        if _kwu(p.peek()) == "WITH":
            p.next()
            p.expect("TIES")
            sel.with_ties = True
        break
    if _kwu(p.peek()) == "OFFSET" and sel.limit is None:
        p.next()
        sel.limit_offset = _ExprParser(p).expr()
    if _kwu(p.peek()) == "SETTINGS":
        p.next()
        sel.settings = []
        while True:
            nm = p.next()
            p.expect("=")
            sel.settings.append((nm, p.next()))
            if p.peek() == ",":
                p.next()
                continue
            break
    return sel


def _parse_item_list(p: _P) -> list[Node]:
    items = [parse_expr_item(p)]
    while p.peek() == ",":
        p.next()
        items.append(parse_expr_item(p))
    return items


def _parse_order_elem(p: _P) -> OrderElem:
    e = parse_expr_item(p)
    el = OrderElem(e)
    k = _kwu(p.peek())
    if k in ("ASC", "ASCENDING"):
        p.next()
    elif k in ("DESC", "DESCENDING"):
        p.next()
        el.desc = True
    if _kwu(p.peek()) == "NULLS":
        p.next()
        el.nulls = _kwu(p.next())
    if _kwu(p.peek()) == "COLLATE":
        p.next()
        el.collate = _ExprParser(p).expr()
    if _kwu(p.peek()) == "WITH" and _kwu(p.peek(1)) == "FILL":
        p.next()
        p.next()
        el.fill = {}
        if _kwu(p.peek()) == "FROM":
            p.next()
            el.fill["from"] = _ExprParser(p).expr()
        if _kwu(p.peek()) == "TO":
            p.next()
            el.fill["to"] = _ExprParser(p).expr()
        if _kwu(p.peek()) == "STEP":
            p.next()
            el.fill["step"] = _ExprParser(p).expr()
    return el


def _parse_join_spec(p: _P) -> JoinSpec | None:
    k = _kwu(p.peek())
    if k == ",":
        p.next()
        return JoinSpec("comma")
    glob = False
    j = 0
    if k == "GLOBAL":
        glob = True
        j = 1
        k = _kwu(p.peek(1))
    strictness = ""
    kind = ""
    # [ALL|ANY|ASOF|SEMI|ANTI] [INNER|LEFT|RIGHT|FULL|CROSS] [OUTER] JOIN
    while True:
        if k in ("ALL", "ANY", "ASOF", "SEMI", "ANTI") and not strictness:
            strictness = k
        elif k in ("INNER", "LEFT", "RIGHT", "FULL", "CROSS") and not kind:
            kind = k.lower()
        elif k == "OUTER":
            pass
        elif k == "JOIN":
            for _ in range(j + 1):
                p.next()
            return JoinSpec(kind or "inner", strictness, glob)
        else:
            return None
        j += 1
        k = _kwu(p.peek(j))


def _parse_table_expr(p: _P) -> TableExpr:
    te = TableExpr("table")
    if p.peek() == "(":
        p.next()
        te.kind = "sub"
        te.sub = parse_union(p)
        p.expect(")")
    elif _is_ident_tok(p.peek()):
        if p.peek(1) == "(":
            name = _ident_name(p.next())
            p.next()
            te.kind = "tvf"
            te.node = Func(name, _ExprParser(p)._call_args())
        else:
            parts = [_ident_name(p.next())]
            while p.peek() == "." and _is_ident_tok(p.peek(1)):
                p.next()
                parts.append(_ident_name(p.next()))
            te.node = Ident(parts)
    else:
        raise ChExplainError(f"bad FROM item at {p.peek()!r}")
    # alias
    if _kwu(p.peek()) == "AS" and _is_ident_tok(p.peek(1)):
        p.next()
        te.alias = _ident_name(p.next())
    elif _is_ident_tok(p.peek()) and _kwu(p.peek()) not in _KW:
        te.alias = _ident_name(p.next())
    if _kwu(p.peek()) == "FINAL":
        p.next()
        te.final = True
    if _kwu(p.peek()) == "SAMPLE":
        p.next()
        size = _ExprParser(p).expr()
        off = None
        if _kwu(p.peek()) == "OFFSET":
            p.next()
            off = _ExprParser(p).expr()
        te.sample = (size, off)
    return te


# ---------------------------------------------------------------------------
# Union normalization (NormalizeSelectWithUnionQueryVisitor.cpp)
# ---------------------------------------------------------------------------


def _collect_selects(node: "Select | Union", out: list) -> None:
    if isinstance(node, Union):
        for c in node.children:
            _collect_selects(c, out)
    else:
        out.append(node)


def normalize_union(u: Union, default_mode: str = "") -> Union:
    # bottom-up
    for idx, c in enumerate(u.children):
        if isinstance(c, Union):
            u.children[idx] = normalize_union(c, default_mode)
    modes = list(u.modes)
    for i in range(len(modes)):
        if modes[i] == "":
            if default_mode in ("ALL", "DISTINCT"):
                modes[i] = default_mode
            else:
                raise ChExplainError(
                    "UNION without ALL/DISTINCT and empty union_default_mode"
                )
    selects: list[Select | Union] = []
    i = len(modes) - 1
    while i >= 0:
        child = u.children[i + 1]
        if modes[i] == "ALL":
            if isinstance(child, Union) and child.normalized_mode == "ALL":
                for sub in reversed(child.children):
                    selects.append(sub)
            else:
                selects.append(child)
        else:  # DISTINCT: flatten everything to the left plus this child
            flat: list[Select] = []
            for j in range(i + 2):
                _collect_selects(u.children[j], flat)
            dl = Union(list(flat), ["DISTINCT"] * (len(flat) - 1))
            dl.normalized_mode = "DISTINCT"
            selects.append(dl)
            break
        i -= 1
    if i == -1:
        child = u.children[0]
        if isinstance(child, Union) and child.normalized_mode == "ALL":
            for sub in reversed(child.children):
                selects.append(sub)
        else:
            selects.append(child)
    if len(selects) == 1 and isinstance(selects[0], Union):
        return selects[0]
    selects.reverse()
    res = Union(selects, ["ALL"] * (len(selects) - 1))
    res.normalized_mode = "ALL"
    return res


# ---------------------------------------------------------------------------
# TreeRewriter-visible normalization: star expansion + ident shortening
# ---------------------------------------------------------------------------


@dataclass
class _Tbl:
    names: set[str]  # every name this table answers to
    cols: list[str]
    #: columns hidden from asterisk expansion (right side of USING)
    excl: set[str] = field(default_factory=set)
    cols_known: bool = True


def _build_tbls(sel: Select, ctx: "Ctx") -> list[_Tbl]:
    tbls: list[_Tbl] = []
    for js, te in sel.tables:
        cols = ctx.columns_of(te)
        known = cols is not None
        excl: set[str] = set()
        if js is not None and js.using:
            # USING columns are coalesced: the right table's copies
            # drop out of asterisk expansion
            for u9 in js.using:
                if isinstance(u9, Ident):
                    excl.add(u9.parts[-1])
        tbls.append(_Tbl(_table_names(te), cols or [], excl, known))
    return tbls


class Ctx:
    """Schema context: table name -> ordered visible columns.  Values
    may be plain column lists or dicts with `cols`, `sorting_key`,
    `mergetree`, `view` metadata."""

    def __init__(self, schemas: dict, settings: dict):
        self.schemas: dict[str, list[str]] = {
            k: list(v) for k, v in _SYS_TABLES.items()
        }
        self.meta: dict[str, dict] = {}
        for k, v in (schemas or {}).items():
            if isinstance(v, dict):
                self.schemas[k] = list(v.get("cols", []))
                self.meta[k] = v
            else:
                self.schemas[k] = list(v)
        self.settings = settings or {}

    def table_meta(self, te: TableExpr) -> dict | None:
        if te.kind != "table" or not isinstance(te.node, Ident):
            return None
        nm = ".".join(te.node.parts)
        return self.meta.get(nm) or self.meta.get(te.node.parts[-1])

    def columns_of(self, te: TableExpr) -> list[str] | None:
        if te.kind == "tvf":
            assert isinstance(te.node, Func)
            return list(_TVF_COLS.get(te.node.name, [])) or None
        if te.kind == "sub":
            first: list[Select] = []
            _collect_selects(te.sub, first)
            out = []
            for it in first[0].items:
                nm = _output_name(it)
                if nm is None:
                    return None
                out.append(nm)
            return out
        assert isinstance(te.node, Ident)
        nm = ".".join(te.node.parts)
        if nm in self.schemas:
            return list(self.schemas[nm])
        if te.node.parts[-1] in self.schemas:
            return list(self.schemas[te.node.parts[-1]])
        return None


def _output_name(item: Node) -> str | None:
    if item.alias:
        return item.alias
    if isinstance(item, Ident):
        return item.parts[-1]
    if isinstance(item, Lit):
        return item.text
    if isinstance(item, Func):
        return column_name(item)
    return None


def column_name(n: Node) -> str:
    """The reference's appendColumnName: canonical one-line text."""
    return format_expr(n, _Fmt(), indent=0, need_parens=False, with_alias=False)


def _table_names(te: TableExpr) -> set[str]:
    names: set[str] = set()
    if te.alias:
        names.add(te.alias)
        return names
    if te.kind == "table" and isinstance(te.node, Ident):
        names.add(".".join(te.node.parts))
        names.add(te.node.parts[-1])
    elif te.kind == "tvf" and isinstance(te.node, Func):
        names.add(te.node.name)
    return names


def normalize_select(sel: Select, ctx: Ctx) -> None:
    # normalize nested subqueries first
    for _, te in sel.tables:
        if te.kind == "sub":
            te.sub = normalize_union(
                te.sub, ctx.settings.get("union_default_mode", "")
            )
            for s in _walk_selects(te.sub):
                normalize_select(s, ctx)
    tbls = _build_tbls(sel, ctx)
    cols_ok = all(t.cols_known for t in tbls)
    # --- star expansion (TreeRewriter expands asterisks in the select
    # list, GROUP BY and LIMIT BY alike)
    def _expand_list(items: list[Node]) -> list[Node]:
        out: list[Node] = []
        for it in items:
            if isinstance(it, Star):
                out.extend(_expand_star(it, tbls, cols_ok))
            else:
                out.append(it)
        return out

    sel.items = _expand_list(sel.items)
    if sel.group_by is not None:
        sel.group_by = _expand_list(sel.group_by)
    if sel.limit_by is not None:
        off9, n9, by9 = sel.limit_by
        sel.limit_by = (off9, n9, _expand_list(by9))
    # --- identifier shortening everywhere
    for n in _walk_exprs(sel):
        _shorten_idents(n, tbls)
    # --- cross-to-inner
    if ctx.settings.get("cross_to_inner_join", "1") not in ("0", "false"):
        _cross_to_inner(sel, tbls)
    # subqueries in expressions
    for n in _walk_exprs(sel):
        for sub in _iter_nodes(n):
            if isinstance(sub, Sub):
                sub.union = normalize_union(
                    sub.union, ctx.settings.get("union_default_mode", "")
                )
                for s in _walk_selects(sub.union):
                    normalize_select(s, ctx)
    # optimizer passes run after this level's children — bottom-up,
    # mirroring InterpreterSelectQuery's subquery-first analysis
    _optimize(sel, ctx)


def _expand_star(st: Star, tbls: list[_Tbl], cols_ok: bool) -> list[Node]:
    if not cols_ok or not tbls:
        raise ChExplainError("star expansion needs source columns")
    all_cols = [c for t in tbls for c in t.cols]
    base: list[tuple[Node, str]] = []

    def _ident_for(ti: int, c: str) -> Node:
        unique = all_cols.count(c) == 1
        if ti == 0 or unique:
            return Ident([c])
        q = sorted(tbls[ti].names, key=len)[0]
        return Ident([q, c])

    if st.kind == "star":
        for ti, t in enumerate(tbls):
            for c in t.cols:
                if c in t.excl:
                    continue
                base.append((_ident_for(ti, c), c))
    elif st.kind == "qstar":
        match = [
            (ti, t) for ti, t in enumerate(tbls) if st.prefix in t.names
        ]
        if not match:
            raise ChExplainError(f"unknown qualifier {st.prefix}")
        for ti, t in match:
            for c in t.cols:
                base.append((_ident_for(ti, c), c))
    elif st.kind == "columns":
        rx = re.compile(st.prefix)
        for ti, t in enumerate(tbls):
            for c in t.cols:
                if rx.search(c):
                    base.append((_ident_for(ti, c), c))
    else:  # columns_list
        for nm in st.names:
            for ti, t in enumerate(tbls):
                if nm in t.cols:
                    base.append((_ident_for(ti, nm), nm))
                    break
            else:
                raise ChExplainError(f"unknown column {nm}")
    for tr in st.transformers:
        if tr[0] == "APPLY":
            _, fname, fparams = tr
            base = [
                (Func(fname, [e], params=fparams), f"{fname}({nm})")
                for e, nm in base
            ]
        elif tr[0] == "EXCEPT":
            _, strict, names = tr
            if strict:
                missing = [x for x in names if x not in {nm for _, nm in base}]
                if missing:
                    raise ChExplainError(f"EXCEPT STRICT: {missing}")
            base = [(e, nm) for e, nm in base if nm not in names]
        else:  # REPLACE
            _, strict, reps = tr
            repmap = {}
            for e, col in reps:
                if col in repmap:
                    raise ChExplainError("doubly-replaced column")
                repmap[col] = e
            if strict:
                missing = [
                    x for x in repmap if x not in {nm for _, nm in base}
                ]
                if missing:
                    raise ChExplainError(f"REPLACE STRICT: {missing}")
            out = []
            for e, nm in base:
                if nm in repmap:
                    # self-references substitute the CURRENT expression
                    # (REPLACE(i+1 AS i) twice -> (i + 1) + 1 AS i)
                    prev = _clone(e)
                    prev.alias = ""
                    r2 = _subst_ident(_clone(repmap[nm]), nm, prev)
                    r2.alias = nm
                    out.append((r2, nm))
                else:
                    out.append((e, nm))
            base = out
    if not base:
        raise ChExplainError("empty column list after transformers")
    return [e for e, _ in base]


def _subst_ident(n: Node, name: str, repl: Node) -> Node:
    if isinstance(n, Ident) and n.parts == [name] and not n.alias:
        return _clone(repl)
    if isinstance(n, Func):
        n.args = [_subst_ident(a, name, repl) for a in n.args]
    return n


def _clone(n: Node) -> Node:
    if isinstance(n, Lit):
        return Lit(n.text, n.alias)
    if isinstance(n, Ident):
        return Ident(list(n.parts), n.alias)
    if isinstance(n, Func):
        return Func(
            n.name, [_clone(a) for a in n.args],
            params=[_clone(x) for x in n.params] if n.params else None,
            alias=n.alias, no_empty_args=n.no_empty_args,
        )
    if isinstance(n, Sub):
        return Sub(n.union, n.alias)
    return n


def _iter_nodes(n: Node):
    yield n
    if isinstance(n, Func):
        for a in n.args:
            yield from _iter_nodes(a)
        for pnode in n.params or []:
            yield from _iter_nodes(pnode)


def _walk_selects(u: "Union | Select"):
    if isinstance(u, Union):
        for c in u.children:
            yield from _walk_selects(c)
    else:
        yield u


def _walk_exprs(sel: Select):
    yield from sel.with_items
    yield from sel.items
    for js, _ in sel.tables:
        if js:
            if js.on is not None:
                yield js.on
            for u9 in js.using or []:
                yield u9
    if sel.array_join:
        yield from sel.array_join.items
    for x in (sel.prewhere, sel.where, sel.having, sel.limit,
              sel.limit_offset):
        if x is not None:
            yield x
    yield from sel.group_by or []
    for oe in sel.order_by or []:
        yield oe.expr
        if oe.collate is not None:
            yield oe.collate
    if sel.limit_by:
        off, n1, items = sel.limit_by
        if off is not None:
            yield off
        yield n1
        yield from items


def _shorten_idents(n: Node, tbls: list[_Tbl]) -> None:
    all_cols = [c for t in tbls for c in t.cols]
    for sub in _iter_nodes(n):
        if isinstance(sub, Ident) and len(sub.parts) >= 2:
            q = ".".join(sub.parts[:-1])
            c = sub.parts[-1]
            for ti, t in enumerate(tbls):
                if q in t.names and c in t.cols:
                    if ti == 0 or all_cols.count(c) == 1:
                        sub.parts = [c]
                    break


def _expr_tables(n: Node, tbls: list[_Tbl]) -> set[int]:
    """Which table index each column reference resolves to."""
    out: set[int] = set()
    for sub in _iter_nodes(n):
        if isinstance(sub, Ident):
            if len(sub.parts) >= 2:
                q = ".".join(sub.parts[:-1])
                for ti, t in enumerate(tbls):
                    if q in t.names:
                        out.add(ti)
                        break
            else:
                for ti, t in enumerate(tbls):
                    if sub.parts[0] in t.cols:
                        out.add(ti)
                        break
    return out


def _cross_to_inner(sel: Select, tbls: list[_Tbl]) -> None:
    if len(sel.tables) != 2 or sel.where is None:
        return
    js, _ = sel.tables[1]
    if js is None or js.kind not in ("comma", "cross") or js.on or js.using:
        return
    conjuncts = (
        list(sel.where.args)
        if isinstance(sel.where, Func) and sel.where.name == "and"
        else [sel.where]
    )
    on_parts = []
    for c in conjuncts:
        if isinstance(c, Func) and c.name == "equals" and len(c.args) == 2:
            ta = _expr_tables(c.args[0], tbls)
            tb = _expr_tables(c.args[1], tbls)
            if (ta, tb) in (({0}, {1}), ({1}, {0})):
                on_parts.append(_clone(c))
    if not on_parts:
        return
    js.kind = "inner"
    js.strictness = "ALL"
    js.on = on_parts[0] if len(on_parts) == 1 else Func("and", on_parts)


# ---------------------------------------------------------------------------
# TreeOptimizer passes (src/Interpreters/TreeOptimizer.cpp:593-680).
# InterpreterSelectQuery analyzes subqueries before the enclosing level,
# so every pass runs bottom-up — normalize_select calls _optimize after
# its subqueries are done, which reproduces that order.
# ---------------------------------------------------------------------------

#: aggregates registered with .is_order_dependent = true
_ORDER_DEP_AGGS = {
    "any", "anyLast", "anyHeavy", "min", "max", "groupArray",
    "groupArrayInsertAt", "groupArrayMovingSum", "groupArrayMovingAvg",
    "groupArraySample", "groupUniqArray", "topK", "topKWeighted",
    "deltaSum", "deltaSumTimestamp",
}
_COMBINATORS = (
    "If", "Array", "OrNull", "OrDefault", "Distinct", "State", "Merge",
    "ForEach", "Resample", "SimpleState",
)
#: IFunction::isStateful() == true
_STATEFUL_FNS = {
    "neighbor", "runningAccumulate", "runningDifference",
    "runningDifferenceStartingWithFirstValue", "rowNumberInBlock",
    "rowNumberInAllBlocks", "blockNumber", "finalizeAggregation",
    "runningConcurrency",
}
#: one-argument functions whose isInjective({}) is true
_INJECTIVE_1ARG = {
    "negate", "bitNot", "toString", "reverse", "reverseUTF8",
    "concatAssumeInjective", "tuple", "hex", "toFixedString",
}
_UNIQS = {
    "uniq", "uniqExact", "uniqHLL12", "uniqCombined", "uniqCombined64",
    "uniqTheta",
}


def _setting_on(settings: dict, name: str, default: bool) -> bool:
    v = str(settings.get(name, "1" if default else "0")).strip().lower()
    return v not in ("0", "false", "")


def _strip_combinators(name: str) -> str:
    changed = True
    while changed:
        changed = False
        for c in _COMBINATORS:
            if name.endswith(c) and name[: -len(c)]:
                name = name[: -len(c)]
                changed = True
    return name


def _map_expr(n: Node, fn) -> Node:
    """Bottom-up map over an expression tree (not descending into
    subqueries, matching needChildVisit == false for ASTSubquery)."""
    if isinstance(n, Func):
        n.args = [_map_expr(a, fn) for a in n.args]
        if n.params:
            n.params = [_map_expr(a, fn) for a in n.params]
    return fn(n)


def _map_select_exprs(sel: Select, fn) -> None:
    sel.with_items = [_map_expr(x, fn) for x in sel.with_items]
    sel.items = [_map_expr(x, fn) for x in sel.items]
    for js, _ in sel.tables:
        if js:
            if js.on is not None:
                js.on = _map_expr(js.on, fn)
            if js.using:
                js.using = [_map_expr(x, fn) for x in js.using]
    if sel.array_join:
        sel.array_join.items = [
            _map_expr(x, fn) for x in sel.array_join.items
        ]
    if sel.prewhere is not None:
        sel.prewhere = _map_expr(sel.prewhere, fn)
    if sel.where is not None:
        sel.where = _map_expr(sel.where, fn)
    if sel.group_by is not None:
        sel.group_by = [_map_expr(x, fn) for x in sel.group_by]
    if sel.having is not None:
        sel.having = _map_expr(sel.having, fn)
    for oe in sel.order_by or []:
        oe.expr = _map_expr(oe.expr, fn)
    if sel.limit_by:
        off, n1, items = sel.limit_by
        sel.limit_by = (off, n1, [_map_expr(x, fn) for x in items])


def _has_stateful(sel: Select) -> bool:
    for top in _walk_exprs(sel):
        for n in _iter_nodes(top):
            if isinstance(n, Func):
                base = _strip_combinators(n.name)
                if base in _ORDER_DEP_AGGS or n.name in _STATEFUL_FNS:
                    return True
    return False


def _if_chain_fold(n: Node) -> Node:
    if (
        isinstance(n, Func) and n.name == "if" and len(n.args) == 3
        and n.params is None
    ):
        e = n.args[2]
        if (
            isinstance(e, Func) and e.name in ("if", "multiIf")
            and not e.alias and e.params is None
        ):
            return Func(
                "multiIf", [n.args[0], n.args[1], *e.args], alias=n.alias
            )
    return n


def _injective_peel(n: Node) -> Node:
    if isinstance(n, Func) and n.name in _UNIQS and n.params is None:
        for i, a in enumerate(n.args):
            while (
                isinstance(a, Func) and len(a.args) == 1
                and a.params is None and a.name in _INJECTIVE_1ARG
            ):
                a = a.args[0]
            n.args[i] = a
    return n


_NONDETERMINISTIC = {
    "rand", "rand64", "randConstant", "now", "now64", "today",
    "yesterday", "generateUUIDv4", "randomString", "randomFixedString",
    "randomPrintableASCII", "randomStringUTF8", "uptime", "hostName",
    "currentDatabase", "currentUser", "rowNumberInBlock", "fuzzBits",
}
_COMMON_AGGS = _ORDER_DEP_AGGS | _UNIQS | {
    "sum", "count", "avg", "median", "quantile", "quantiles", "corr",
    "varSamp", "varPop", "stddevSamp", "stddevPop", "argMin", "argMax",
}


def _is_redundant_fn(e: Func, keys: set[str]) -> bool:
    """RedundantFunctionsInOrderByVisitor.h: every function node in the
    tree must be deterministic, non-lambda, with arguments that are
    either functions (checked recursively) or identifiers already
    present among the previous ORDER BY keys."""
    for n in _iter_nodes(e):
        if isinstance(n, Func):
            if n.name == "lambda" or not n.args or n.params is not None:
                return False
            if (
                n.name in _NONDETERMINISTIC
                or _strip_combinators(n.name) in _COMMON_AGGS
            ):
                return False
            for a in n.args:
                if isinstance(a, Func):
                    continue
                if isinstance(a, Ident) and ".".join(a.parts) in keys:
                    continue
                return False
    return True


def _redundant_order_by(sel: Select) -> None:
    if not sel.order_by:
        return
    prev: set[str] = set()
    out = []
    for oe in sel.order_by:
        e = oe.expr
        if isinstance(e, Func) and prev and _is_redundant_fn(e, prev):
            continue
        if isinstance(e, Ident):
            prev.add(".".join(e.parts))
        out.append(oe)
    if len(out) < len(sel.order_by):
        sel.order_by = out


#: single-arg functions whose positive monotonicity lets ORDER BY peel
#: them (src/Interpreters/MonotonicityCheckVisitor.h — any order
#: sorted by the argument is also sorted by the function)
_MONOTONE_POS = {
    "toDate", "toDateTime", "toDateTime64", "toStartOfDay",
    "toStartOfHour", "toStartOfMinute", "toStartOfFiveMinute",
    "toStartOfTenMinutes", "toStartOfFifteenMinutes", "toStartOfMonth",
    "toStartOfQuarter", "toStartOfYear", "toStartOfWeek",
    "toYYYYMM", "toYYYYMMDD", "toYYYYMMDDhhmmss", "toUnixTimestamp",
}


def _monotonous_order_by(sel: Select, ctx: Ctx) -> None:
    """optimize_monotonous_functions_in_order_by
    (src/Interpreters/TreeOptimizer.cpp optimizeMonotonousFunctionsInOrderBy):
    replace a positively-monotone function call in ORDER BY with its
    argument — UNLESS the storage's sorting key can already supply the
    order (the rewrite would defeat read-in-order)."""
    if not sel.order_by:
        return
    if (
        sel.tables
        and sel.tables[0][0] is None and len(sel.tables) == 1
        and _plan_sort_prefix(sel, ctx) > 0
    ):
        return
    for oe in sel.order_by:
        e = oe.expr
        while (
            isinstance(e, Func) and e.params is None
            and e.name in _MONOTONE_POS and len(e.args) == 1
        ):
            e = e.args[0]
        oe.expr = e


def _dups_in_order_by(sel: Select) -> None:
    """optimizeDuplicatesInOrderBy (always on): unique (column-name,
    collation) pairs, first occurrence wins."""
    if not sel.order_by:
        return
    seen: set = set()
    out = []
    for oe in sel.order_by:
        key = (
            column_name(oe.expr),
            column_name(oe.collate) if oe.collate is not None else "",
        )
        if key in seen:
            continue
        seen.add(key)
        out.append(oe)
    if len(out) < len(sel.order_by):
        sel.order_by = out


def _dups_in_limit_by(sel: Select) -> None:
    if not sel.limit_by:
        return
    off, n1, items = sel.limit_by
    seen: set = set()
    out = []
    for it in items:
        key = column_name(it)
        if key in seen:
            continue
        seen.add(key)
        out.append(it)
    if len(out) < len(items):
        sel.limit_by = (off, n1, out)


def _dups_in_using(sel: Select) -> None:
    for js, _ in sel.tables:
        if js is not None and js.using:
            seen: set = set()
            out = []
            for u9 in js.using:
                key = u9.alias or column_name(u9)
                if key in seen:
                    continue
                seen.add(key)
                out.append(u9)
            js.using = out


def _unquote_canon(text: str) -> str:
    """Reverse of quote_string on a canonical string literal."""
    return _unquote_string(text)


def _any_out(n: Node) -> Node:
    """RewriteAnyFunctionVisitor.cpp: any(f(x, y)) -> f(any(x), any(y))
    — every identifier occurrence wraps in the aggregate, the function
    moves out; blocked by arrayJoin / lambda / nested aggregates."""
    if not (
        isinstance(n, Func) and n.name in ("any", "anyLast")
        and n.params is None and len(n.args) == 1
    ):
        return n
    inner = n.args[0]
    if not (isinstance(inner, Func) and inner.args):
        return n

    ok = True

    def _wrap(m: Node) -> Node:
        nonlocal ok
        if isinstance(m, Func):
            if (
                m.name in ("arrayJoin", "lambda")
                or _strip_combinators(m.name) in _COMMON_AGGS
            ):
                ok = False
                return m
            m.args = [_wrap(a) for a in m.args]
            return m
        if isinstance(m, Ident):
            return Func(n.name, [m])
        return m

    probe = _clone(inner)
    probe = _wrap(probe)
    if not ok:
        return n
    probe.alias = n.alias
    return probe


def _strings_to_enum(n: Node) -> Node:
    """ConvertStringsToEnumVisitor.cpp: transform(x, from, to_strings,
    other) CASTs the string branches to a shared Enum8.  The `if`
    branch of the reference checks arguments.size() != 2 and therefore
    never fires for the 3-argument if — bug-compatible here."""
    if not (
        isinstance(n, Func) and n.name == "transform"
        and n.params is None and len(n.args) == 4
    ):
        return n
    arr, other = n.args[2], n.args[3]
    if not (
        isinstance(other, Lit) and other.text.startswith("'")
        and isinstance(arr, Func) and arr.name == "array" and arr.args
        and all(
            isinstance(x, Lit) and x.text.startswith("'")
            for x in arr.args
        )
    ):
        return n
    values = sorted(
        {_unquote_canon(x.text) for x in arr.args}
        | {_unquote_canon(other.text)}
    )
    head = "Enum8(" if len(values) < 255 else "Enum16("
    enum_s = head + ", ".join(
        f"'{v}' = {i}" for i, v in enumerate(values, 1)
    ) + ")"
    n.args[2] = Func(
        "CAST", [arr, Lit(quote_string("Array(" + enum_s + ")"))]
    )
    n.args[3] = Func("CAST", [other, Lit(quote_string(enum_s))])
    return n


_ARITH_SUPPORTED = {
    "sum": {"multiply", "divide"},
    "min": {"multiply", "divide", "plus", "minus"},
    "max": {"multiply", "divide", "plus", "minus"},
    "avg": {"multiply", "divide", "plus", "minus"},
}


def _arith_out_once(n: Node) -> Node | None:
    """ArithmeticOperationsInAgrFuncOptimize.cpp tryExchangeFunctions:
    agg(x op lit) -> agg(x) op lit (min/max swap under negative
    multiply/divide); aggregate names resolve case-insensitively and
    come out canonical lowercase."""
    if not (
        isinstance(n, Func) and n.params is None and len(n.args) == 1
    ):
        return None
    lower = n.name.lower()
    if lower not in _ARITH_SUPPORTED:
        return None
    child = n.args[0]
    if not (
        isinstance(child, Func) and child.params is None
        and len(child.args) == 2
        and child.name in _ARITH_SUPPORTED[lower]
    ):
        return None
    if n.alias or child.alias:
        return None
    a0, a1 = child.args
    lit0, lit1 = isinstance(a0, Lit), isinstance(a1, Lit)

    def _new_name(lit: Lit) -> str:
        if (
            lower in ("min", "max")
            and child.name in ("multiply", "divide")
            and lit.text.startswith("-")
        ):
            return "max" if lower == "min" else "min"
        return lower

    if lit0 and not lit1:
        if child.name == "divide":
            return None
        return Func(child.name, [a0, Func(_new_name(a0), [a1])])
    if lit1:
        return Func(child.name, [Func(_new_name(a1), [a0]), a1])
    return None


def _arith_out(n: Node) -> Node:
    out = _arith_out_once(n)
    if out is None:
        return n
    # the exchange creates a new inner aggregate that may itself match
    return _map_expr(out, _arith_out)


def _fuse_sum_count(sel: Select) -> None:
    """TreeRewriter fuseSumCountAggregates: when one argument carries
    at least two different of sum/count/avg, rewrite them over a shared
    sumCount() state (sum -> .1, count -> .2, avg -> .1 / .2)."""
    groups: dict[str, dict[str, list[Func]]] = {}
    for top in _walk_exprs(sel):
        for n in _iter_nodes(top):
            if (
                isinstance(n, Func) and n.params is None
                and n.name in ("sum", "count", "avg") and n.args
            ):
                key = column_name(n.args[0])
                groups.setdefault(
                    key, {"sum": [], "count": [], "avg": []}
                )[n.name].append(n)
    for key, g in groups.items():
        kinds = sum(1 for v in g.values() if v)
        if kinds < 2:
            continue
        for kind in ("sum", "avg", "count"):
            for fn in g[kind]:
                arg = _clone(fn.args[0])
                arg.alias = ""
                base = Func("sumCount", [arg])
                if kind in ("sum", "count"):
                    fn.name = "tupleElement"
                    fn.args = [base, Lit("1" if kind == "sum" else "2")]
                else:
                    fn.name = "divide"
                    fn.args = [
                        Func("tupleElement", [base, Lit("1")]),
                        Func(
                            "tupleElement",
                            [Func("sumCount", [_clone(arg)]), Lit("2")],
                        ),
                    ]


# --- scalar subqueries + early constant folding ---------------------------


def _smallest_type(v) -> str:
    if isinstance(v, str):
        return "String"
    if isinstance(v, float) and v != int(v):
        return "Float64"
    v = int(v)
    if v >= 0:
        for t, hi in (("UInt8", 1 << 8), ("UInt16", 1 << 16),
                      ("UInt32", 1 << 32), ("UInt64", 1 << 64)):
            if v < hi:
                return t
    else:
        for t, lo in (("Int8", -(1 << 7)), ("Int16", -(1 << 15)),
                      ("Int32", -(1 << 31)), ("Int64", -(1 << 63))):
            if v >= lo:
                return t
    return "Int64"


def _scalar_subquery(n: Node) -> Node:
    """ExecuteScalarSubqueriesVisitor: a literal-only scalar subquery
    executes at analysis time and prints as
    identity(CAST(value, 'type')) with the alias preserved."""
    if not isinstance(n, Sub):
        return n
    sels = list(_walk_selects(n.union))
    if len(sels) != 1:
        return n
    s = sels[0]
    if (
        s.tables or s.where is not None or s.group_by is not None
        or s.order_by or s.limit is not None or len(s.items) != 1
        or not isinstance(s.items[0], Lit) or s.distinct
        or s.with_items or s.having is not None
    ):
        return n
    lit = s.items[0]
    try:
        v = (
            _unquote_canon(lit.text) if lit.text.startswith("'")
            else float(lit.text)
        )
    except ValueError:
        return n
    if isinstance(v, float) and v == int(v):
        v = int(v)
    return Func(
        "identity",
        [Func("CAST", [Lit(lit.text), Lit(quote_string(_smallest_type(v)))])],
        alias=n.alias,
    )


def _eval_const(n: Node):
    """Numeric constant evaluation; None when not a constant."""
    if isinstance(n, Lit):
        try:
            f = float(n.text)
        except ValueError:
            return None
        return int(f) if f == int(f) else f
    if not isinstance(n, Func) or n.params is not None:
        return None
    if n.name in ("in", "notIn"):
        lhs = _eval_const(n.args[0])
        if lhs is None:
            return None
        rhs = n.args[1]
        elems = rhs.args if isinstance(rhs, Func) and rhs.name in (
            "tuple", "array"
        ) else [rhs]
        vals = [_eval_const(e) for e in elems]
        if any(v is None for v in vals):
            return None
        hit = lhs in vals
        return int(hit if n.name == "in" else not hit)
    args = [_eval_const(a) for a in n.args]
    if any(a is None for a in args):
        return None
    try:
        if n.name == "equals":
            return int(args[0] == args[1])
        if n.name == "notEquals":
            return int(args[0] != args[1])
        if n.name == "less":
            return int(args[0] < args[1])
        if n.name == "greater":
            return int(args[0] > args[1])
        if n.name == "lessOrEquals":
            return int(args[0] <= args[1])
        if n.name == "greaterOrEquals":
            return int(args[0] >= args[1])
        if n.name == "and":
            return int(all(a != 0 for a in args))
        if n.name == "or":
            return int(any(a != 0 for a in args))
        if n.name == "not":
            return int(args[0] == 0)
        if n.name == "plus":
            return args[0] + args[1]
        if n.name == "minus":
            return args[0] - args[1]
        if n.name == "multiply":
            return args[0] * args[1]
        if n.name == "negate":
            return -args[0]
    except TypeError:
        return None
    return None


def _fold_where(sel: Select) -> None:
    """Early constant folding of the WHERE clause as a whole: an
    always-true constant drops the clause, a false one prints as its
    folded literal (WHERE 0)."""
    if sel.where is None:
        return
    v = _eval_const(sel.where)
    if v is None:
        return
    if v != 0:
        sel.where = None
    else:
        sel.where = Lit("0")


# --- move WHERE -> PREWHERE (MergeTreeWhereOptimizer.cpp) -----------------

#: KeyCondition::atom_map entry names (primary-key-matchable functions)
_KEY_ATOMS = {
    "equals", "notEquals", "less", "greater", "lessOrEquals",
    "greaterOrEquals", "in", "notIn", "globalIn", "globalNotIn",
    "like", "notLike", "startsWith", "isNull", "isNotNull", "empty",
    "notEmpty",
}


def _cond_idents(n: Node) -> set[str]:
    out: set[str] = set()
    for sub in _iter_nodes(n):
        if isinstance(sub, Ident):
            out.add(sub.parts[-1])
    return out


def _flatten_and(n: Node) -> list[Node]:
    """analyzeImpl: recurse only through `and` conjunctions."""
    if isinstance(n, Func) and n.name == "and":
        out: list[Node] = []
        for a in n.args:
            out.extend(_flatten_and(a))
        return out
    return [n]


def _cannot_be_moved(n: Node, is_final: bool, sorting: set[str]) -> bool:
    for sub in _iter_nodes(n):
        if isinstance(sub, Func) and sub.name in (
            "arrayJoin", "globalIn", "globalNotIn", "indexHint"
        ):
            return True
        if (
            is_final and isinstance(sub, Ident)
            and sub.parts[-1] not in sorting
        ):
            return True
    return False


def _is_pk_atom(n: Node, first_pk: str) -> bool:
    if not first_pk or not isinstance(n, Func):
        return False
    if n.name in ("not", "and", "or"):
        return any(_is_pk_atom(a, first_pk) for a in n.args)
    if n.name not in _KEY_ATOMS or len(n.args) != 2:
        return False
    a, b = n.args
    a_name, b_name = column_name(a), column_name(b)
    if first_pk == a_name and isinstance(b, Lit):
        return True
    if first_pk == b_name and isinstance(a, Lit):
        return True
    if first_pk == a_name and n.name in ("in", "notIn", "globalIn",
                                         "globalNotIn"):
        return True
    return False


def _is_condition_good(n: Node) -> bool:
    if not (isinstance(n, Func) and n.name == "equals" and len(n.args) == 2):
        return False
    a, b = n.args
    if not isinstance(a, Ident) and isinstance(b, Ident):
        a, b = b, a
    if isinstance(a, Ident) and isinstance(b, Lit):
        try:
            return abs(float(b.text)) > 2
        except ValueError:
            return False
    return False


def _move_to_prewhere(sel: Select, ctx: Ctx) -> None:
    if sel.where is None or sel.prewhere is not None or not sel.tables:
        return
    te = sel.tables[0][1]
    meta = ctx.table_meta(te)
    if not meta or not meta.get("mergetree"):
        return
    table_cols = set(meta.get("cols", []))
    sorting = set(meta.get("sorting_key", []))
    first_pk = meta["sorting_key"][0] if meta.get("sorting_key") else ""
    is_final = te.final
    queried: set[str] = set()
    for top in _walk_exprs(sel):
        queried |= _cond_idents(top) & table_cols
    conds = []
    for node in _flatten_and(sel.where):
        ids = _cond_idents(node)
        viable = (
            bool(ids)
            and not _cannot_be_moved(node, is_final, sorting)
            and not _is_pk_atom(node, first_pk)
            and ids <= table_cols
            and len(ids) < len(queried)
        )
        good = viable and _is_condition_good(node)
        conds.append(
            {"node": node, "ids": ids, "viable": viable, "good": good}
        )
    moved: list[dict] = []
    moved_cols = 0
    while conds:
        # no column-size stats here: the compact-parts count fallback
        # (25% of queried columns) decides when enough has moved
        best = min(
            range(len(conds)),
            key=lambda i: (
                not conds[i]["viable"], not conds[i]["good"],
                0, len(conds[i]["ids"]),
            ),
        )
        c = conds[best]
        if not c["viable"]:
            break
        if moved_cols > 0 and (moved_cols + len(c["ids"])) * 4 > len(
            queried
        ):
            break
        moved.append(c)
        moved_cols += len(c["ids"])
        del conds[best]
        # companions on the identical column set move along
        conds2 = []
        for other in conds:
            if other["viable"] and other["ids"] == c["ids"]:
                moved.append(other)
            else:
                conds2.append(other)
        conds = conds2
    if not moved:
        return

    def _reconstruct(cs: list[dict]) -> Node | None:
        if not cs:
            return None
        if len(cs) == 1:
            return cs[0]["node"]
        return Func("and", [c["node"] for c in cs])

    sel.prewhere = _reconstruct(moved)
    sel.where = _reconstruct(conds)


def _fold_prewhere_into_where(sel: Select) -> None:
    """InterpreterSelectQuery.cpp:451: with both PREWHERE and WHERE
    present, WHERE becomes and(prewhere, where) — the prewhere
    condition is re-checked in WHERE for better filtering."""
    if sel.prewhere is not None and sel.where is not None and not getattr(
        sel, "_pw_folded", False
    ):
        sel.where = Func("and", [_clone(sel.prewhere), sel.where])
        sel._pw_folded = True


# --- predicate pushdown (PredicateExpressionsOptimizer.cpp) ---------------


def _split_conjuncts(n: Node | None) -> list[Node]:
    if n is None:
        return []
    if isinstance(n, Func) and n.name == "and" and not n.alias:
        out: list[Node] = []
        for a in n.args:
            out.extend(_split_conjuncts(a))
        return out
    return [n]


def _and_join(parts: list[Node]) -> Node:
    res = parts[0]
    for p in parts[1:]:
        res = Func("and", [res, p])
    return res


def _expr_flags(n: Node) -> dict:
    """ExpressionInfoVisitor: stateful / nondeterministic / aggregate /
    arrayJoin content of one predicate."""
    f = {"stateful": False, "nondet": False, "agg": False, "aj": False}
    for sub in _iter_nodes(n):
        if isinstance(sub, Func):
            if sub.name in _STATEFUL_FNS:
                f["stateful"] = True
            if sub.name in _NONDETERMINISTIC:
                f["nondet"] = True
            if sub.name == "arrayJoin":
                f["aj"] = True
            if _strip_combinators(sub.name) in _COMMON_AGGS:
                f["agg"] = True
    return f


def _having_to_where(sel: Select) -> bool:
    """tryMovePredicatesFromHavingToWhere: non-aggregate HAVING
    conjuncts move into WHERE (not under ROLLUP/CUBE/TOTALS)."""
    if sel.having is None or sel.with_cube or sel.with_rollup or (
        sel.with_totals
    ):
        return False
    where_parts: list[Node] = []
    having_parts: list[Node] = []
    for c in _split_conjuncts(sel.having):
        fl = _expr_flags(c)
        if fl["stateful"]:
            return False
        if fl["agg"]:
            having_parts.append(c)
        else:
            where_parts.append(c)
    if not where_parts:
        return False
    sel.having = _and_join(having_parts) if having_parts else None
    moved = _and_join(where_parts)
    sel.where = (
        moved if sel.where is None else Func("and", [sel.where, moved])
    )
    return True


def _predicate_tables(n: Node, tbls: list[_Tbl]) -> set[int] | None:
    """Which tables a predicate references; None when a column can't be
    resolved (pushdown then aborts)."""
    out: set[int] = set()
    for sub in _iter_nodes(n):
        if isinstance(sub, Ident):
            if len(sub.parts) >= 2:
                q = ".".join(sub.parts[:-1])
                hit = [ti for ti, t in enumerate(tbls) if q in t.names]
                if hit:
                    out.add(hit[0])
                    continue
            hit = [
                ti for ti, t in enumerate(tbls)
                if sub.parts[-1] in t.cols
            ]
            if hit:
                out.add(hit[0])
            else:
                return None
    return out


def _push_predicates(sel: Select, tbls: list[_Tbl], ctx: Ctx) -> None:
    if not sel.tables:
        return
    if sel.where is None and sel.prewhere is None:
        return
    if sel.array_join is not None:
        return
    per_table: list[list[Node]] = [[] for _ in sel.tables]
    for pred in _split_conjuncts(sel.where) + _split_conjuncts(sel.prewhere):
        fl = _expr_flags(pred)
        if fl["stateful"] or fl["nondet"]:
            return  # nothing is optimized at all
        if fl["aj"]:
            continue
        refs = _predicate_tables(pred, tbls)
        if refs is None:
            return
        if len(refs) == 1:
            per_table[next(iter(refs))].append(pred)
        elif not refs:
            for lst in per_table:
                lst.append(pred)
    if not any(per_table):
        return
    # right-to-left with the reference's outer-join guards
    for idx in range(len(sel.tables) - 1, -1, -1):
        js, te = sel.tables[idx]
        if js is not None and js.kind == "left":
            continue
        if js is not None and js.kind == "full":
            break
        _push_into_table(te, per_table[idx], tbls[idx], ctx)
        if js is not None and js.kind == "right":
            break


def _substitute_view(te: TableExpr, ctx: Ctx) -> None:
    """StorageView::replaceWithSubquery: the view's stored query AST
    replaces the table reference, aliased by the explicit alias or the
    view's name; bare table names inside the body print db-qualified
    (the stored AST carries the database)."""
    meta = ctx.table_meta(te)
    if not meta or not meta.get("view"):
        return
    try:
        toks = tokenize(str(meta["view"]).strip().rstrip(";"))
        body = parse_union(_P(toks))
    except ChExplainError:
        return
    for s in _walk_selects(body):
        for _, ite in s.tables:
            if (
                ite.kind == "table" and isinstance(ite.node, Ident)
                and len(ite.node.parts) == 1
                and ite.node.parts[0] in ctx.meta
            ):
                ite.node.parts = ["default", ite.node.parts[0]]
    if not te.alias and isinstance(te.node, Ident):
        te.alias = te.node.parts[-1]
    te.kind = "sub"
    te.sub = body
    te.is_view = True


def _push_into_table(
    te: TableExpr, preds: list[Node], tbl: _Tbl, ctx: Ctx
) -> None:
    if not preds:
        return
    if te.kind == "table":
        _substitute_view(te, ctx)
    if te.kind != "sub":
        return
    sels = list(_walk_selects(te.sub))
    if len(sels) != 1:
        return  # non-first union branches need positional re-aliasing
    if te.is_view:
        # the view body is not re-analyzed: predicates stay in HAVING
        _rewrite_subquery(sels[0], preds, tbl)
        return
    sub = sels[0]
    if _rewrite_subquery(sub, preds, tbl):
        # the modified subquery is re-analyzed (need_analyze_again):
        # its own optimizer runs again, moving HAVING down to WHERE and
        # cascading the pushdown further
        _optimize(sub, ctx)


def _rewrite_subquery(sub: Select, preds: list[Node], tbl: _Tbl) -> bool:
    if sub.order_by and any(oe.fill for oe in sub.order_by):
        return False
    if sub.limit_by or sub.limit is not None or sub.limit_offset is not None:
        return False
    for it in sub.items:
        fl = _expr_flags(it)
        if fl["stateful"] or fl["nondet"] or fl["aj"]:
            return False
    for p in preds:
        cp = _clone(p)

        def _strip_alias(m: Node) -> Node:
            if not isinstance(m, Sub):
                m.alias = ""
            if isinstance(m, Ident) and len(m.parts) >= 2 and (
                ".".join(m.parts[:-1]) in tbl.names
            ):
                m.parts = [m.parts[-1]]
            return m

        cp = _map_expr(cp, _strip_alias)
        sub.having = (
            cp if sub.having is None else Func("and", [cp, sub.having])
        )
    return True


def _simple_subselect(sel: Select) -> Select | None:
    """getSimpleSubselect (TreeOptimizer.cpp:279): single FROM item,
    a subquery with exactly one select and no SETTINGS."""
    if len(sel.tables) != 1:
        return None
    te = sel.tables[0][1]
    if te.kind != "sub":
        return None
    sels = list(_walk_selects(te.sub))
    if len(sels) != 1 or not isinstance(te.sub.children[0], Select):
        return None
    if sels[0].settings:
        return None
    return sels[0]


def _distinct_names(sel: Select) -> set[str]:
    if not sel.items:
        return set()
    names: set[str] = set()
    implicit: set[str] = set()
    if not sel.distinct:
        sub = _simple_subselect(sel)
        if sub is not None:
            implicit = _distinct_names(sub)
        if not implicit:
            return set()
    for it in sel.items:
        if isinstance(it, Ident):
            nm = it.parts[-1]
            if sel.distinct or nm in implicit:
                names.add(it.alias or nm)
        elif sel.distinct and it.alias:
            names.add(it.alias)
    if not sel.distinct and len(names) != len(implicit):
        return set()
    return names


def _dup_order_by(sel: Select) -> None:
    if not (sel.order_by or sel.group_by is not None):
        return
    if _has_stateful(sel):
        return
    if not sel.tables:
        return
    te = sel.tables[0][1]
    if te.kind != "sub":
        return
    first = next(iter(_walk_selects(te.sub)), None)
    if (
        first is not None and first.order_by
        and not first.limit_by and first.limit is None
        and first.limit_offset is None
    ):
        first.order_by = None


def _dup_distinct(sel: Select) -> None:
    if not sel.items:
        return
    sub = _simple_subselect(sel)
    if sub is None:
        return
    dn = _distinct_names(sub)
    selected: set[str] = set()
    for it in sel.items:
        if not isinstance(it, Ident):
            return
        nm = it.parts[-1]
        if nm not in dn:
            return
        selected.add(nm)
    if len(selected) != len(dn):
        return
    sel.distinct = False


def _optimize(sel: Select, ctx: Ctx) -> None:
    s = ctx.settings

    # count(DISTINCT x) -> count_distinct_implementation (TreeRewriter's
    # CustomizeVisitor, before the optimizer proper)
    impl = s.get("count_distinct_implementation", "uniqExact")

    def _count_distinct(n: Node) -> Node:
        if isinstance(n, Func) and n.name == "countDistinct":
            return Func(impl, n.args, alias=n.alias)
        if isinstance(n, Func) and n.name == "countDistinctIf":
            return Func(impl + "If", n.args, alias=n.alias)
        return n

    _map_select_exprs(sel, _count_distinct)
    _map_select_exprs(sel, _scalar_subquery)
    _fold_where(sel)
    if _setting_on(s, "optimize_fuse_sum_count_avg", False):
        _fuse_sum_count(sel)
    if _setting_on(s, "optimize_if_chain_to_multiif", False):
        _map_select_exprs(sel, _if_chain_fold)
    # count(*) -> count() (TranslateQualifiedNames)
    def _count_star(n: Node) -> Node:
        if (
            isinstance(n, Func) and n.name.lower() == "count"
            and n.params is None and len(n.args) == 1
            and isinstance(n.args[0], Star) and n.args[0].kind == "star"
            and not n.args[0].transformers
        ):
            return Func("count", [], alias=n.alias)
        return n

    _map_select_exprs(sel, _count_star)
    if _setting_on(
        s, "optimize_arithmetic_operations_in_aggregate_functions", True
    ):
        _map_select_exprs(sel, _arith_out)
    if _setting_on(s, "enable_optimize_predicate_expression", True):
        _having_to_where(sel)
        _push_predicates(sel, _build_tbls(sel, ctx), ctx)
    if _setting_on(s, "optimize_move_functions_out_of_any", False):
        _map_select_exprs(sel, _any_out)
    if _setting_on(s, "optimize_injective_functions_inside_uniq", True):
        _map_select_exprs(sel, _injective_peel)
    if _setting_on(s, "optimize_duplicate_order_by_and_distinct", True):
        _dup_order_by(sel)
        _dup_distinct(sel)
    if _setting_on(s, "optimize_redundant_functions_in_order_by", True):
        _redundant_order_by(sel)
    if _setting_on(s, "optimize_monotonous_functions_in_order_by", False):
        _monotonous_order_by(sel, ctx)
    _dups_in_order_by(sel)
    if _setting_on(s, "optimize_if_transform_strings_to_enum", False):
        _map_select_exprs(sel, _strings_to_enum)
    _dups_in_limit_by(sel)
    _dups_in_using(sel)
    # storage-level analysis (InterpreterSelectQuery::analyze): move
    # WHERE to PREWHERE once per select, then re-check the prewhere
    # condition in WHERE
    if not getattr(sel, "_pw_tried", False) and _setting_on(
        s, "optimize_move_to_prewhere", True
    ):
        sel._pw_tried = True
        _move_to_prewhere(sel, ctx)
    _fold_prewhere_into_where(sel)
    # TreeRewriter::setJoinStrictness: unspecified strictness takes
    # join_default_strictness (printed explicitly, e.g. ALL INNER JOIN)
    default_strict = str(s.get("join_default_strictness", "ALL")).upper()
    for js, _ in sel.tables:
        if (
            js is not None and js.kind not in ("cross", "comma")
            and not js.strictness and default_strict in ("ALL", "ANY")
        ):
            js.strictness = default_strict


# ---------------------------------------------------------------------------
# Formatter (formatAST, hilite off, one_line = false)
# ---------------------------------------------------------------------------

_BIN_OP = {
    "multiply": " * ", "divide": " / ", "modulo": " % ", "plus": " + ",
    "minus": " - ", "notEquals": " != ", "lessOrEquals": " <= ",
    "greaterOrEquals": " >= ", "less": " < ", "greater": " > ",
    "equals": " = ", "like": " LIKE ", "ilike": " ILIKE ",
    "notLike": " NOT LIKE ", "notILike": " NOT ILIKE ", "in": " IN ",
    "notIn": " NOT IN ", "globalIn": " GLOBAL IN ",
    "globalNotIn": " GLOBAL NOT IN ",
}


class _Fmt:
    """Shared format state: printed-aliased-subtree dedup
    (ASTWithAlias::formatImpl printed_asts_with_alias)."""

    def __init__(self):
        self.printed: set = set()
        self.select_id: int = 0


def format_expr(
    n: Node, st: _Fmt, indent: int, need_parens: bool,
    with_alias: bool = True,
) -> str:
    alias = n.alias if with_alias else ""
    if alias:
        key = (st.select_id, alias, n.hashable())
        if key in st.printed:
            return write_ident(alias)
        st.printed.add(key)
    body = _format_no_alias(n, st, indent, need_parens and not alias)
    if alias:
        out = body + " AS " + write_ident(alias)
        if need_parens:
            out = "(" + out + ")"
        return out
    return body


def _format_no_alias(n: Node, st: _Fmt, indent: int, need_parens: bool) -> str:
    if isinstance(n, Lit):
        return n.text
    if isinstance(n, Ident):
        return ".".join(write_ident(x) for x in n.parts)
    if isinstance(n, Star):
        out = ("" if not n.prefix else n.prefix + ".") + "*"
        return out
    if isinstance(n, Sub):
        pad = "    " * indent
        inner = format_union(n.union, st, indent + 1)
        return "(\n" + inner + "\n" + pad + ")"
    assert isinstance(n, Func), n
    return _format_func(n, st, indent, need_parens)


def _format_func(f: Func, st: _Fmt, indent: int, need_parens: bool) -> str:
    name, args = f.name, f.args
    if f.params is None:
        if len(args) == 1 and name in ("negate", "not"):
            opch = "-" if name == "negate" else "NOT "
            lit = isinstance(args[0], Lit)
            inner = format_expr(args[0], st, indent, True)
            out = opch + inner
            if not lit and need_parens:
                out = "(" + out + ")"
            return out
        if len(args) == 2 and name in _BIN_OP:
            lhs = format_expr(args[0], st, indent, True)
            # x IN 1 prints as x IN (1)
            rhs_node = args[1]
            extra = (
                name in ("in", "notIn", "globalIn", "globalNotIn")
                and not isinstance(rhs_node, (Func, Sub))
            )
            if extra:
                rhs = "(" + format_expr(rhs_node, st, indent, False) + ")"
            else:
                rhs = format_expr(rhs_node, st, indent, True)
            out = lhs + _BIN_OP[name] + rhs
            if need_parens:
                out = "(" + out + ")"
            return out
        if len(args) == 2 and name == "arrayElement":
            out = (
                format_expr(args[0], st, indent, True)
                + "[" + format_expr(args[1], st, indent, False) + "]"
            )
            return "(" + out + ")" if need_parens else out
        if len(args) == 2 and name == "tupleElement" and isinstance(
            args[1], Lit
        ) and re.fullmatch(r"[0-9]+", args[1].text):
            out = (
                format_expr(args[0], st, indent, True)
                + "." + args[1].text
            )
            return "(" + out + ")" if need_parens else out
        if len(args) == 2 and name == "lambda":
            lhs_t = args[0]
            if (
                isinstance(lhs_t, Func) and lhs_t.name == "tuple"
                and len(lhs_t.args) == 1
            ):
                lhs = format_expr(lhs_t.args[0], st, indent, True)
            else:
                lhs = format_expr(lhs_t, st, indent, True)
            out = lhs + " -> " + format_expr(args[1], st, indent, True)
            return "(" + out + ")" if need_parens else out
        if len(args) >= 2 and name in ("and", "or"):
            opch = " AND " if name == "and" else " OR "
            out = opch.join(
                format_expr(a, st, indent, True) for a in args
            )
            if need_parens:
                out = "(" + out + ")"
            return out
        if name == "array":
            return "[" + ", ".join(
                format_expr(a, st, indent, False) for a in args
            ) + "]"
        if name == "tuple" and len(args) >= 2:
            return "(" + ", ".join(
                format_expr(a, st, indent, False) for a in args
            ) + ")"
        if name == "map":
            return "map(" + ", ".join(
                format_expr(a, st, indent, False) for a in args
            ) + ")"
    out = name
    if f.params is not None:
        out += "(" + ", ".join(
            format_expr(a, st, indent, False) for a in f.params
        ) + ")"
    out += "(" + ", ".join(
        format_expr(a, st, indent, False) for a in args
    ) + ")"
    return out


def _fmt_item_list(
    items: list[str], head: str, pad: str, inline_single: bool = True
) -> list[str]:
    """ASTExpressionList::formatImplMultiline under a clause keyword."""
    if len(items) == 1 and inline_single:
        return [head + " " + items[0]]
    lines = [head]
    for k, it in enumerate(items):
        lines.append(pad + "    " + it + ("," if k < len(items) - 1 else ""))
    return lines


def format_select(sel: Select, st: _Fmt, indent: int) -> str:
    st.select_id += 1
    pad = "    " * indent
    lines: list[str] = []
    if sel.with_items:
        items = [format_expr(x, st, indent, False) for x in sel.with_items]
        lines += _fmt_item_list(items, pad + "WITH", pad)
    head = pad + "SELECT" + (" DISTINCT" if sel.distinct else "")
    items = [format_expr(x, st, indent, False) for x in sel.items]
    lines += _fmt_item_list(items, head, pad)
    if sel.tables:
        from_line = pad + "FROM"
        for js, te in sel.tables:
            if js is not None:
                if js.kind == "comma":
                    from_line += ","
                else:
                    lines.append(from_line)
                    from_line = pad
                    if js.glob:
                        from_line += "GLOBAL "
                    if js.kind not in ("cross", "comma") and js.strictness:
                        from_line += js.strictness + " "
                    from_line += {
                        "inner": "INNER JOIN", "left": "LEFT JOIN",
                        "right": "RIGHT JOIN", "full": "FULL OUTER JOIN",
                        "cross": "CROSS JOIN",
                    }[js.kind]
            # table expression
            if te.kind == "sub":
                lines.append(from_line)
                sub_txt = (
                    pad + "(\n"
                    + format_union(te.sub, st, indent + 1)
                    + "\n" + pad + ")"
                )
                if te.alias:
                    sub_txt += " AS " + write_ident(te.alias)
                from_line = sub_txt
            else:
                t_txt = format_expr(te.node, st, indent, False, with_alias=False)
                if te.alias:
                    t_txt += " AS " + write_ident(te.alias)
                from_line += " " + t_txt
            if te.final:
                lines.append(from_line)
                from_line = pad + "FINAL"
            if te.sample:
                lines.append(from_line)
                from_line = pad + "SAMPLE " + format_expr(
                    te.sample[0], st, indent, False
                )
                if te.sample[1] is not None:
                    from_line += " OFFSET " + format_expr(
                        te.sample[1], st, indent, False
                    )
            if js is not None and js.kind != "comma":
                if js.using:
                    from_line += " USING (" + ", ".join(
                        format_expr(x, st, indent, False) for x in js.using
                    ) + ")"
                elif js.on is not None:
                    from_line += " ON " + format_expr(
                        js.on, st, indent, False
                    )
        lines.append(from_line)
    if sel.array_join:
        aj = sel.array_join
        head = pad + ("LEFT " if aj.left else "") + "ARRAY JOIN"
        items = [format_expr(x, st, indent, False) for x in aj.items]
        lines += _fmt_item_list(items, head, pad)
    if sel.prewhere is not None:
        lines.append(
            pad + "PREWHERE " + format_expr(sel.prewhere, st, indent, False)
        )
    if sel.where is not None:
        lines.append(
            pad + "WHERE " + format_expr(sel.where, st, indent, False)
        )
    if sel.group_by is not None:
        items = [format_expr(x, st, indent, False) for x in sel.group_by]
        lines += _fmt_item_list(items, pad + "GROUP BY", pad)
    if sel.with_rollup:
        lines.append(pad + "    WITH ROLLUP")
    if sel.with_cube:
        lines.append(pad + "    WITH CUBE")
    if sel.with_totals:
        lines.append(pad + "    WITH TOTALS")
    if sel.having is not None:
        lines.append(
            pad + "HAVING " + format_expr(sel.having, st, indent, False)
        )
    if sel.order_by is not None:
        items = []
        for oe in sel.order_by:
            x = format_expr(oe.expr, st, indent, False)
            x += " DESC" if oe.desc else " ASC"
            if oe.nulls:
                x += " NULLS " + oe.nulls
            if oe.collate is not None:
                x += " COLLATE " + format_expr(oe.collate, st, indent, False)
            if oe.fill is not None:
                x += " WITH FILL"
                for kw9, key in (("FROM", "from"), ("TO", "to"),
                                 ("STEP", "step")):
                    if key in oe.fill:
                        x += f" {kw9} " + format_expr(
                            oe.fill[key], st, indent, False
                        )
            items.append(x)
        lines += _fmt_item_list(items, pad + "ORDER BY", pad)
    if sel.limit_by is not None:
        off, n1, by = sel.limit_by
        head = pad + "LIMIT "
        if off is not None:
            head += format_expr(off, st, indent, False) + ", "
        head += format_expr(n1, st, indent, False) + " BY"
        items = [format_expr(x, st, indent, False) for x in by]
        lines += _fmt_item_list(items, head, pad)
    if sel.limit is not None:
        line = pad + "LIMIT "
        if sel.limit_offset is not None:
            line += format_expr(sel.limit_offset, st, indent, False) + ", "
        line += format_expr(sel.limit, st, indent, False)
        lines.append(line)
        if sel.with_ties:
            lines.append(pad + " WITH TIES")
    elif sel.limit_offset is not None:
        lines.append(
            pad + "OFFSET " + format_expr(sel.limit_offset, st, indent, False)
        )
    if sel.settings:
        lines.append(
            pad + "SETTINGS " + ", ".join(
                f"{k9} = {v9}" for k9, v9 in sel.settings
            )
        )
    return "\n".join(lines)


def format_union(u: "Union | Select", st: _Fmt, indent: int) -> str:
    if isinstance(u, Select):
        return format_select(u, st, indent)
    pad = "    " * indent
    parts: list[str] = []
    for k, child in enumerate(u.children):
        if k > 0:
            mode = (
                u.normalized_mode if u.normalized_mode else u.modes[k - 1]
            )
            parts.append(pad + "UNION" + (" " + mode if mode else ""))
        if isinstance(child, Union):
            # nested union prints as a parenthesized subquery block,
            # preceded by a newline (ASTSelectWithUnionQuery.cpp:52) —
            # for the FIRST child that newline yields a leading blank
            # line, faithfully reproduced by the reference client
            if len(child.children) == 1:
                parts.append(format_union(child.children[0], st, indent))
            else:
                if k == 0:
                    parts.append("")
                parts.append(
                    pad + "(\n" + format_union(child, st, indent + 1)
                    + "\n" + pad + ")"
                )
        else:
            parts.append(format_select(child, st, indent))
    return "\n".join(parts)


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def explain_syntax(
    query: str,
    schemas: dict[str, list[str]] | None = None,
    settings: dict | None = None,
) -> str:
    """Render the reference's EXPLAIN SYNTAX output for `query` (the
    text AFTER the EXPLAIN SYNTAX keywords).  Raises ChExplainError on
    constructs outside the supported subset."""
    toks = tokenize(query.strip().rstrip(";"))
    if not toks:
        raise ChExplainError("empty")
    p = _P(toks)
    u = parse_union(p)
    if not p.at_end():
        raise ChExplainError(f"trailing tokens: {p.peek()!r}")
    ctx = Ctx(schemas or {}, settings or {})
    u = normalize_union(u, ctx.settings.get("union_default_mode", ""))
    for s in _walk_selects(u):
        normalize_select(s, ctx)
    # analysis-time arity errors the reference raises before printing
    # (error 42): EXPLAIN SYNTAX still analyzes the query
    from daisy_spark.plans.dialect import DialectError

    for s in _walk_selects(u):
        for top in _walk_exprs(s):
            for n in _iter_nodes(top):
                if (
                    isinstance(n, Func) and n.params is None
                    and n.name in ("any", "anyLast", "anyHeavy")
                    and len(n.args) != 1
                ):
                    raise DialectError(
                        f"Number of arguments for aggregate function "
                        f"{n.name} doesn't match: passed {len(n.args)}, "
                        "should be 1 (error 42)"
                    )
    st = _Fmt()
    return format_union(u, st, 0)


# ---------------------------------------------------------------------------
# EXPLAIN [PLAN]: query-plan step rendering
# (src/Parsers/ASTExplainQuery.h:14-20 QueryPlan kind;
#  src/Processors/QueryPlan/QueryPlan.cpp explainPlan — each step prints
#  "Name (description)" indented one level per child;
#  src/Interpreters/InterpreterSelectQuery.cpp executeImpl orders the
#  steps, and QueryPlanOptimizations merges adjacent Expression steps
#  into "((A + B))" labels)
# ---------------------------------------------------------------------------


def _expr_canon(n: Node) -> str:
    """Canonical one-line rendering for sort-key comparison."""
    return format_expr(n, _Fmt(), 0, False, with_alias=False)


def _sorting_key_canon(meta: dict | None) -> list[str]:
    """Canonical per-element renderings of a table's raw ORDER BY
    clause (the reference's CH-syntax text, e.g.
    ``(toDate(timestamp), key)`` or ``tuple()``)."""
    if not meta or not meta.get("mergetree"):
        return []
    raw = str(meta.get("sorting_key_raw") or "").strip()
    if not raw:
        return []
    try:
        kp = _P(tokenize(raw))
        key = _ExprParser(kp).expr()
    except Exception:  # noqa: BLE001 — unparseable key = no read-in-order
        return []
    elems = (
        key.args if isinstance(key, Func) and key.name == "tuple" else [key]
    )
    return [_expr_canon(e) for e in elems]


def _plan_sort_prefix(sel: Select, ctx: Ctx) -> int:
    """Length of the ORDER BY prefix the storage's sorting key can
    supply (ReadInOrderOptimizer::getInputOrder — exact expression
    match per position, ASC only).  0 = full sort needed."""
    te = sel.tables[0][1]
    canon_keys = _sorting_key_canon(ctx.table_meta(te))
    k = 0
    for oe, key in zip(sel.order_by or [], canon_keys):
        if oe.desc or oe.fill or oe.collate or oe.nulls:
            break
        if _expr_canon(oe.expr) != key:
            break
        k += 1
    return k


def _plan_select(sel: Select, ctx: Ctx, lines: list[str], ind: int) -> None:
    if (
        sel.array_join or sel.prewhere or sel.where or sel.having
        or sel.limit_by or sel.with_totals or sel.with_rollup
        or sel.with_cube or sel.distinct or sel.with_items
    ):
        raise ChExplainError("plan: unsupported select feature")
    if len(sel.tables) > 1 or (
        sel.tables and sel.tables[0][0] is not None
    ):
        raise ChExplainError("plan: joins unsupported")
    if sel.limit is not None and not sel.order_by:
        raise ChExplainError("plan: LIMIT without ORDER BY unsupported")
    # source step
    if not sel.tables:
        read = "ReadFromStorage (SystemOne)"
    else:
        te = sel.tables[0][1]
        meta = ctx.table_meta(te)
        if te.kind == "table" and meta and meta.get("mergetree"):
            read = "ReadFromMergeTree"
        elif (
            te.kind == "table" and isinstance(te.node, Ident)
            and ".".join(te.node.parts) in ("system.one", "one")
        ):
            read = "ReadFromStorage (SystemOne)"
        else:
            raise ChExplainError("plan: unsupported storage")
    # bottom-up step stack
    steps: list[str] = [read]
    steps.append(
        "SettingQuotaAndLimits "
        "(Set limits and quota after reading from storage)"
    )
    if sel.group_by is not None:
        steps.append("Expression (Before GROUP BY)")
        steps.append("Aggregating")
    if sel.order_by:
        steps.append("Expression (Before ORDER BY)")
        if _plan_sort_prefix(sel, ctx) > 0 and str(
            ctx.settings.get("optimize_read_in_order", "1")
        ).strip("'\" ") != "0":
            steps.append("FinishSorting")
        else:
            steps.append("PartialSorting (Sort each block for ORDER BY)")
            steps.append("MergeSorting (Merge sorted blocks for ORDER BY)")
            steps.append(
                "MergingSorted (Merge sorted streams for ORDER BY)"
            )
        if sel.limit is not None:
            steps.append("Limit (preliminary LIMIT)")
        steps.append("Expression (Projection)")
    else:
        steps.append("Expression ((Projection + Before ORDER BY))")
    for lvl, step in enumerate(reversed(steps)):
        lines.append("  " * (ind + lvl) + step)


def _plan_union(
    u: "Union | Select", ctx: Ctx, lines: list[str], ind: int
) -> None:
    if isinstance(u, Select):
        _plan_select(u, ctx, lines, ind)
        return
    if len(u.children) == 1:
        _plan_union(u.children[0], ctx, lines, ind)
        return
    if u.normalized_mode == "DISTINCT":
        lines.append("  " * ind + "Distinct")
        ind += 1
    lines.append("  " * ind + "Union")
    for c in u.children:
        _plan_union(c, ctx, lines, ind + 1)


def explain_plan(
    query: str,
    schemas: dict[str, list[str]] | None = None,
    settings: dict | None = None,
) -> str:
    """Render the reference's EXPLAIN [PLAN] output for `query` (the
    text AFTER the EXPLAIN [PLAN] keywords).  Raises ChExplainError on
    constructs outside the supported subset."""
    toks = tokenize(query.strip().rstrip(";"))
    if not toks:
        raise ChExplainError("empty")
    p = _P(toks)
    u = parse_union(p)
    if not p.at_end():
        raise ChExplainError(f"trailing tokens: {p.peek()!r}")
    ctx = Ctx(schemas or {}, settings or {})
    u = normalize_union(u, ctx.settings.get("union_default_mode", ""))
    for s in _walk_selects(u):
        normalize_select(s, ctx)
    lines: list[str] = []
    _plan_union(u, ctx, lines, 0)
    return "\n".join(lines)
