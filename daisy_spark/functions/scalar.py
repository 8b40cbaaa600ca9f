"""Scalar function library (SURVEY §2.8).

Reference registers ~515 function files via
src/Functions/registerFunctions.cpp:10-47.  Here each reference name maps
to a builder producing a Spark ``Column`` from ``Column`` args, built
exclusively from ``pyspark.sql.functions`` / SQL expressions so everything
stays inside whole-stage codegen.

Semantics notes reproduced from the reference:

- ``intDiv`` truncates toward zero and raises on division by zero
  (src/Functions/intDiv.cpp) — Spark 4's default ANSI mode raises too,
  so that is parity; float ``divide`` returns inf/nan.
- ``modulo`` follows C semantics (sign of dividend), same as Spark ``%``.
- Integer arithmetic wraps on overflow in the reference; under Spark's
  default ANSI mode overflow raises instead — documented divergence
  (disable ANSI per-session if wrap semantics are required).
- Logical functions treat any non-zero number as true
  (src/Functions/FunctionsLogical.cpp) — ``to_bool`` encodes that.
- ``toStartOf*`` family = date_trunc buckets
  (src/Functions/toStartOfInterval.cpp); Daisy uses them for
  time-partitioning (TableRestRouterHandler.cpp:55-58).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnLike = Column  # columns in, columns out


def _c(x) -> Column:
    """Coerce python literals to Columns."""
    return x if isinstance(x, Column) else F.lit(x)


def to_bool(x: Column) -> Column:
    """Reference logical semantics: non-zero number => true."""
    return _c(x).cast("boolean")


# --- arithmetic -----------------------------------------------------------

def plus(a, b):
    return _c(a) + _c(b)


def minus(a, b):
    return _c(a) - _c(b)


def multiply(a, b):
    return _c(a) * _c(b)


def divide(a, b):
    """Float division; div-by-zero yields inf/nan like the reference."""
    return _c(a).cast("double") / _c(b).cast("double")


def int_div(a, b):
    """Integer division truncating toward zero (src/Functions/intDiv.cpp).

    Spark's integral ``div`` stays in long arithmetic — no double
    round-trip, exact over the full 64-bit range — and truncates toward
    zero like the reference.  Division by zero raises under Spark's
    default ANSI mode, matching the reference's behavior.
    """
    return F.call_function("div", _c(a).cast("long"), _c(b).cast("long"))


def pymod(a, b):
    """C-style modulo (sign of dividend) == Spark %."""
    return _c(a) % _c(b)


def modulo(a, b):
    return pymod(a, b)


def negate(a):
    return -_c(a)


def abs_(a):
    return F.abs(_c(a))


def int_exp2(a):
    return F.shiftleft(F.lit(1).cast("long"), _c(a).cast("int"))


def int_exp10(a):
    return F.pow(F.lit(10.0), _c(a)).cast("long")


# --- comparison / logical -------------------------------------------------

def equals(a, b):
    return _c(a) == _c(b)


def not_equals(a, b):
    return _c(a) != _c(b)


def less(a, b):
    return _c(a) < _c(b)


def greater(a, b):
    return _c(a) > _c(b)


def less_or_equals(a, b):
    return _c(a) <= _c(b)


def greater_or_equals(a, b):
    return _c(a) >= _c(b)


def and_(*xs):
    out = to_bool(xs[0])
    for x in xs[1:]:
        out = out & to_bool(x)
    return out


def or_(*xs):
    out = to_bool(xs[0])
    for x in xs[1:]:
        out = out | to_bool(x)
    return out


def not_(x):
    return ~to_bool(x)


def xor(a, b):
    return to_bool(a) != to_bool(b)


# --- conditional ----------------------------------------------------------

def if_(cond, then, else_):
    return F.when(to_bool(cond), _c(then)).otherwise(_c(else_))


def multi_if(*args):
    """multiIf(c1, v1, c2, v2, ..., default) (src/Functions/multiIf.cpp)."""
    *pairs, default = args
    it = iter(pairs)
    out = None
    for cond in it:
        val = next(it)
        out = F.when(to_bool(cond), _c(val)) if out is None else out.when(to_bool(cond), _c(val))
    return out.otherwise(_c(default)) if out is not None else _c(default)


def if_null(a, b):
    return F.coalesce(_c(a), _c(b))


def null_if(a, b):
    return F.nullif(_c(a), _c(b))


def coalesce(*xs):
    return F.coalesce(*[_c(x) for x in xs])


def if_not_finite(x, default):
    x = _c(x)
    return F.when(F.isnan(x) | (F.abs(x) == float("inf")), _c(default)).otherwise(x)


def is_null(x):
    return _c(x).isNull()


def is_not_null(x):
    return _c(x).isNotNull()


def assume_not_null(x):
    return _c(x)


def is_finite(x):
    x = _c(x)
    return ~(F.isnan(x) | (F.abs(x) == float("inf")))


def is_nan(x):
    return F.isnan(_c(x))


def least(*xs):
    return F.least(*[_c(x) for x in xs])


def greatest(*xs):
    return F.greatest(*[_c(x) for x in xs])


# --- conversion -----------------------------------------------------------

_INT_TYPES = {
    "UInt8": "smallint",  # widen unsigned (SURVEY §1.2)
    "UInt16": "int",
    "UInt32": "bigint",
    "UInt64": "bigint",  # wraparound caveat documented
    "Int8": "tinyint",
    "Int16": "smallint",
    "Int32": "int",
    "Int64": "bigint",
}


def _to_int_builder(spark_type: str) -> Callable:
    def conv(x):
        return _c(x).cast(spark_type)

    return conv


def to_float32(x):
    return _c(x).cast("float")


def to_float64(x):
    return _c(x).cast("double")


def to_string(x):
    return _c(x).cast("string")


def to_date(x):
    return F.to_date(_c(x))


def to_datetime(x):
    return F.to_timestamp(_c(x))


def to_datetime64(x, scale=3):
    return F.to_timestamp(_c(x))


def parse_datetime_best_effort(x):
    """Multi-format timestamp parse (reference parseDateTimeBestEffort)."""
    x = _c(x)
    return F.coalesce(
        F.try_to_timestamp(x),
        F.try_to_timestamp(x, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(x, F.lit("yyyy/MM/dd HH:mm:ss")),
        F.try_to_timestamp(x, F.lit("dd-MM-yyyy HH:mm:ss")),
        F.try_to_timestamp(x, F.lit("yyyyMMddHHmmss")),
        F.try_to_timestamp(x, F.lit("yyyy-MM-dd")),
    )


def to_unix_timestamp(x):
    return F.unix_timestamp(_c(x))


def to_unix_timestamp64_milli(x):
    return F.unix_millis(_c(x))


def to_unix_timestamp64_micro(x):
    return F.unix_micros(_c(x))


def from_unix_timestamp64_milli(x):
    return F.timestamp_millis(_c(x).cast("long"))


def from_unix_timestamp64_micro(x):
    return F.timestamp_micros(_c(x).cast("long"))


# --- date / time ----------------------------------------------------------

def to_year(x):
    return F.year(_c(x))


def to_quarter(x):
    return F.quarter(_c(x))


def to_month(x):
    return F.month(_c(x))


def to_day_of_month(x):
    return F.dayofmonth(_c(x))


def to_day_of_week(x):
    """Reference: Monday=1..Sunday=7 (ISO). Spark dayofweek: Sunday=1."""
    return F.when(F.dayofweek(_c(x)) == 1, F.lit(7)).otherwise(F.dayofweek(_c(x)) - 1)


def to_day_of_year(x):
    return F.dayofyear(_c(x))


def to_hour(x):
    return F.hour(_c(x))


def to_minute(x):
    return F.minute(_c(x))


def to_second(x):
    return F.second(_c(x))


def to_start_of_year(x):
    return F.date_trunc("year", _c(x))


def to_start_of_quarter(x):
    return F.date_trunc("quarter", _c(x))


def to_start_of_month(x):
    return F.date_trunc("month", _c(x))


def to_start_of_week(x):
    return F.date_trunc("week", _c(x))


def to_start_of_day(x):
    return F.date_trunc("day", _c(x))


def to_start_of_hour(x):
    return F.date_trunc("hour", _c(x))


def to_start_of_minute(x):
    return F.date_trunc("minute", _c(x))


def to_start_of_five_minute(x):
    return to_start_of_interval_seconds(x, 300)


def to_start_of_ten_minutes(x):
    return to_start_of_interval_seconds(x, 600)


def to_start_of_fifteen_minutes(x):
    return to_start_of_interval_seconds(x, 900)


def to_start_of_interval_seconds(x, seconds: int):
    """Generic bucketing: floor(epoch/к)*k (src/Functions/toStartOfInterval.cpp)."""
    e = F.unix_timestamp(_c(x))
    return F.timestamp_seconds((e - pymod(e, F.lit(seconds))))


def to_yyyymm(x):
    return F.date_format(_c(x), "yyyyMM").cast("int")


def to_yyyymmdd(x):
    return F.date_format(_c(x), "yyyyMMdd").cast("int")


def now():
    return F.current_timestamp()


def today():
    return F.current_date()


def yesterday():
    return F.date_sub(F.current_date(), 1)


def add_seconds(x, n):
    return F.timestamp_seconds(F.unix_timestamp(_c(x)) + _c(n))


def add_minutes(x, n):
    return add_seconds(x, _c(n) * 60)


def add_hours(x, n):
    return add_seconds(x, _c(n) * 3600)


def add_days(x, n):
    return F.timestampadd("DAY", _c(n), _c(x))


def add_weeks(x, n):
    return F.timestampadd("WEEK", _c(n), _c(x))


def add_months(x, n):
    return F.timestampadd("MONTH", _c(n), _c(x))


def add_years(x, n):
    return F.timestampadd("YEAR", _c(n), _c(x))


def subtract_days(x, n):
    return add_days(x, -_c(n))


def date_diff(unit: str, a, b):
    """dateDiff('day', a, b) = b - a in units (src/Functions/dateDiff.cpp)."""
    return F.timestampdiff(unit.upper(), _c(a), _c(b))


def format_date_time(x, fmt: str):
    """Reference %-style format -> Spark pattern (src/Functions/formatDateTime.cpp)."""
    mapping = {
        "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm",
        "%S": "ss", "%F": "yyyy-MM-dd", "%T": "HH:mm:ss", "%e": "d",
        "%j": "DDD", "%y": "yy", "%p": "a",
    }
    out = fmt
    for k, v in mapping.items():
        out = out.replace(k, v)
    return F.date_format(_c(x), out)


def time_slot(x):
    return to_start_of_interval_seconds(x, 1800)


# --- strings ---------------------------------------------------------------

def length(x):
    """Byte length for strings (reference length() is bytes)."""
    return F.octet_length(_c(x))


def char_length(x):
    return F.length(_c(x))


def empty(x):
    return F.octet_length(_c(x)) == 0


def not_empty(x):
    return F.octet_length(_c(x)) > 0


def lower(x):
    return F.lower(_c(x))


def upper(x):
    return F.upper(_c(x))


def substring(x, offset, length_=None):
    """1-based like the reference."""
    if length_ is None:
        return F.expr(f"substring({_sql(x)}, {_sql(offset)})")
    return F.substring(_c(x), offset, length_)


def concat(*xs):
    return F.concat(*[_c(x) for x in xs])


def concat_ws(sep, *xs):
    return F.concat_ws(sep, *[_c(x) for x in xs])


def trim_both(x):
    return F.trim(_c(x))


def trim_left(x):
    return F.ltrim(_c(x))


def trim_right(x):
    return F.rtrim(_c(x))


def starts_with(x, prefix):
    return _c(x).startswith(_c(prefix))


def ends_with(x, suffix):
    return _c(x).endswith(_c(suffix))


def reverse(x):
    return F.reverse(_c(x))


def repeat(x, n):
    return F.repeat(_c(x), n if isinstance(n, int) else _c(n))


def left_pad(x, n, pad=" "):
    return F.lpad(_c(x), n, pad)


def right_pad(x, n, pad=" "):
    return F.rpad(_c(x), n, pad)


def position(haystack, needle):
    """1-based byte position; 0 when absent (src/Functions/position.cpp)."""
    return F.instr(_c(haystack), _c(needle) if isinstance(needle, Column) else needle)


def position_case_insensitive(haystack, needle):
    return F.instr(F.lower(_c(haystack)), needle.lower() if isinstance(needle, str) else F.lower(_c(needle)))


def like(x, pattern):
    return _c(x).like(pattern)


def not_like(x, pattern):
    return ~_c(x).like(pattern)


def ilike(x, pattern):
    return _c(x).ilike(pattern)


def match(x, pattern):
    """re2 regex match (src/Functions/match.cpp) -> rlike."""
    return _c(x).rlike(pattern)


def count_substrings(haystack, needle):
    h, n = _c(haystack), _c(needle)
    return F.when(
        F.length(n) == 0, F.lit(0)
    ).otherwise(
        ((F.length(h) - F.length(F.replace(h, n, F.lit("")))) / F.length(n)).cast("int")
    )


def multi_search_any(haystack, needles: list):
    out = None
    for n in needles:
        cond = F.instr(_c(haystack), n) > 0
        out = cond if out is None else (out | cond)
    return out


def replace_one(x, old, new):
    """Replace only the first occurrence (reference replaceOne)."""
    x = _c(x)
    pos = F.instr(x, old)
    return F.when(pos == 0, x).otherwise(
        F.concat(
            F.substring(x, F.lit(1), pos - 1),
            F.lit(new),
            F.substring(x, pos + len(old), F.length(x)),
        )
    )


def replace_all(x, old, new):
    return F.replace(_c(x), F.lit(old), F.lit(new))


def replace_regexp_all(x, pattern, replacement):
    return F.regexp_replace(_c(x), pattern, replacement)


def replace_regexp_one(x, pattern, replacement):
    # Spark regexp_replace is always global; single-replace via capture trick
    return F.regexp_replace(_c(x), f"^((?:(?!{pattern}).)*?){pattern}", f"$1{replacement}")


def extract(x, pattern):
    return F.regexp_extract(_c(x), pattern, 1 if "(" in pattern else 0)


def extract_all(x, pattern):
    return F.expr(f"regexp_extract_all({_sql(x)}, '{pattern}', 1)")


def split_by_char(sep: str, x):
    return F.split(_c(x), "\\" + sep if sep in ".[]()*+?^$|\\{}" else sep, -1)


def split_by_string(sep: str, x):
    return F.split(_c(x), "\\Q" + sep + "\\E", -1)


def split_by_regexp(pattern: str, x):
    return F.split(_c(x), pattern, -1)


def array_string_concat(arr, sep=""):
    return F.array_join(_c(arr), sep)


def format_(fmt: str, *args):
    """format('{} x {}', a, b) -> concat pieces."""
    parts = fmt.split("{}")
    cols = [F.lit(parts[0])]
    for i, a in enumerate(args):
        cols.append(_c(a).cast("string"))
        cols.append(F.lit(parts[i + 1]))
    return F.concat(*cols)


# --- URL functions (src/Functions/URL/) ------------------------------------

def domain(x):
    return F.parse_url(_c(x), F.lit("HOST"))


def domain_without_www(x):
    return F.regexp_replace(domain(x), r"^www\.", "")


def top_level_domain(x):
    return F.regexp_extract(domain(x), r"\.([^.]+)$", 1)


def url_path(x):
    return F.parse_url(_c(x), F.lit("PATH"))


def query_string(x):
    return F.parse_url(_c(x), F.lit("QUERY"))


def extract_url_parameter(x, name: str):
    return F.coalesce(F.parse_url(_c(x), F.lit("QUERY"), F.lit(name)), F.lit(""))


def protocol(x):
    return F.parse_url(_c(x), F.lit("PROTOCOL"))


def cut_query_string(x):
    x = _c(x)
    q = F.instr(x, "?")
    return F.when(q == 0, x).otherwise(F.substring(x, F.lit(1), q - 1))


# --- hashing / encoding -----------------------------------------------------

def xx_hash64(*xs):
    return F.xxhash64(*[_c(x) for x in xs])


def city_hash64(*xs):
    """Reference cityHash64 — NOT bit-compatible: Spark has no CityHash,
    so this is xxhash64 under the reference's name.  Distribution
    properties match (uniform 64-bit), so bucketing/sampling/sharding
    semantics hold, but raw hash VALUES differ from the reference —
    anything persisting or comparing hash values across systems must not
    rely on this.  A loud warning is emitted once per process."""
    _warn_hash_alias("cityHash64")
    return F.xxhash64(*[_c(x) for x in xs])


def sip_hash64(*xs):
    """Reference sipHash64 — NOT bit-compatible (same caveat as
    :func:`city_hash64`): xxhash64 stands in; values differ from the
    reference, distributions match."""
    _warn_hash_alias("sipHash64")
    return F.xxhash64(*[_c(x) for x in xs])


_WARNED_HASH_ALIASES: set[str] = set()


def _warn_hash_alias(name: str) -> None:
    if name not in _WARNED_HASH_ALIASES:
        _WARNED_HASH_ALIASES.add(name)
        import warnings

        warnings.warn(
            f"{name} is implemented as xxhash64: hash VALUES differ from the "
            "reference engine (distributions match). Do not compare or "
            "persist raw hashes across systems.",
            stacklevel=3,
        )


def half_md5(x):
    return F.conv(F.substring(F.md5(_c(x).cast("binary")), 1, 16), 16, 10).cast("decimal(20,0)")


def md5(x):
    return F.md5(_c(x).cast("binary"))


def sha1(x):
    return F.sha1(_c(x).cast("binary"))


def sha256(x):
    return F.sha2(_c(x).cast("binary"), 256)


def hex_(x):
    return F.hex(_c(x))


def unhex(x):
    return F.unhex(_c(x))


def crc32(x):
    return F.crc32(_c(x).cast("binary"))


# --- rounding / math --------------------------------------------------------

def round_(x, n=0):
    return F.round(_c(x), n)


def round_bankers(x, n=0):
    return F.bround(_c(x), n)


def floor_(x, n=0):
    if n:
        p = 10 ** n
        return F.floor(_c(x) * p) / p
    return F.floor(_c(x))


def ceil_(x, n=0):
    if n:
        p = 10 ** n
        return F.ceil(_c(x) * p) / p
    return F.ceil(_c(x))


def trunc_(x):
    return _c(x).cast("long")


def round_to_exp2(x):
    x = _c(x)
    return F.when(x < 1, F.lit(0)).otherwise(
        F.shiftleft(F.lit(1).cast("long"), F.floor(F.log2(x)).cast("int"))
    )


def round_duration(x):
    bounds = [1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, 3600, 7200, 18000, 36000]
    x = _c(x)
    out = F.lit(0)
    for b in bounds:
        out = F.when(x >= b, F.lit(b)).otherwise(out)
    return out


def round_age(x):
    x = _c(x)
    out = F.lit(0)
    for b in [1, 18, 25, 35, 45, 55]:
        out = F.when(x >= b, F.lit(b)).otherwise(out)
    return out


# plain math passthroughs
exp = lambda x: F.exp(_c(x))  # noqa: E731
log = lambda x: F.log(_c(x))  # noqa: E731
log2 = lambda x: F.log2(_c(x))  # noqa: E731
log10 = lambda x: F.log10(_c(x))  # noqa: E731
sqrt = lambda x: F.sqrt(_c(x))  # noqa: E731
cbrt = lambda x: F.cbrt(_c(x))  # noqa: E731
pow_ = lambda a, b: F.pow(_c(a), _c(b))  # noqa: E731
sin = lambda x: F.sin(_c(x))  # noqa: E731
cos = lambda x: F.cos(_c(x))  # noqa: E731
tan = lambda x: F.tan(_c(x))  # noqa: E731
asin = lambda x: F.asin(_c(x))  # noqa: E731
acos = lambda x: F.acos(_c(x))  # noqa: E731
atan = lambda x: F.atan(_c(x))  # noqa: E731
e = lambda: F.lit(2.718281828459045)  # noqa: E731
pi = lambda: F.lit(3.141592653589793)  # noqa: E731
sign = lambda x: F.signum(_c(x))  # noqa: E731


# --- misc -------------------------------------------------------------------

def transform(x, from_vals: list, to_vals: list, default=None):
    """transform(x, [a,b], [1,2], d) -> when-chain (src/Functions/transform.cpp)."""
    x = _c(x)
    out = None
    for f, t in zip(from_vals, to_vals):
        out = F.when(x == f, _c(t)) if out is None else out.when(x == f, _c(t))
    return out.otherwise(_c(default) if default is not None else x)


def bar(x, mn, mx, width=80):
    x = _c(x)
    n = F.round((x - mn) / (mx - mn) * width).cast("int")
    return F.repeat(F.lit("█"), F.greatest(F.least(n, F.lit(int(width))), F.lit(0)))


def format_readable_size(x):
    x = _c(x).cast("double")
    return F.when(x >= 1 << 30, F.concat(F.round(x / (1 << 30), 2).cast("string"), F.lit(" GiB"))) \
        .when(x >= 1 << 20, F.concat(F.round(x / (1 << 20), 2).cast("string"), F.lit(" MiB"))) \
        .when(x >= 1 << 10, F.concat(F.round(x / (1 << 10), 2).cast("string"), F.lit(" KiB"))) \
        .otherwise(F.concat(F.round(x, 2).cast("string"), F.lit(" B")))


def rand():
    return (F.rand() * (1 << 32)).cast("long")


def rand64():
    return (F.rand() * float(1 << 63)).cast("long")


def generate_uuid_v4():
    return F.expr("uuid()")


def ipv4_num_to_string(x):
    x = _c(x).cast("bigint")
    return F.concat_ws(
        ".",
        (F.shiftright(x, 24) % 256).cast("string"),
        (F.shiftright(x, 16) % 256).cast("string"),
        (F.shiftright(x, 8) % 256).cast("string"),
        (x % 256).cast("string"),
    )


def ipv4_string_to_num(x):
    parts = F.split(_c(x), r"\.")
    return (
        parts[0].cast("bigint") * (1 << 24)
        + parts[1].cast("bigint") * (1 << 16)
        + parts[2].cast("bigint") * (1 << 8)
        + parts[3].cast("bigint")
    )


def ipv6_num_to_string(x):
    """IPv6 16-byte binary -> colon-grouped lowercase hex
    (src/Functions/FunctionsCoding.h IPv6NumToString). Emits the full
    8-group form (no RFC 5952 zero-run compression — documented
    simplification; values parse back with ipv6_string_to_num)."""
    h = F.lower(F.hex(_c(x).cast("binary")))
    groups = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.regexp_replace(
            F.substring(h, i * 4 + 1, 4), r"^0{1,3}", ""
        ),
    )
    return F.array_join(groups, ":")


def mac_num_to_string(x):
    """MACNumToString: 48-bit int -> aa:bb:cc:dd:ee:ff."""
    h = F.lower(F.lpad(F.hex(_c(x).cast("bigint")), 12, "0"))
    return F.concat_ws(
        ":", *[F.substring(h, i * 2 + 1, 2) for i in range(6)]
    )


def mac_string_to_num(x):
    return F.conv(F.regexp_replace(_c(x), ":", ""), 16, 10).cast("bigint")


def bitmask_to_list(x):
    """bitmaskToList(n): comma-joined powers of two summing to n,
    ascending (src/Functions/FunctionsCoding.h)."""
    n = _c(x).cast("bigint")
    # 2^i via double pow is exact for powers of two (single mantissa bit)
    bits = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(62)),
            lambda i: F.pow(F.lit(2.0), i).cast("bigint"),
        ),
        lambda b: (n.bitwiseAND(b)) != 0,
    )
    return F.array_join(F.transform(bits, lambda b: b.cast("string")), ",")


def host_name():
    """hostName() — the reference returns the server's host; here the
    driver host (constant-folded into the plan)."""
    import socket

    return F.lit(socket.gethostname())


def version():
    return F.lit("daisy-spark-0.2")


# --- bitmaps (registerFunctionsBitmap) ---------------------------------------
# Representation: a bitmap IS a sorted de-duplicated array<long> — the
# roaring-bitmap physical encoding is a compression detail of the reference
# (AggregateFunctionGroupBitmap.cpp); set semantics are what queries observe.

def bitmap_build(arr):
    return F.array_sort(F.array_distinct(_c(arr)))


def bitmap_and(a, b):
    return F.array_sort(F.array_intersect(_c(a), _c(b)))


def bitmap_or(a, b):
    return F.array_sort(F.array_union(_c(a), _c(b)))


def bitmap_xor(a, b):
    return F.array_sort(
        F.array_union(F.array_except(_c(a), _c(b)), F.array_except(_c(b), _c(a)))
    )


def bitmap_andnot(a, b):
    return F.array_sort(F.array_except(_c(a), _c(b)))


def bitmap_cardinality(a):
    return F.size(F.array_distinct(_c(a)))


def bitmap_contains(a, v):
    return F.array_contains(_c(a), v)


def bitmap_has_any(a, b):
    return F.arrays_overlap(_c(a), _c(b))


def bitmap_has_all(a, b):
    return F.size(F.array_except(_c(b), _c(a))) == 0


# --- geo (registerFunctionsGeo) ----------------------------------------------

def great_circle_distance(lon1, lat1, lon2, lat2):
    """greatCircleDistance in meters — haversine on the reference's sphere
    radius 6371 km (src/Functions/greatCircleDistance.cpp)."""
    rlat1, rlat2 = F.radians(_c(lat1)), F.radians(_c(lat2))
    dlat = rlat2 - rlat1
    dlon = F.radians(_c(lon2)) - F.radians(_c(lon1))
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * 6371000.0) * F.asin(F.sqrt(a))


def point_in_polygon(x, y, polygon):
    """pointInPolygon((x,y), poly) — ray casting over the closed ring given
    as array<struct<x,y>> (src/Functions/pointInPolygon.cpp). A HOF fold
    over the edges; JVM-side, no UDF."""
    px, py = _c(x).cast("double"), _c(y).cast("double")
    poly = _c(polygon)
    n = F.size(poly)
    crossings = F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            (
                ((F.element_at(poly, i + 1)["y"] > py)
                 != (F.element_at(poly, ((i + 1) % n) + 1)["y"] > py))
                & (
                    px
                    < (F.element_at(poly, ((i + 1) % n) + 1)["x"]
                       - F.element_at(poly, i + 1)["x"])
                    * (py - F.element_at(poly, i + 1)["y"])
                    / (F.element_at(poly, ((i + 1) % n) + 1)["y"]
                       - F.element_at(poly, i + 1)["y"])
                    + F.element_at(poly, i + 1)["x"]
                )
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (crossings % 2) == 1


def geohash_encode(lon, lat, precision: int = 12):
    """geohashEncode(lon, lat, p) — base32 interleaved bisection
    (src/Functions/geohashEncode.cpp), as a pure HOF fold: 5·p bisection
    steps carried in a struct accumulator, then base32 lookup per 5-bit
    group. JVM-side, no UDF."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    p = int(precision)
    nbits = 5 * p
    init = F.struct(
        F.lit(-90.0).alias("lat_lo"), F.lit(90.0).alias("lat_hi"),
        F.lit(-180.0).alias("lon_lo"), F.lit(180.0).alias("lon_hi"),
        F.array().cast("array<int>").alias("bits"),
    )
    lon_c, lat_c = _c(lon).cast("double"), _c(lat).cast("double")

    def step(acc, i):
        is_lon = (i % 2) == 0  # even bit index: longitude
        mid_lon = (acc["lon_lo"] + acc["lon_hi"]) / 2
        mid_lat = (acc["lat_lo"] + acc["lat_hi"]) / 2
        lon_hi_bit = lon_c >= mid_lon
        lat_hi_bit = lat_c >= mid_lat
        bit = F.when(is_lon, lon_hi_bit.cast("int")).otherwise(
            lat_hi_bit.cast("int")
        )
        return F.struct(
            F.when(~is_lon & lat_hi_bit, mid_lat).otherwise(acc["lat_lo"]).alias("lat_lo"),
            F.when(~is_lon & ~lat_hi_bit, mid_lat).otherwise(acc["lat_hi"]).alias("lat_hi"),
            F.when(is_lon & lon_hi_bit, mid_lon).otherwise(acc["lon_lo"]).alias("lon_lo"),
            F.when(is_lon & ~lon_hi_bit, mid_lon).otherwise(acc["lon_hi"]).alias("lon_hi"),
            F.concat(acc["bits"], F.array(bit)).alias("bits"),
        )

    folded = F.aggregate(F.sequence(F.lit(0), F.lit(nbits - 1)), init, step)
    chars = F.transform(
        F.sequence(F.lit(0), F.lit(p - 1)),
        lambda g: F.substring(
            F.lit(alphabet),
            F.aggregate(
                F.slice(folded["bits"], g * 5 + 1, 5),
                F.lit(0),
                lambda a, b: a * 2 + b,
            ) + 1,
            1,
        ),
    )
    return F.array_join(chars, "")


# --- string distance (ngramDistance — src/Functions/FunctionsStringSimilarity.cpp)

def ngram_set(x, n: int = 4):
    """Distinct character n-grams of a string (reference uses 4-grams)."""
    s = _c(x).cast("string")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - (n - 1), F.lit(0))),
            lambda i: F.substring(s, i, n),
        )
    )


def _const_ngram_set(s: str, n: int):
    """Gram set of a Python-string needle, computed once at plan-build
    time instead of per row through a transform/sequence HOF chain."""
    grams = list(dict.fromkeys(s[i : i + n] for i in range(max(len(s) - n + 1, 0))))
    return F.array(*[F.lit(g) for g in grams]) if grams else F.array().cast("array<string>")


def ngram_distance(a, b, n: int = 4):
    """ngramDistance(a, b) in [0,1]: 1 − 2·|A∩B| / (|A|+|B|) over distinct
    4-gram sets (set-based variant of the reference's multiset symmetric
    difference — documented simplification, same 0=identical/1=disjoint
    contract).  A constant needle (str or foldable lit) short-circuits to
    a literal gram array."""
    if isinstance(b, str):
        gb = _const_ngram_set(b, n)
    else:
        lit = _foldable_str(b)
        gb = _const_ngram_set(lit, n) if lit is not None else ngram_set(b, n)
    ga = ngram_set(a, n)
    inter = F.size(F.array_intersect(ga, gb)).cast("double")
    denom = (F.size(ga) + F.size(gb)).cast("double")
    return F.when(denom == 0, F.lit(0.0)).otherwise(1.0 - 2.0 * inter / denom)


def _foldable_str(col) -> str | None:
    """The Python string inside F.lit('...') if col is such a literal."""
    try:
        expr = col._jc.expr() if hasattr(col, "_jc") else None
        if expr is not None and expr.getClass().getSimpleName() == "Literal":
            v = expr.value()
            if v is not None:
                return str(v)
    except Exception:  # noqa: BLE001
        return None
    return None


def ngram_search(a, b, n: int = 4):
    """ngramSearch(haystack, needle): share of needle's n-grams present in
    haystack (asymmetric)."""
    ga, gb = ngram_set(a, n), ngram_set(b, n)
    return F.when(F.size(gb) == 0, F.lit(1.0)).otherwise(
        F.size(F.array_intersect(ga, gb)).cast("double") / F.size(gb)
    )


# --- neighbor / running (block-local in the reference; deterministic
#     window forms here — src/Functions/{neighbor,runningDifference}.cpp) ----

def neighbor(x, offset: int, order_by, partition_by: list | None = None, default=None):
    """neighbor(x, offset) — value at row offset away. The reference's form
    is block-local ("approximate" per its own docs); ours is the exact
    window version and therefore needs an explicit order column."""
    from pyspark.sql import Window

    w = Window.partitionBy(*(partition_by or [])).orderBy(_c(order_by))
    if offset >= 0:
        return F.lead(_c(x), offset, default).over(w)
    return F.lag(_c(x), -offset, default).over(w)


def running_difference(x, order_by, partition_by: list | None = None):
    """runningDifference(x): x − previous x in order; 0 for the first row
    (matches the reference's first-row-in-block behavior)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*(partition_by or [])).orderBy(_c(order_by))
    return _c(x) - F.lag(_c(x), 1, None).over(w)


def running_accumulate(x, order_by, partition_by: list | None = None):
    """runningAccumulate(state): running sum in order (the reference
    accumulates an aggregation state; sum is its overwhelming use)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*(partition_by or []))
        .orderBy(_c(order_by))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return F.sum(_c(x)).over(w)


# --- arrays / higher-order (src/Functions/array/ — 70+ functions) -----------
# The reference takes lambdas FIRST (arrayMap(x -> ..., arr)); the Column
# builders here take them in Spark order (arr, fn) since Python callers pass
# real lambdas; the SQL dialect layer handles the argument swap for SQL text.

def array_(*xs):
    return F.array(*[_c(x) for x in xs])


def array_join_fn(x):
    """arrayJoin — explode; only valid in a select list."""
    return F.explode(_c(x))


def array_map(arr, fn):
    return F.transform(_c(arr), fn)


def array_filter(arr, fn):
    return F.filter(_c(arr), fn)


def array_exists(arr, fn):
    return F.exists(_c(arr), fn)


def array_all(arr, fn):
    return F.forall(_c(arr), fn)


def array_count(arr, fn=None):
    return F.size(F.filter(_c(arr), fn)) if fn is not None else F.size(_c(arr))


def array_sum(arr, fn=None):
    target = F.transform(_c(arr), fn) if fn is not None else _c(arr)
    return F.aggregate(
        target, F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )


def array_avg(arr):
    a = _c(arr)
    return array_sum(a) / F.greatest(F.size(a), F.lit(1))


def array_min_(arr):
    return F.array_min(_c(arr))


def array_max_(arr):
    return F.array_max(_c(arr))


def array_uniq(arr):
    return F.size(F.array_distinct(_c(arr)))


def array_distinct_(arr):
    return F.array_distinct(_c(arr))


def array_sort_fn(arr):
    return F.array_sort(_c(arr))


def array_reverse_sort(arr):
    return F.reverse(F.array_sort(_c(arr)))


def array_reverse(arr):
    return F.reverse(_c(arr))


def array_concat(*arrs):
    return F.concat(*[_c(a) for a in arrs])


def array_slice(arr, offset, length=None):
    a = _c(arr)
    if length is None:
        return F.slice(a, offset, F.size(a))
    return F.slice(a, offset, length)


def array_push_back(arr, x):
    return F.concat(_c(arr), F.array(_c(x)))


def array_push_front(arr, x):
    return F.concat(F.array(_c(x)), _c(arr))


def array_pop_back(arr):
    a = _c(arr)
    return F.slice(a, 1, F.greatest(F.size(a) - 1, F.lit(0)))


def array_pop_front(arr):
    a = _c(arr)
    return F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0)))


def array_flatten(arr):
    return F.flatten(_c(arr))


def array_compact(arr):
    """Remove consecutive duplicates (arrayCompact.cpp)."""
    a = _c(arr)
    return F.filter(
        a, lambda x, i: (i == 0) | ~x.eqNullSafe(F.element_at(a, i))
    )


def array_difference(arr):
    """Pairwise differences, first element 0 (arrayDifference.cpp)."""
    a = _c(arr)
    return F.transform(
        a,
        lambda x, i: F.when(i == 0, F.lit(0).cast("double")).otherwise(
            x.cast("double") - F.element_at(a, i).cast("double")
        ),
    )


def array_cum_sum(arr):
    a = _c(arr)
    return F.transform(
        a,
        lambda x, i: F.aggregate(
            F.slice(a, 1, i + 1), F.lit(0.0), lambda acc, v: acc + v.cast("double")
        ),
    )


def array_enumerate(arr):
    return F.sequence(F.lit(1), F.size(_c(arr)))


def array_zip(*arrs):
    return F.arrays_zip(*[_c(a) for a in arrs])


def array_intersect_(a, b):
    return F.array_intersect(_c(a), _c(b))


def array_union_(a, b):
    return F.array_union(_c(a), _c(b))


def array_except_(a, b):
    return F.array_except(_c(a), _c(b))


def has(arr, x):
    return F.array_contains(_c(arr), _c(x))


def has_all(a, b):
    return F.size(F.array_except(_c(b), _c(a))) == 0


def has_any(a, b):
    return F.arrays_overlap(_c(a), _c(b))


def index_of(arr, x):
    return F.array_position(_c(arr), _c(x))


def array_element(arr, i):
    """arrayElement — 1-based; negative indexes from the end."""
    return F.element_at(_c(arr), i)


def empty_array_to_single(arr):
    a = _c(arr)
    return F.when(F.size(a) == 0, F.array(F.lit(None))).otherwise(a)


def range_(n, start=None, step=None):
    if start is None:
        return F.sequence(F.lit(0), _c(n) - 1)
    if step is None:
        return F.sequence(_c(n), _c(start) - 1)  # range(start, end)
    return F.sequence(_c(n), _c(start) - 1, _c(step))


# --- JSON (src/Functions/FunctionsJSON.h) -----------------------------------

def _json_get(j, key):
    """Reference JSON functions take key names; build a $.key path.  A
    Column key is concat'ed at runtime, a literal at plan time."""
    if isinstance(key, Column):
        return F.call_function(
            "get_json_object", _c(j), F.concat(F.lit("$."), key)
        )
    return F.get_json_object(_c(j), f"$.{key}")


def json_extract_string(j, key):
    return _json_get(j, key)


def json_extract_int(j, key):
    return _json_get(j, key).cast("bigint")


def json_extract_float(j, key):
    return _json_get(j, key).cast("double")


def json_extract_bool(j, key):
    return _json_get(j, key).cast("boolean")


def json_extract_raw(j, key):
    return _json_get(j, key)


def json_has(j, key):
    return _json_get(j, key).isNotNull()


def json_length(j):
    """JSONLength of the top-level object."""
    return F.size(F.from_json(_c(j), "map<string,string>"))


def json_extract_keys(j):
    return F.map_keys(F.from_json(_c(j), "map<string,string>"))


def to_json_string(x):
    return F.to_json(_c(x))


# --- maps / tuples (src/Functions/map.cpp, tupleElement) --------------------

def map_(*kvs):
    return F.create_map(*[_c(x) for x in kvs])


def map_keys(m):
    return F.map_keys(_c(m))


def map_values(m):
    return F.map_values(_c(m))


def map_contains(m, k):
    return F.map_contains_key(_c(m), _c(k))


def tuple_(*xs):
    return F.struct(*[_c(x) for x in xs])


def tuple_element(t, idx):
    """tupleElement(t, N) — 1-based field access."""
    if isinstance(idx, int):
        return _c(t).getField(f"col{idx}")
    return F.element_at(_c(t), idx)


ARRAY_JSON_FUNCTIONS: dict[str, Callable] = {
    "array": array_, "arrayJoin": array_join_fn,
    "arrayMap": array_map, "arrayFilter": array_filter,
    "arrayExists": array_exists, "arrayAll": array_all,
    "arrayCount": array_count, "arraySum": array_sum, "arrayAvg": array_avg,
    "arrayMin": array_min_, "arrayMax": array_max_, "arrayUniq": array_uniq,
    "arrayDistinct": array_distinct_, "arraySort": array_sort_fn,
    "arrayReverseSort": array_reverse_sort, "arrayReverse": array_reverse,
    "arrayConcat": array_concat, "arraySlice": array_slice,
    "arrayPushBack": array_push_back, "arrayPushFront": array_push_front,
    "arrayPopBack": array_pop_back, "arrayPopFront": array_pop_front,
    "arrayFlatten": array_flatten, "arrayCompact": array_compact,
    "arrayDifference": array_difference, "arrayCumSum": array_cum_sum,
    "arrayEnumerate": array_enumerate, "arrayZip": array_zip,
    "arrayIntersect": array_intersect_, "arrayUnion": array_union_,
    "arrayExcept": array_except_,
    "has": has, "hasAll": has_all, "hasAny": has_any, "indexOf": index_of,
    "arrayElement": array_element, "emptyArrayToSingle": empty_array_to_single,
    "range": range_,
    "JSONExtractString": json_extract_string, "JSONExtractInt": json_extract_int,
    "JSONExtractFloat": json_extract_float, "JSONExtractBool": json_extract_bool,
    "JSONExtractRaw": json_extract_raw, "JSONHas": json_has,
    "JSONLength": json_length, "JSONExtractKeys": json_extract_keys,
    "toJSONString": to_json_string,
    "visitParamExtractString": json_extract_string,
    "visitParamExtractInt": json_extract_int,
    "map": map_, "mapKeys": map_keys, "mapValues": map_values,
    "mapContains": map_contains,
    "tuple": tuple_, "tupleElement": tuple_element,
}


def _sql(x) -> str:
    """Render a column-or-name for embedding in F.expr (names only)."""
    if isinstance(x, Column):
        raise ValueError("use functions API with Column args, not expr-embedding")
    return str(x)


#: reference-name -> python builder registry for the SQL dialect layer
FUNCTIONS: dict[str, Callable] = {
    "plus": plus, "minus": minus, "multiply": multiply, "divide": divide,
    "intDiv": int_div, "modulo": modulo, "negate": negate, "abs": abs_,
    "equals": equals, "notEquals": not_equals, "less": less,
    "greater": greater, "lessOrEquals": less_or_equals,
    "greaterOrEquals": greater_or_equals,
    "and": and_, "or": or_, "not": not_, "xor": xor,
    "if": if_, "multiIf": multi_if, "ifNull": if_null, "nullIf": null_if,
    "coalesce": coalesce, "ifNotFinite": if_not_finite,
    "isNull": is_null, "isNotNull": is_not_null, "isFinite": is_finite,
    "isNaN": is_nan, "assumeNotNull": assume_not_null,
    "least": least, "greatest": greatest,
    "toFloat32": to_float32, "toFloat64": to_float64, "toString": to_string,
    "toDate": to_date, "toDateTime": to_datetime, "toDateTime64": to_datetime64,
    "parseDateTimeBestEffort": parse_datetime_best_effort,
    "toUnixTimestamp": to_unix_timestamp,
    "toUnixTimestamp64Milli": to_unix_timestamp64_milli,
    "toUnixTimestamp64Micro": to_unix_timestamp64_micro,
    "fromUnixTimestamp64Milli": from_unix_timestamp64_milli,
    "fromUnixTimestamp64Micro": from_unix_timestamp64_micro,
    "toYear": to_year, "toQuarter": to_quarter, "toMonth": to_month,
    "toDayOfMonth": to_day_of_month, "toDayOfWeek": to_day_of_week,
    "toDayOfYear": to_day_of_year, "toHour": to_hour, "toMinute": to_minute,
    "toSecond": to_second,
    "toStartOfYear": to_start_of_year, "toStartOfQuarter": to_start_of_quarter,
    "toStartOfMonth": to_start_of_month, "toStartOfWeek": to_start_of_week,
    "toStartOfDay": to_start_of_day, "toStartOfHour": to_start_of_hour,
    "toStartOfMinute": to_start_of_minute,
    "toStartOfFiveMinute": to_start_of_five_minute,
    "toStartOfTenMinutes": to_start_of_ten_minutes,
    "toStartOfFifteenMinutes": to_start_of_fifteen_minutes,
    "toYYYYMM": to_yyyymm, "toYYYYMMDD": to_yyyymmdd,
    "now": now, "today": today, "yesterday": yesterday,
    "addSeconds": add_seconds, "addMinutes": add_minutes,
    "addHours": add_hours, "addDays": add_days, "addWeeks": add_weeks,
    "addMonths": add_months, "addYears": add_years,
    "subtractDays": subtract_days,
    "dateDiff": date_diff, "formatDateTime": format_date_time,
    "timeSlot": time_slot,
    "length": length, "char_length": char_length, "empty": empty,
    "notEmpty": not_empty, "lower": lower, "upper": upper,
    "lowerUTF8": lower, "upperUTF8": upper,
    "substring": substring, "concat": concat,
    "trimBoth": trim_both, "trimLeft": trim_left, "trimRight": trim_right,
    "startsWith": starts_with, "endsWith": ends_with, "reverse": reverse,
    "repeat": repeat, "leftPad": left_pad, "rightPad": right_pad,
    "position": position, "positionCaseInsensitive": position_case_insensitive,
    "like": like, "notLike": not_like, "ilike": ilike, "match": match,
    "countSubstrings": count_substrings, "multiSearchAny": multi_search_any,
    "replaceOne": replace_one, "replaceAll": replace_all,
    "replaceRegexpOne": replace_regexp_one, "replaceRegexpAll": replace_regexp_all,
    "extract": extract, "extractAll": extract_all,
    "splitByChar": split_by_char, "splitByString": split_by_string,
    "splitByRegexp": split_by_regexp, "arrayStringConcat": array_string_concat,
    "format": format_,
    "domain": domain, "domainWithoutWWW": domain_without_www,
    "topLevelDomain": top_level_domain, "path": url_path,
    "queryString": query_string, "extractURLParameter": extract_url_parameter,
    "protocol": protocol, "cutQueryString": cut_query_string,
    "xxHash64": xx_hash64, "cityHash64": city_hash64, "sipHash64": sip_hash64,
    "halfMD5": half_md5, "MD5": md5, "SHA1": sha1, "SHA256": sha256,
    "hex": hex_, "unhex": unhex, "CRC32": crc32,
    "round": round_, "roundBankers": round_bankers, "floor": floor_,
    "ceil": ceil_, "trunc": trunc_, "roundToExp2": round_to_exp2,
    "roundDuration": round_duration, "roundAge": round_age,
    "exp": exp, "log": log, "log2": log2, "log10": log10, "sqrt": sqrt,
    "cbrt": cbrt, "pow": pow_, "sin": sin, "cos": cos, "tan": tan,
    "asin": asin, "acos": acos, "atan": atan, "e": e, "pi": pi, "sign": sign,
    "intExp2": int_exp2, "intExp10": int_exp10,
    "transform": transform, "bar": bar,
    "formatReadableSize": format_readable_size,
    "rand": rand, "rand64": rand64, "generateUUIDv4": generate_uuid_v4,
    "IPv4NumToString": ipv4_num_to_string, "IPv4StringToNum": ipv4_string_to_num,
    "IPv6NumToString": ipv6_num_to_string,
    "MACNumToString": mac_num_to_string, "MACStringToNum": mac_string_to_num,
    "bitmaskToList": bitmask_to_list,
    "hostName": host_name, "version": version,
    "bitmapBuild": bitmap_build, "bitmapAnd": bitmap_and,
    "bitmapOr": bitmap_or, "bitmapXor": bitmap_xor,
    "bitmapAndnot": bitmap_andnot, "bitmapCardinality": bitmap_cardinality,
    "bitmapContains": bitmap_contains, "bitmapHasAny": bitmap_has_any,
    "bitmapHasAll": bitmap_has_all,
    "greatCircleDistance": great_circle_distance,
    "pointInPolygon": point_in_polygon, "geohashEncode": geohash_encode,
    "ngramDistance": ngram_distance, "ngramSearch": ngram_search,
    "neighbor": neighbor, "runningDifference": running_difference,
    "runningAccumulate": running_accumulate,
}

# integer conversions registered programmatically
for _name, _t in _INT_TYPES.items():
    FUNCTIONS[f"to{_name}"] = _to_int_builder(_t)

# arrays / JSON / maps / tuples (§2.8)
FUNCTIONS.update(ARRAY_JSON_FUNCTIONS)
