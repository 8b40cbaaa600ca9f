"""Scalar Column builders that no other path implements (SURVEY §2.8).

The reference registers one implementation per function name
(src/Functions/registerFunctions.cpp:10-47).  Here that one mapping is
the dialect's ``plans.dialect.FUNC_MAP``: ``sql()``, ``api.search`` and
the script engine run every reference name through it.  This module
keeps a ``Column`` builder only where that mapping is not the whole
story:

- **Engine callers.**  The registry queries build their plans with the
  DataFrame API and call ``to_start_of_hour`` (``queries.py``) and
  ``neighbor``, ``running_difference``, ``running_accumulate``,
  ``ipv4_num_to_string``, ``mac_num_to_string``, ``bitmask_to_list``,
  ``great_circle_distance``, ``ngram_distance`` (``queries_stats.py``).
- **The only Spark-expression implementation of a name.**  One executed
  call through ``ScriptRunner`` shows the dialect does not serve it:
  the name passes through unresolved (``replaceOne``, ``format``,
  ``domain``, ``topLevelDomain``, ``queryString``, ``protocol``,
  ``cutQueryString``, ``ngramSearch``, ``arrayAvg``, ``arrayMin``,
  ``arrayMax``, ``arrayUnion``, ``arrayExcept``, ``arrayElement``,
  ``JSONExtractKeys``, ``toJSONString``, ``mapContains``), its call form
  does not translate (``like(a, b)``, ``ilike(a, b)``), a pattern
  without a capture group fails (``extract``, ``extractAll``), or it
  runs only as a ``ch_*`` Python UDF (``IPv6NumToString``,
  ``geohashEncode``).

Every builder takes and returns :class:`pyspark.sql.Column` built from
``pyspark.sql.functions``, so it stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    """Coerce python literals to Columns."""
    return x if isinstance(x, Column) else F.lit(x)


# --- date / time ----------------------------------------------------------

def to_start_of_hour(x):
    """toStartOfHour = date_trunc bucket (src/Functions/toStartOfInterval.cpp);
    Daisy partitions by it (TableRestRouterHandler.cpp:55-58)."""
    return F.date_trunc("hour", _c(x))


# --- strings ---------------------------------------------------------------

def like(x, pattern):
    return _c(x).like(pattern)


def ilike(x, pattern):
    return _c(x).ilike(pattern)


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


def extract(x, pattern):
    """The first capture group, or the whole match when the pattern has
    none (src/Functions/extract.cpp)."""
    return F.regexp_extract(_c(x), pattern, 1 if "(" in pattern else 0)


def extract_all(x, pattern):
    return F.regexp_extract_all(
        _c(x), F.lit(pattern), F.lit(1 if "(" in pattern else 0)
    )


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


def top_level_domain(x):
    return F.regexp_extract(domain(x), r"\.([^.]+)$", 1)


def query_string(x):
    return F.parse_url(_c(x), F.lit("QUERY"))


def protocol(x):
    return F.parse_url(_c(x), F.lit("PROTOCOL"))


def cut_query_string(x):
    x = _c(x)
    q = F.instr(x, "?")
    return F.when(q == 0, x).otherwise(F.substring(x, F.lit(1), q - 1))


# --- coding -----------------------------------------------------------------

def ipv4_num_to_string(x):
    x = _c(x).cast("bigint")
    return F.concat_ws(
        ".",
        (F.shiftright(x, 24) % 256).cast("string"),
        (F.shiftright(x, 16) % 256).cast("string"),
        (F.shiftright(x, 8) % 256).cast("string"),
        (x % 256).cast("string"),
    )


def ipv6_num_to_string(x):
    """IPv6 16-byte binary -> colon-grouped lowercase hex
    (src/Functions/FunctionsCoding.h IPv6NumToString). Emits the full
    8-group form (no RFC 5952 zero-run compression — documented
    simplification; the dialect's ch_ipv6_ntos UDF compresses)."""
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


# --- arrays (src/Functions/array/) -----------------------------------------

def array_avg(arr):
    a = _c(arr)
    total = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    return total / F.greatest(F.size(a), F.lit(1))


def array_min_(arr):
    return F.array_min(_c(arr))


def array_max_(arr):
    return F.array_max(_c(arr))


def array_union_(a, b):
    return F.array_union(_c(a), _c(b))


def array_except_(a, b):
    return F.array_except(_c(a), _c(b))


def array_element(arr, i):
    """arrayElement — 1-based; negative indexes from the end."""
    return F.element_at(_c(arr), i)


# --- JSON / maps (src/Functions/FunctionsJSON.h, map.cpp) --------------------

def json_extract_keys(j):
    return F.map_keys(F.from_json(_c(j), "map<string,string>"))


def to_json_string(x):
    return F.to_json(_c(x))


def map_contains(m, k):
    return F.map_contains_key(_c(m), _c(k))
