"""Scalar + aggregate function surface (SURVEY.md §2.7).

Re-expresses the reference's complete function registry
(/root/reference/src/Query/Builders/Functions/KsqlFunctionRegistry.cs:13-148)
as a thin alias layer over ``pyspark.sql.functions`` — every function here
stays JVM-side (whole-stage codegen), no Python UDFs in this module.

Names follow the reference's C#/KSQL surface (UCase, Len, EarliestByOffset,
...) so a user of the reference finds the same vocabulary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


# ---------------------------------------------------------------- string
# KsqlFunctionRegistry.cs:17-44
def UCase(c):  # ToUpper → UCASE
    return F.upper(_c(c))


def LCase(c):  # ToLower → LCASE
    return F.lower(_c(c))


def Substring(c, pos, length=None):
    return F.substring(_c(c), pos, length) if length is not None else F.expr(
        f"substring({_c(c)._jc.toString()}, {pos})"
    )


def Len(c):  # Length → LEN
    return F.length(_c(c))


def Trim(c):
    return F.trim(_c(c))


def Replace(c, search, repl):
    return F.replace(_c(c), F.lit(search), F.lit(repl))


def Contains(c, s):  # Contains → INSTR(a,b) > 0 (KsqlFunctionRegistry.cs:24)
    return F.instr(_c(c), s) > 0


def StartsWith(c, s):
    return F.startswith(_c(c), F.lit(s))


def EndsWith(c, s):
    return F.endswith(_c(c), F.lit(s))


def Split(c, delim):
    # KSQL SPLIT is literal, not regex
    return F.split(_c(c), delim and __import__("re").escape(delim))


def Concat(*cols):
    return F.concat(*[_c(c) if isinstance(c, (Column, str)) else F.lit(c) for c in cols])


def IndexOf(c, s):  # IndexOf → INSTR
    return F.instr(_c(c), s)


def PadLeft(c, width, pad=" "):
    return F.lpad(_c(c), width, pad)


def PadRight(c, width, pad=" "):
    return F.rpad(_c(c), width, pad)


def Left(c, n):  # clamped SUBSTRING composite (KsqlFunctionRegistry.cs:35-44)
    return F.left(_c(c), F.lit(n))


def Right(c, n):
    return F.right(_c(c), F.lit(n))


# ---------------------------------------------------------------- math
# KsqlFunctionRegistry.cs:47-59
def Abs(c):
    return F.abs(_c(c))


def Round(c, digits=0):
    return F.round(_c(c), digits)


def Floor(c):
    return F.floor(_c(c))


def Ceiling(c):
    return F.ceil(_c(c))


def Sqrt(c):
    return F.sqrt(_c(c))


def Power(c, p):
    return F.pow(_c(c), p)


def Sign(c):
    return F.signum(_c(c))


def Sin(c):
    return F.sin(_c(c))


def Cos(c):
    return F.cos(_c(c))


def Tan(c):
    return F.tan(_c(c))


def Log(c, base=None):
    return F.log(float(base), _c(c)) if base is not None else F.log(_c(c))


def Log10(c):
    return F.log10(_c(c))


def Exp(c):
    return F.exp(_c(c))


# ---------------------------------------------------------------- date/time
# KsqlFunctionRegistry.cs:63-77
def Year(c):
    return F.year(_c(c))


def Month(c):
    return F.month(_c(c))


def Day(c):
    return F.dayofmonth(_c(c))


def Hour(c):
    return F.hour(_c(c))


def Minute(c):
    return F.minute(_c(c))


def Second(c):
    return F.second(_c(c))


def AddDays(c, n):
    return _c(c) + F.expr(f"INTERVAL {int(n)} DAYS")


def AddHours(c, n):
    return _c(c) + F.expr(f"INTERVAL {int(n)} HOURS")


def AddMinutes(c, n):
    return _c(c) + F.expr(f"INTERVAL {int(n)} MINUTES")


def AddSeconds(c, n):
    return _c(c) + F.expr(f"INTERVAL {int(n)} SECONDS")


def AddMilliseconds(c, n):
    return _c(c) + F.expr(f"INTERVAL {int(n)} MILLISECONDS")


def DayOfWeek(c):
    return F.dayofweek(_c(c))


def DayOfYear(c):
    return F.dayofyear(_c(c))


def WeekOfYear(c):
    return F.weekofyear(_c(c))


def FormatTimestamp(c, fmt="yyyy-MM-dd'T'HH:mm:ss"):
    # DateTime.ToString → FORMAT_TIMESTAMP (KsqlFunctionTranslator.cs:107-140)
    return F.date_format(_c(c), fmt)


# ---------------------------------------------------------------- cast
# KsqlFunctionRegistry.cs:116-122
def ToStringCol(c):
    return _c(c).cast(T.StringType())


def ToInt(c):
    return _c(c).cast(T.IntegerType())


def ToLong(c):
    return _c(c).cast(T.LongType())


def ToDouble(c):
    return _c(c).cast(T.DoubleType())


def ToDecimal(c, precision=18, scale=2):
    return _c(c).cast(T.DecimalType(precision, scale))


def ToBool(c):
    # TOBOOL/TOBOOLEAN (KsqlFunctionRegistry.cs cast family)
    return _c(c).cast(T.BooleanType())


ToBoolean = ToBool
Instr = IndexOf  # KSQL name for the same registry row


# ---------------------------------------------------------------- conditional
# KsqlFunctionRegistry.cs:125-128
def Case(*when_then, default=None):
    """n-ary CASE: Case((cond1, val1), (cond2, val2), default=...)."""
    expr = None
    for cond, val in when_then:
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(default) if default is not None else expr


def Coalesce(*cols):
    return F.coalesce(*[_c(c) for c in cols])


def IfNull(c, default):
    return F.ifnull(_c(c), F.lit(default))


def NullIf(c, v):
    return F.nullif(_c(c), F.lit(v))


# ---------------------------------------------------------------- array
# KsqlFunctionRegistry.cs:95-105 — 1:1 with Spark builtins
def ArrayLength(c):
    return F.size(_c(c))


def ArrayContains(c, v):
    return F.array_contains(_c(c), v)


def ArraySlice(c, start, length):
    return F.slice(_c(c), start, length)


def ArrayJoin(c, delim):
    return F.array_join(_c(c), delim)


def ArrayDistinct(c):
    return F.array_distinct(_c(c))


def ArrayExcept(a, b):
    return F.array_except(_c(a), _c(b))


def ArrayIntersect(a, b):
    return F.array_intersect(_c(a), _c(b))


def ArrayUnion(a, b):
    return F.array_union(_c(a), _c(b))


def ArraySort(c):
    return F.sort_array(_c(c))


def ArrayMax(c):
    return F.array_max(_c(c))


def ArrayMin(c):
    return F.array_min(_c(c))


# ---------------------------------------------------------------- json
# KsqlFunctionRegistry.cs:108-113
def JsonExtractString(c, path):
    return F.get_json_object(_c(c), path)


def JsonArrayLength(c):
    return F.json_array_length(_c(c))


def JsonKeys(c):
    return F.json_object_keys(_c(c))


def JsonArrayContains(c, v):
    """JSON_ARRAY_CONTAINS (KsqlFunctionRegistry.cs:111): membership test
    on a JSON array string; elements compared as strings."""
    return F.array_contains(
        F.from_json(_c(c), "array<string>"), F.lit(v).cast("string")
    )


def JsonConcat(a, b):
    """JSON_CONCAT (:112): shallow merge of two JSON objects (right wins
    on duplicate keys — dropped from the left first, since map_concat
    rejects duplicates under the default dedup policy), re-serialized."""
    right = F.from_json(_c(b), "map<string,string>")
    left = F.map_filter(
        F.from_json(_c(a), "map<string,string>"),
        lambda k, _v: ~F.map_contains_key(right, k),
    )
    return F.to_json(F.map_concat(left, right))


def JsonRecords(c):
    """JSON_RECORDS (:113): JSON object -> MAP<key, stringified value>."""
    return F.from_json(_c(c), "map<string,string>")


# ---------------------------------------------------------------- url
# KsqlFunctionRegistry.cs:131-134
def UrlExtractHost(c):
    return F.parse_url(_c(c), F.lit("HOST"))


def UrlExtractPath(c):
    return F.parse_url(_c(c), F.lit("PATH"))


def UrlExtractQuery(c):
    return F.parse_url(_c(c), F.lit("QUERY"))


def UrlExtractProtocol(c):
    return F.parse_url(_c(c), F.lit("PROTOCOL"))


# ---------------------------------------------------------------- geo
# KsqlFunctionRegistry.cs:137-138 — haversine, UDF-free column math.
#
# ENGINE-PORTABLE BY DESIGN: JVM Math.sin/cos/asin and C libm disagree
# by 1-2 ulp on ~24% of inputs (measured vs DuckDB at sf0.1), so a
# haversine built on F.sin/F.cos gives different last-bit results on
# different runtimes — and any fixed-precision rounding of a 1-ulp-noisy
# double flips at bucket boundaries (~1 row in 1e5 at 6 dp).  The trig
# here is therefore evaluated as fixed Horner POLYNOMIALS in plain
# +,*,/,sqrt — IEEE-exact and bit-identical on every engine that parses
# the same double literals (Spark codegen, DuckDB, any SQL dialect via
# geo_distance_sql below).  Max error vs true haversine < 1e-9 rad
# (sub-mm over Earth radii); determinism across clusters/JDKs is the
# contract, exact libm parity is not.
from fractions import Fraction as _Fr
from math import factorial as _fact

_DEG2RAD = 0.017453292519943295  # pi/180, shortest-repr double literal
_HALF_PI = 1.5707963267948966
# sin x = x * sum c_k x^2k, k=0..12  (|x| <= pi -> tail < 3e-15)
_SIN_COEFS = [float(_Fr((-1) ** k, _fact(2 * k + 1))) for k in range(13)]
# cos x = sum c_k x^2k, k=0..13
_COS_COEFS = [float(_Fr((-1) ** k, _fact(2 * k))) for k in range(14)]
# asin u = u * sum c_k u^2k, k=0..30, valid |u| <= 1/sqrt(2)
# (tail < 1e-9; the u > 1/sqrt(2) branch uses asin(u) = pi/2 - asin(sqrt(1-h)))
_ASIN_COEFS = [
    float(_Fr(_fact(2 * k), (_fact(k) ** 2) * (4 ** k) * (2 * k + 1)))
    for k in range(31)
]


def _horner_col(x2, coefs):
    acc = F.lit(coefs[-1])
    for c in reversed(coefs[:-1]):
        acc = acc * x2 + F.lit(c)
    return acc


def _sin_col(x):
    return x * _horner_col(x * x, _SIN_COEFS)


def _cos_col(x):
    return _horner_col(x * x, _COS_COEFS)


def _asin_small_col(u):
    return u * _horner_col(u * u, _ASIN_COEFS)


def GeoDistance(lat1, lon1, lat2, lon2, unit="KM"):
    """Scalar-Column haversine (KsqlFunctionRegistry.cs:137-138).

    EXPRESSION-SIZE WARNING: as a single Column the Horner chains
    re-inline their argument subtree at every step, so the unresolved
    tree is multiplicative in nesting depth (the r4 `geo_distance`
    bench regression, 0.31 s -> 6.4 s, SCALING.md "expression-size
    traps").  Fine for ad-hoc use / small parity tests; for a full-table
    scan use :func:`geo_distance_staged`, which stages each polynomial
    through a named projection (bit-identical output, linear plan size).
    """
    r = 6371.0 if unit.upper() == "KM" else 3958.8
    la1, lo1 = _c(lat1), _c(lon1)
    la2, lo2 = _c(lat2), _c(lon2)
    d2r = F.lit(_DEG2RAD)
    dphi = ((la2 - la1) * d2r) / 2
    dlmb = ((lo2 - lo1) * d2r) / 2
    s1, s2 = _sin_col(dphi), _sin_col(dlmb)
    # polynomial sin/cos can overshoot |1| by an ulp (near pi/2, and
    # infinitesimally below 0 for poles-adjacent inputs) -> clamp h to
    # [0, 1] (identically in geo_distance_sql / geo_distance_staged) so
    # sqrt(h) and sqrt(1 - h) both stay real
    h = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            s1 * s1 + _cos_col(la1 * d2r) * _cos_col(la2 * d2r) * (s2 * s2),
        ),
    )
    # single asin evaluation: hoist u, run the 31-term series ONCE, and
    # branch only on the cheap pi/2 reassembly (same doubles as the
    # two-branch form: each branch sees the identical op sequence)
    u = F.when(h <= 0.5, F.sqrt(h)).otherwise(F.sqrt(F.lit(1.0) - h))
    a = _asin_small_col(u)
    theta = F.when(h <= 0.5, a).otherwise(F.lit(_HALF_PI) - a)
    return F.lit(2 * r) * theta


def _horner_expr(x2: str, coefs) -> str:
    """Spark-SQL-dialect Horner chain ('D' double-literal suffix; bare
    decimals would parse as DECIMAL).  One string -> one parse on the
    JVM, vs ~60 py4j roundtrips for the Column-op construction (the
    dominant cost of building this query from Python)."""
    acc = f"{coefs[-1]!r}D"
    for c in reversed(coefs[:-1]):
        acc = f"({acc}) * ({x2}) + {c!r}D"
    return f"({acc})"


def _sin_expr(x: str) -> str:
    return f"({x}) * ({_horner_expr(f'({x}) * ({x})', _SIN_COEFS)})"


def _cos_expr(x: str) -> str:
    return _horner_expr(f"({x}) * ({x})", _COS_COEFS)


def geo_distance_staged(df, lat1, lon1, lat2, lon2, unit="KM", dist_col="dist"):
    """Scale path for :func:`GeoDistance`: identical doubles (same Horner
    polynomials, same IEEE op order), but every intermediate — dphi/dlmb,
    the four trig polynomials, h, the asin argument u, the asin series a
    — is staged through a named projection, mirroring geo_distance_sql's
    CTEs.  Each Horner then runs over an AttributeReference, so the plan
    is LINEAR in polynomial degree and whole-stage codegen evaluates each
    polynomial once per row.  CollapseProject cannot re-inline the stages:
    every staged alias is a non-cheap expression consumed more than once
    (s1*s1, h in 3 places, a in both CASE branches).

    Built as ONE ``spark.sql`` call (the Spark-dialect twin of
    geo_distance_sql, 'D' double literals) rather than chained
    ``select``s: each eager Dataset analysis re-walks the whole growing
    subtree, so 6 chained selects cost ~0.4 s of driver time per build
    while one parse+analysis of the nested query costs ~0.05 s.

    ``lat1``/``lon1``/``lat2``/``lon2`` are column NAMES (str) or
    numeric literals.  Appends ``dist_col``; input columns preserved.
    """
    r = 6371.0 if unit.upper() == "KM" else 3958.8

    def ref(v) -> str:
        if isinstance(v, str):
            return f"CAST(`{v}` AS DOUBLE)"
        return f"{float(v)!r}D"

    keep = ", ".join(f"`{c}`" for c in df.columns)
    d2r = f"{_DEG2RAD!r}D"
    q = f"""
    SELECT {keep},
           {(2 * r)!r}D * (CASE WHEN __h <= 0.5D THEN __a
                ELSE {_HALF_PI!r}D - __a END) AS `{dist_col}`
    FROM (
      SELECT {keep}, __h,
             (__u) * ({_horner_expr('(__u) * (__u)', _ASIN_COEFS)}) AS __a
      FROM (
        SELECT {keep}, __h,
               CASE WHEN __h <= 0.5D THEN sqrt(__h)
                    ELSE sqrt(1.0D - __h) END AS __u
        FROM (
          SELECT {keep},
                 greatest(0.0D, least(1.0D,
                     __s1 * __s1 + __c1 * __c2 * (__s2 * __s2))) AS __h
          FROM (
            SELECT {keep},
                   {_sin_expr('__dphi')} AS __s1,
                   {_sin_expr('__dlmb')} AS __s2,
                   {_cos_expr('__phi1')} AS __c1,
                   {_cos_expr('__phi2')} AS __c2
            FROM (
              SELECT {keep},
                     ({ref(lat2)} - {ref(lat1)}) * {d2r} / 2 AS __dphi,
                     ({ref(lon2)} - {ref(lon1)}) * {d2r} / 2 AS __dlmb,
                     {ref(lat1)} * {d2r} AS __phi1,
                     {ref(lat2)} * {d2r} AS __phi2
              FROM {{src}})))))
    """
    return df.sparkSession.sql(q, src=df)


def _horner_sql(x2: str, coefs) -> str:
    # every literal is ::DOUBLE — bare decimal literals parse as DECIMAL
    # in DuckDB and decimal arithmetic both overflows and diverges.
    # Result is parenthesized: it ends in `+ c` and embeds in products.
    acc = f"{coefs[-1]!r}::DOUBLE"
    for c in reversed(coefs[:-1]):
        acc = f"({acc}) * ({x2}) + {c!r}::DOUBLE"
    return f"({acc})"


def _sin_sql(x: str) -> str:
    return f"({x}) * ({_horner_sql(f'({x}) * ({x})', _SIN_COEFS)})"


def _cos_sql(x: str) -> str:
    return _horner_sql(f"({x}) * ({x})", _COS_COEFS)


def _asin_small_sql(u: str) -> str:
    return f"({u}) * ({_horner_sql(f'({u}) * ({u})', _ASIN_COEFS)})"


def geo_distance_sql(
    lat1: str, lon1: str, lat2: str, lon2: str, unit: str = "KM",
    id_expr: str = "event_id", from_clause: str = "pts",
) -> str:
    """ANSI-SQL twin of :func:`GeoDistance` — the SAME Horner
    polynomials over the same double literals, staged through CTEs so
    every sub-expression is written once.  Any engine that parses IEEE
    double literals reproduces Spark's output bit-for-bit.  Returns a
    complete SELECT yielding (id, dist).

    Caveat: coordinate COLUMNS must arrive binary (parquet/Arrow) —
    DuckDB's string->DOUBLE parse is 1 ulp off for some literals.  The
    fixed query point passed as ``lat2``/``lon2`` text should be an
    exactly-representable short decimal ('51.5', '-0.1'); the
    generated coefficient literals (shortest-repr doubles) parse
    exactly — verified bit-for-bit in tests/test_conformance.py."""
    r = 6371.0 if unit.upper() == "KM" else 3958.8
    d2r = f"{_DEG2RAD!r}::DOUBLE"
    return f"""
    SELECT {id_expr} AS id,
           2 * {r!r}::DOUBLE * (CASE WHEN h <= 0.5
                THEN a ELSE {_HALF_PI!r}::DOUBLE - a END)
             AS dist
    FROM (
      SELECT {id_expr}, h, {_asin_small_sql('u')} AS a
      FROM (
        SELECT {id_expr}, h,
               CASE WHEN h <= 0.5 THEN sqrt(h)
                    ELSE sqrt(1.0::DOUBLE - h) END AS u
        FROM (
          SELECT {id_expr},
                 greatest(0.0::DOUBLE, least(1.0::DOUBLE,
                       s1 * s1 + {_cos_sql('phi1')} * {_cos_sql('phi2')} * (s2 * s2)))
                   AS h
          FROM (
            SELECT {id_expr},
                   {_sin_sql('dphi')} AS s1, {_sin_sql('dlmb')} AS s2,
                   phi1, phi2
            FROM (
              SELECT {id_expr},
                     (({lat2})::DOUBLE - ({lat1})::DOUBLE) * {d2r} / 2 AS dphi,
                     (({lon2})::DOUBLE - ({lon1})::DOUBLE) * {d2r} / 2 AS dlmb,
                     ({lat1})::DOUBLE * {d2r} AS phi1,
                     ({lat2})::DOUBLE * {d2r} AS phi2
              FROM {from_clause})))))
    """


def AsGeoJson(lat, lon):
    return F.to_json(
        F.struct(
            F.lit("Point").alias("type"),
            F.array(_c(lon), _c(lat)).alias("coordinates"),
        )
    )


# ---------------------------------------------------------------- crypto
# KsqlFunctionRegistry.cs:141-143
def Md5(c):
    return F.md5(_c(c))


def Sha1(c):
    return F.sha1(_c(c))


def Sha256(c):
    return F.sha2(_c(c), 256)


# ---------------------------------------------------------------- aggregates
# KsqlFunctionRegistry.cs:80-92 (§2.4)
def Sum(c):
    return F.sum(_c(c))


def Count():
    return F.count(F.lit(1))


def Max(c):
    return F.max(_c(c))


def Min(c):
    return F.min(_c(c))


def Avg(c):
    return F.avg(_c(c))


def EarliestByOffset(c, order_col):
    """EARLIEST_BY_OFFSET — first value in offset order (the OHLC *open*
    primitive, /root/reference/src/Extensions/OffsetAggregateExtensions.cs:26).
    Batch has no Kafka offset; the order is (order_col, value), so the
    value must be orderable.  Rows that tie on both carry the same value,
    so the result never depends on the order rows arrive in."""
    c = _c(c)
    return F.min_by(c, F.struct(_c(order_col), c))


def LatestByOffset(c, order_col):
    """LATEST_BY_OFFSET — OHLC *close* (OffsetAggregateExtensions.cs:40);
    the last value in the (order_col, value) order of
    :func:`EarliestByOffset`."""
    c = _c(c)
    return F.max_by(c, F.struct(_c(order_col), c))


def CollectList(c):
    return F.collect_list(_c(c))


def CollectSet(c):
    return F.collect_set(_c(c))


def CountDistinct(c):
    return F.count_distinct(_c(c))


def ApproxCountDistinct(c, rsd=0.05):
    """100 TB-scale variant of COUNT_DISTINCT (HyperLogLog++)."""
    return F.approx_count_distinct(_c(c), rsd)


def Histogram(c):
    """HISTOGRAM(col) → MAP<value, count> (KsqlFunctionRegistry.cs:90).

    Implemented as a re-aggregable expression: map built from the grouped
    counts must be assembled by the caller via two-level groupBy, or use
    this single-pass form (map_from_entries over collect_list of pairs is
    not partial-agg friendly; prefer aggregate-then-pivot at scale).
    """
    col = _c(c)
    return F.map_from_entries(
        F.array_sort(
            F.transform(
                F.array_distinct(F.collect_list(col)),
                lambda v: F.struct(
                    v.alias("key"),
                    F.aggregate(
                        F.filter(F.collect_list(col), lambda x: x == v),
                        F.lit(0),
                        lambda acc, _: acc + 1,
                    ).alias("value"),
                ),
            )
        )
    )


def TopK(c, k):
    """TOPK(col, k) → ARRAY of the k largest (KsqlFunctionRegistry.cs:91)."""
    return F.slice(F.sort_array(F.collect_list(_c(c)), asc=False), 1, k)


def TopKDistinct(c, k):
    return F.slice(F.sort_array(F.collect_set(_c(c)), asc=False), 1, k)


# ------------------------------------------------------- custom mappings
def RegisterCustomMapping(spark, name, fn, return_type="string"):
    """RegisterCustomMapping analog (KsqlFunctionRegistry.cs:245-248) —
    the reference's ENTIRE UDF surface is name->template registration;
    Spark's is spark.udf.register.  Prefer pandas_udf for hot paths
    (row-at-a-time Python UDFs are the slow path, ~10-100x behind
    Arrow-batched ones)."""
    return spark.udf.register(name, fn, return_type)
