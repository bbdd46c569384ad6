"""Registered driver queries: Spark implementation + DuckDB oracle twins.

Each entry exercises one operator family from SURVEY.md §2.  The Spark
side goes through the engine's public API (query DSL / operators /
functions modules) wherever the operator has one; the oracle is plain
ANSI SQL for DuckDB over the same parquet views.

Determinism notes:
- money aggregates: per-row cast to DECIMAL → exact aggregation → cast
  DOUBLE (bit-identical across engines, stable DOUBLE schema).
- min_by/max_by orderings are total: a column verified duplicate-free
  per group, or (event time, value) for open/close — ties on both carry
  the same value (DuckDB twin: min({'t': ts, 'v': value}).v).
- arrays compared sorted (collect_list order is nondeterministic).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import functions as KF
from .operators.ohlc import ohlc_bars
from .operators.windows import bucket_start
from .query.builder import from_df
from .session import cut
from .sources import evict_foreign_apps, read_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


_LSH_PAIRS_PLANS: dict = {}


def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared LSH candidate-pair PLAN (documents, num_hashes=8,
    bands=4, shingle_n=3), built once per (session, sf_dir).

    Six declared queries assemble this exact subtree; constructing it
    costs hundreds of py4j round trips of driver-side analysis (guide
    §7.3 — single-threaded, does not shrink with cluster size).  This
    caches the immutable DataFrame PLAN only — no persisted blocks, no
    checkpoint inside the subtree (downstream lineage cuts are applied
    by each consumer to fresh frames), so every execution still
    computes from the parquet inputs (same discipline as read_table's
    table-plan cache)."""
    from .operators.dedup import minhash_lsh_pairs

    key = (spark.sparkContext.applicationId, sf_dir)
    got = _LSH_PAIRS_PLANS.get(key)
    if got is None:
        d = _t(spark, sf_dir, "documents")
        got = minhash_lsh_pairs(d, num_hashes=8, bands=4, shingle_n=3)
        # read_table's bound: entries keyed by stopped applications must
        # not accumulate for the process lifetime (each pins a
        # SparkSession + DataFrame graph)
        evict_foreign_apps(_LSH_PAIRS_PLANS, key[0], 64)
        _LSH_PAIRS_PLANS[key] = got
    return got


def _dec2dbl(c, p=18, s=2):
    """Exact-aggregation carrier: per-row decimal cast; caller sums then
    casts back to double."""
    return c.cast(f"decimal({p},{s})")


def _probe_vec(sf_dir: str, vec_id: int = 0) -> list[float]:
    """ANN probe vector as a query PARAMETER — a driver-local pyarrow
    point read (parquet footer + the one matching row group), NOT a
    Spark job: the former ``.first()`` fetch launched a full Spark
    job inside query construction, serializing an extra execution per
    ANN query and hiding a table scan from the plan audit.  On a
    cluster the same read goes through pyarrow's filesystem layer
    (S3/HDFS) and still touches only footer + one row group — the
    cost profile of a point lookup, which is what a probe is.
    Cached per (sf_dir, vec_id): the data is round-static."""
    key = (sf_dir, vec_id)
    hit = _PROBE_CACHE.get(key)
    if hit is None:
        import pyarrow.dataset as ds

        t = ds.dataset(os.path.join(sf_dir, "embeddings.parquet")).to_table(
            filter=(ds.field("vec_id") == vec_id), columns=["embedding"]
        )
        hit = _PROBE_CACHE[key] = [float(x) for x in t.column("embedding")[0].as_py()]
    return hit


_PROBE_CACHE: dict[tuple[str, int], list[float]] = {}


# ======================================================================
# Flagship: OHLC tumbling bars (SURVEY.md §2.5 W1, §2.4 A6)
# reference golden: tests/Query/Golden/bars_5m_live.sql
# ======================================================================


def _bar_columns(bars: DataFrame, keys: list[str]) -> DataFrame:
    """The registered bar queries' seven columns: keys, bucket_start,
    open/high/low/close rounded to 6 places, and cnt as volume."""
    return bars.select(
        *keys,
        "bucket_start",
        *[F.round(c, 6).alias(c) for c in ("open", "high", "low", "close")],
        F.col("cnt").alias("volume"),
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 flagship: tumbling 1-minute OHLC bars (EarliestByOffset/LatestByOffset open/close, min/max low/high per bucket)."""
    ev = _t(spark, sf_dir, "events")
    bars = ohlc_bars(
        ev, keys=["event_type"], ts_col="ts", price_col="value", timeframe="1m"
    )
    return _bar_columns(bars, ["event_type"])


q(
    "ohlc_1m_bars",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '1 minute', ts) AS bucket_start,
           round(min({'t': ts, 'v': value}).v, 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max({'t': ts, 'v': value}).v, 6) AS close,
           count(*) AS volume
    FROM events
    GROUP BY 1, 2
    """,
)(flagship)


@q(
    "ohlc_5m_bars_multikey",
    oracle="""
    SELECT event_type,
           user_id % 10 AS shard,
           time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
           round(min({'t': ts, 'v': value}).v, 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max({'t': ts, 'v': value}).v, 6) AS close,
           count(*) AS volume
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def ohlc_5m_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key bars (golden bars_5m_live.sql keys: broker, symbol)."""
    ev = _t(spark, sf_dir, "events").withColumn("shard", F.col("user_id") % 10)
    keys = ["event_type", "shard"]
    bars = ohlc_bars(ev, keys=keys, ts_col="ts", price_col="value", timeframe="5m")
    return _bar_columns(bars, keys)


# ======================================================================
# §2.4 Aggregation — TPC-H-Q1-style pricing summary (A1-A5, P11/HAVING-free)
# ======================================================================


@q(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) * 100) AS DOUBLE) / 100 AS sum_disc_price,
           CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(22,6))) * 100) AS DOUBLE) / 100 AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS DOUBLE) AS avg_qty,
           CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS DOUBLE) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A1-A5): sum/avg/count pricing rollup per returnflag/linestatus through the staged Query builder."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    qy = (
        from_df(li)
        .where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .group_by("l_returnflag", "l_linestatus")
        .select(
            F.sum(_dec2dbl(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec2dbl(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            # decimal-domain floor to the money scale BEFORE the double
            # cast: a DECIMAL(38,6) sum whose unscaled integer exceeds
            # 2^53 casts 1 ulp apart across engines (DuckDB converts
            # int128 then divides; Spark's BigDecimal cast is correctly
            # rounded — sf1 exposed the divergence).  floor(dec*100) is
            # an exact integer < 2^53 here, so cast + one IEEE division
            # are bit-identical everywhere.
            (F.floor(F.sum(_dec2dbl(disc_price, 22, 6)) * 100).cast("double") / 100).alias("sum_disc_price"),
            (F.floor(F.sum(_dec2dbl(charge, 22, 6)) * 100).cast("double") / 100).alias("sum_charge"),
            (F.sum(_dec2dbl(F.col("l_quantity"))).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec2dbl(F.col("l_discount"))).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return qy.to_df()


@q(
    "agg_minmax_earliest_latest",
    oracle="""
    SELECT event_type,
           min(value) AS min_v, max(value) AS max_v,
           min({'t': ts, 'v': value}).v AS first_v, max({'t': ts, 'v': value}).v AS last_v,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM events GROUP BY event_type
    """,
)
def agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 Max/Min + A6 Earliest/LatestByOffset on raw doubles."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        KF.Min("value").alias("min_v"),
        KF.Max("value").alias("max_v"),
        KF.EarliestByOffset("value", "ts").alias("first_v"),
        KF.LatestByOffset("value", "ts").alias("last_v"),
        KF.Min("ts").alias("first_ts"),
        KF.Max("ts").alias("last_ts"),
    )


@q(
    "agg_count_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 CountDistinct + Count per event_type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        KF.CountDistinct("user_id").alias("users"),
        KF.Count().alias("n"),
    )


@q(
    "agg_collect_topk",
    oracle="""
    WITH a AS (
      SELECT event_type,
             list_sort(list(DISTINCT user_id % 100)) AS user_set,
             list_sort(list(value), 'DESC') AS allv
      FROM events
      GROUP BY event_type)
    SELECT event_type,
           array_to_string(list_transform(user_set, x -> x::VARCHAR), '|') AS user_set,
           allv[1] AS top1, allv[2] AS top2, allv[3] AS top3,
           allv[4] AS top4, allv[5] AS top5
    FROM a
    """,
)
def agg_collect_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 CollectSet (sorted for comparison) + A10 TopK.

    Arrays are projected to scalar columns (joined string / one column
    per rank) so the oracle harness — which sorts pandas columns and
    cannot hash list cells — can value-check the result exactly."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.array_sort(KF.CollectSet(F.col("user_id") % 100)).alias("user_set"),
        KF.TopK("value", 5).alias("top5"),
    )
    return g.select(
        "event_type",
        F.concat_ws("|", F.col("user_set").cast("array<string>")).alias("user_set"),
        *[F.element_at("top5", i).alias(f"top{i}") for i in range(1, 6)],
    )


@q(
    "agg_having",
    oracle="""
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
           count(*) AS n
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 3
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 Having (WHERE-after-GroupBy reclassification, P11)."""
    od = _t(spark, sf_dir, "orders")
    qy = (
        from_df(od)
        .group_by("o_custkey")
        .where(F.count(F.lit(1)) >= 3)  # reclassified to HAVING
        .select(
            F.sum(_dec2dbl(F.col("o_totalprice"))).cast("double").alias("spend"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return qy.to_df()


@q(
    "agg_histogram",
    oracle="""
    SELECT o_orderpriority AS k, count(*) AS cnt
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 Histogram — emitted as (value,count) rows: the scalable form of
    HISTOGRAM's MAP<v,count> (a map column at 100 TB key cardinality is a
    driver-killer; rows re-aggregate and spill)."""
    od = _t(spark, sf_dir, "orders")
    return od.groupBy(F.col("o_orderpriority").alias("k")).agg(F.count(F.lit(1)).alias("cnt"))


# ======================================================================
# §2.2 Projection / filter / predicates
# ======================================================================


@q(
    "filter_predicates",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS bucket
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')
      AND o_totalprice IS NOT NULL
      AND o_orderpriority LIKE '1-URGENT%'
      AND NOT (o_custkey = 0)
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3-P8, P10: IN, IS NOT NULL, StartsWith, bool negation, CASE WHEN."""
    od = _t(spark, sf_dir, "orders")
    qy = (
        from_df(od)
        .where(F.col("o_orderstatus").isin("O", "F"))
        .where(F.col("o_totalprice").isNotNull())
        .where(KF.StartsWith("o_orderpriority", "1-URGENT"))
        .where(~(F.col("o_custkey") == 0))
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            KF.Case(
                (F.col("o_totalprice") > 200000, F.lit("big")),
                (F.col("o_totalprice") > 100000, F.lit("mid")),
                default=F.lit("small"),
            ).alias("bucket"),
        )
    )
    return qy.to_df()


@q(
    "scalar_string_functions",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS uname,
           lower(p_brand) AS lbrand,
           substring(p_type, 1, 5) AS type5,
           length(p_name) AS name_len,
           trim(p_name) AS tname,
           replace(p_name, ' ', '_') AS uscore,
           contains(p_name, 'a') AS has_a,
           starts_with(p_type, 'STANDARD') AS is_std,
           concat(p_brand, ':', p_type) AS brand_type,
           strpos(p_name, 'e') AS e_pos,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
           left(p_name, 3) AS l3,
           right(p_name, 3) AS r3
    FROM part
    """,
)
def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 string registry over the engine's KSQL-named function surface."""
    pt = _t(spark, sf_dir, "part")
    return pt.select(
        "p_partkey",
        KF.UCase("p_name").alias("uname"),
        KF.LCase("p_brand").alias("lbrand"),
        KF.Substring("p_type", 1, 5).alias("type5"),
        KF.Len("p_name").alias("name_len"),
        KF.Trim("p_name").alias("tname"),
        KF.Replace("p_name", " ", "_").alias("uscore"),
        KF.Contains("p_name", "a").alias("has_a"),
        KF.StartsWith("p_type", "STANDARD").alias("is_std"),
        KF.Concat("p_brand", F.lit(":"), "p_type").alias("brand_type"),
        KF.IndexOf("p_name", "e").alias("e_pos"),
        KF.PadLeft(F.col("p_size").cast("string"), 4, "0").alias("size4"),
        KF.Left("p_name", 3).alias("l3"),
        KF.Right("p_name", 3).alias("r3"),
    )


@q(
    "scalar_math_date_functions",
    oracle="""
    SELECT o_orderkey,
           abs(o_totalprice - 150000) AS dist,
           round(o_totalprice, 1) AS rounded,
           CAST(floor(o_totalprice) AS BIGINT) AS flr,
           CAST(ceil(o_totalprice) AS BIGINT) AS cl,
           round(sqrt(o_totalprice), 6) AS sq,
           CAST(sign(o_totalprice - 150000) AS DOUBLE) AS sgn,
           year(o_orderdate) AS y, month(o_orderdate) AS m,
           day(o_orderdate) AS d, hour(o_orderdate) AS h,
           dayofweek(o_orderdate) AS dow, dayofyear(o_orderdate) AS doy,
           epoch_ms(o_orderdate + INTERVAL 3 DAY) AS plus3d_ms,
           epoch_ms(o_orderdate + INTERVAL 90 MINUTE) AS plus90m_ms,
           strftime(o_orderdate, '%Y-%m-%d') AS fmt
    FROM orders
    """,
)
def scalar_math_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 math + date scalar families (Round/Floor/Ceil/Abs/Sign, date parts, intervals as epoch-ms BIGINT)."""
    od = _t(spark, sf_dir, "orders")
    return od.select(
        "o_orderkey",
        KF.Abs(F.col("o_totalprice") - 150000).alias("dist"),
        KF.Round("o_totalprice", 1).alias("rounded"),
        KF.Floor("o_totalprice").alias("flr"),
        KF.Ceiling("o_totalprice").alias("cl"),
        F.round(KF.Sqrt("o_totalprice"), 6).alias("sq"),
        KF.Sign(F.col("o_totalprice") - 150000).cast("double").alias("sgn"),
        KF.Year("o_orderdate").alias("y"),
        KF.Month("o_orderdate").alias("m"),
        KF.Day("o_orderdate").alias("d"),
        KF.Hour("o_orderdate").alias("h"),
        # DuckDB dayofweek: 0=Sunday..6; Spark dayofweek: 1=Sunday..7
        (KF.DayOfWeek("o_orderdate") - 1).alias("dow"),
        KF.DayOfYear("o_orderdate").alias("doy"),
        # epoch-ms BIGINT, not raw TIMESTAMP: the driver hashes pandas
        # frames and Spark emits datetime64[ns] where DuckDB emits
        # datetime64[us] — same instant, different hash (r1-r3 red).
        # KsqlTypeMapping.cs:63-64 is epoch-ms on the wire anyway.
        F.unix_millis(KF.AddDays("o_orderdate", 3)).alias("plus3d_ms"),
        F.unix_millis(KF.AddMinutes("o_orderdate", 90)).alias("plus90m_ms"),
        KF.FormatTimestamp("o_orderdate", "yyyy-MM-dd").alias("fmt"),
    )


@q(
    "conditional_null_functions",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg,
           ifnull(nullif(c_acctbal, 0.0), -1.0) AS bal,
           (c_acctbal IS NULL) AS bal_null,
           CAST(c_custkey % 2 AS BOOLEAN) AS odd_key,
           instr(c_mktsegment, 'U') AS u_at
    FROM customer
    """,
)
def conditional_null_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 null semantics + Coalesce/IfNull/NullIf (§2.7 conditional) +
    ToBool/Instr registry rows (cast + string families)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        KF.Coalesce(KF.NullIf(F.col("c_mktsegment"), "MACHINERY"), F.lit("OTHER")).alias("seg"),
        KF.IfNull(KF.NullIf(F.col("c_acctbal"), 0.0), -1.0).alias("bal"),
        F.col("c_acctbal").isNull().alias("bal_null"),
        KF.ToBool(F.col("c_custkey") % 2).alias("odd_key"),
        KF.Instr(F.col("c_mktsegment"), "U").alias("u_at"),
    )


# ======================================================================
# §2.3 Joins
# ======================================================================


@q(
    "join_inner_agg",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 inner equi-join; customer side broadcast (small dim at any SF
    relative to orders — the 100 TB plan keeps the fact-side shuffle-free)."""
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    qy = (
        from_df(od)
        .join(cu, on=F.col("o_custkey") == F.col("c_custkey"), how="inner", broadcast=True)
        .group_by("c_mktsegment")
        .select(
            F.sum(_dec2dbl(F.col("o_totalprice"))).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("orders"),
        )
    )
    return qy.to_df()


@q(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 LEFT OUTER — the only other join form the reference supports."""
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    qy = (
        from_df(cu)
        .join(od, on=F.col("c_custkey") == F.col("o_custkey"), how="left")
        .group_by("c_custkey", "c_name")
        .select(F.count("o_orderkey").alias("n_orders"))
    )
    return qy.to_df()


@q(
    "join_multiway",
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
           count(*) AS customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-way join superset (strict mode caps at 2 per JoinLimitationEnforcer;
    Spark has no such limit — broadcast both dims, zero fact shuffles)."""
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    qy = (
        from_df(cu, strict=False)
        .join(na, on=F.col("c_nationkey") == F.col("n_nationkey"), broadcast=True)
        .join(re, on=F.col("n_regionkey") == F.col("r_regionkey"), broadcast=True)
        .group_by("r_name", "n_name")
        .select(
            F.sum(_dec2dbl(F.col("c_acctbal"))).cast("double").alias("total_bal"),
            F.count(F.lit(1)).alias("customers"),
        )
    )
    return qy.to_df()


@q(
    "join_windowed_within",
    oracle="""
    SELECT a.event_id AS purchase_id, b.event_id AS click_id,
           a.user_id, a.ts AS purchase_ts, b.ts AS click_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'purchase' AND b.event_type = 'click'
     AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts
    """,
)
def join_windowed_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 stream-stream WITHIN join, batch semantics: time-interval join.
    (streaming twin with watermarks lives in streaming/windows.py)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").alias("a")
    b = ev.filter(F.col("event_type") == "click").alias("b")
    return a.join(
        b,
        on=(
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"))
            & (F.col("b.ts") <= F.col("a.ts"))
        ),
        how="inner",
    ).select(
        F.col("a.event_id").alias("purchase_id"),
        F.col("b.event_id").alias("click_id"),
        F.col("a.user_id").alias("user_id"),
        F.col("a.ts").alias("purchase_ts"),
        F.col("b.ts").alias("click_ts"),
    )


# ======================================================================
# §2.6 Sort / limit / top-k
# ======================================================================


@q(
    "orderby_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 OrderBy + O2 Take→LIMIT (deterministic tiebreaker on key)."""
    od = _t(spark, sf_dir, "orders")
    qy = (
        from_df(od)
        .select("o_orderkey", "o_totalprice")
        .order_by(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .take(10)
    )
    return qy.to_df()


@q(
    "topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 2
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 Limit-retention analog (keep newest/top N per key via row_number;
    reference: client-side EventSetExtensions.Limit, EventSetExtensions.cs:35-60)."""
    from pyspark.sql import Window

    od = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        od.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 2)
    )


@q("count_star", oracle="SELECT count(*) AS n FROM lineitem")
def count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 COUNT query (DMLQueryGenerator.cs:91-106)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n"))


# ======================================================================
# §2.5 Windowing (batch expressions; streaming twins in streaming/)
# ======================================================================


@q(
    "hopping_window_counts",
    oracle="""
    WITH hops AS (
      SELECT e.*, time_bucket(INTERVAL '5 minutes', ts) AS base,
             unnest([0, 1, 2]) AS k
      FROM events e)
    SELECT event_type,
           base - (k * INTERVAL '5 minutes') AS window_start,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM hops
    WHERE base - (k * INTERVAL '5 minutes') >= TIMESTAMP '2024-01-01 00:00:00'
    GROUP BY 1, 2
    """,
)
def hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 Hopping: SIZE 15m ADVANCE BY 5m via F.window(ts, 15m, 5m).

    Oracle replays Spark's semantics (each row lands in size/advance
    windows); Spark's window() only emits windows with start >= epoch-aligned
    boundaries — both sides clamp to the data's month so the sets match.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.window("ts", "15 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec2dbl(F.col("value"), 18, 6)).cast("double").alias("total"),
        )
        .filter(F.col("window.start") >= F.lit("2024-01-01").cast("timestamp"))
        .select(
            "event_type",
            F.col("window.start").alias("window_start"),
            "n",
            "total",
        )
    )


@q(
    "calendar_month_window",
    oracle="""
    SELECT event_type, CAST(date_trunc('month', ts) AS TIMESTAMP) AS month_start,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    """,
)
def calendar_month_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 1mo calendar bucket — date_trunc, not fixed-duration window()."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", bucket_start("ts", "1mo").alias("month_start")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec2dbl(F.col("value"), 18, 6)).cast("double").alias("total"),
    )


@q(
    "calendar_week_window",
    oracle="""
    SELECT event_type, time_bucket(INTERVAL '1 week', ts) AS week_start,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def calendar_week_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 weekly bars, Monday anchor (time_bucket '1 week' is Monday-anchored,
    matching date_trunc('week') ISO semantics)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", bucket_start("ts", "1wk").alias("week_start")
    ).agg(F.count(F.lit(1)).alias("n"))


# ======================================================================
# Training-data pipeline operators (build-brief extensions):
# text analysis, dedup family, similarity search
# ======================================================================

# DuckDB twins of text.normalize_text / text.tokens (regexp_replace needs
# the 'g' flag in DuckDB; Spark replaces all matches by default)
_DK_NORM = (
    "regexp_replace(regexp_replace(lower(trim(text)), '[.,!?;:]', '', 'g'),"
    " '\\s+', ' ', 'g')"
)
_DK_TOKS = (
    "list_filter(string_split_regex(trim({src}), '\\s+'), x -> x != '')"
)
_DK_SHINGLES = f"""
  toks AS (
    SELECT doc_id, {_DK_TOKS.format(src=_DK_NORM)} AS t FROM documents),
  sh AS (
    SELECT doc_id,
           CASE WHEN len(t) - 2 > 0
                THEN list_distinct(list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' ')))
                ELSE [array_to_string(t, ' ')] END AS sh
    FROM toks)
"""


@q(
    "text_quality_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, n_chars, text,
             {_DK_TOKS.format(src='text')} AS t,
             {_DK_TOKS.format(src='lower(text)')} AS tl
      FROM documents)
    SELECT doc_id,
           len(t) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
           (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) AS n_punct,
           CASE WHEN length(text) > 0
                THEN (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / length(text)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(t) > 0
                THEN len(list_filter(tl, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) / len(t)
                ELSE 0.0 END AS stopword_ratio,
           CASE WHEN len(t) > 0
                THEN list_reduce(list_prepend(0::BIGINT, list_transform(t, w -> length(w))), (a, b) -> a + b) / len(t)
                ELSE 0.0 END AS mean_word_len
    FROM toks
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) + quality features."""
    from .operators import text as TX

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.bpe_token_count("text").alias("n_bpe_tokens"),
        TX.punct_count("text").alias("n_punct"),
        TX.punct_ratio("text").alias("punct_ratio"),
        TX.stopword_ratio("text").alias("stopword_ratio"),
        TX.mean_word_length("text").alias("mean_word_len"),
    )


def _lang_hits_sql(lang_words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in lang_words)
    return f"len(list_filter(tl, x -> x IN ({inlist})))"


@q("text_language_id", oracle=None)  # oracle attached below (built from STOPWORDS)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-hit argmax) vs the labeled lang col,
    via the scalable explode + broadcast-stopword-join + pivot dataflow."""
    from .operators.text import language_id_table

    d = _t(spark, sf_dir, "documents")
    return language_id_table(d, extra_cols=["lang"]).select(
        "doc_id", F.col("lang").alias("labeled_lang"), "detected_lang"
    )


def _build_lang_oracle() -> str:
    from .operators.text import STOPWORDS

    hits = ",\n             ".join(
        f"{_lang_hits_sql(ws)} AS h_{lang}" for lang, ws in STOPWORDS.items()
    )
    langs = list(STOPWORDS)
    # fold order: a later language replaces only on strictly-greater hits,
    # so the FIRST language attaining the running max wins
    case = "CASE WHEN " + " + ".join(f"h_{l}" for l in langs) + " = 0 THEN 'und' "
    case += "".join(
        f"WHEN h_{l} >= {' AND h_' + l + ' >= '.join(['1'] + [f'h_{o}' for o in langs if o != l])} THEN '{l}' "
        for l in langs
    )
    case = (
        "CASE "
        + " ".join(
            f"WHEN h_{l} > 0 AND h_{l} >= greatest({', '.join('h_' + o for o in langs)}) "
            f"AND {' AND '.join(f'h_{p} < h_{l}' for p in langs[:langs.index(l)]) or 'TRUE'} THEN '{l}'"
            for l in langs
        )
        + " ELSE 'und' END"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, {_DK_TOKS.format(src='lower(text)')} AS tl FROM documents),
    hits AS (
      SELECT doc_id, lang,
             {hits}
      FROM toks)
    SELECT doc_id, lang AS labeled_lang, {case} AS detected_lang FROM hits
    """


ORACLES["text_language_id"] = _build_lang_oracle()


@q(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_DK_NORM}) AS fp FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (operators/text.fingerprint): normalized-text rolling hash for exact-dup detection."""
    from .operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint("text").alias("fp"))


@q(
    "dedup_exact",
    oracle=f"""
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    JOIN (SELECT min(doc_id) AS doc_id
          FROM documents GROUP BY md5({_DK_NORM})) k
      ON d.doc_id = k.doc_id
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (operators/dedup.exact_dedup): hash-groupBy on the normalized-text fingerprint, min-id survivor."""
    from .operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d).select("doc_id", "lang", "source", "n_chars")


_DK_MINHASH_HALVES = """
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    h AS (SELECT doc_id,
                 ('0x' || substr(md5(s), 1, 8))::BIGINT AS h1,
                 ('0x' || substr(md5(s), 9, 8))::BIGINT AS h2
          FROM ex)"""

_DK_MINHASH_MINS = ", ".join(
    f"min((h1 + {i} * h2) % 4294967296) AS m{i}" for i in range(8)
)


@q(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_DK_SHINGLES},
    {_DK_MINHASH_HALVES},
    mh AS (SELECT doc_id, {_DK_MINHASH_MINS} FROM h GROUP BY doc_id)
    SELECT doc_id,
           array_to_string(list_transform([{", ".join(f"m{i}" for i in range(8))}],
               x -> x::VARCHAR), '|') AS sig
    FROM mh
    """,
)
def dedup_minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature array joined to a '|' string so the oracle harness can
    hash the column (list cells are unhashable in its canonicalizer)."""
    from .operators.dedup import minhash_signatures

    d = _t(spark, sf_dir, "documents")
    s = minhash_signatures(d, num_hashes=8, shingle_n=3)
    return s.select(
        "doc_id", F.concat_ws("|", F.col("sig").cast("array<string>")).alias("sig")
    )


@q(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_DK_SHINGLES},
    {_DK_MINHASH_HALVES},
    mh AS (SELECT doc_id, {_DK_MINHASH_MINS} FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, [{", ".join(f"m{i}" for i in range(8))}] AS sig FROM mh),
    banded AS (
      SELECT doc_id, b AS band_idx,
             md5(array_to_string(list_transform(sig[b*2+1 : b*2+2],
                 x -> x::VARCHAR), '|')) AS band_hash
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b))
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (operators/dedup.minhash_lsh_pairs): shingle->minhash->band->bucket-join, bucket-capped."""
    d = _t(spark, sf_dir, "documents")  # scan registered for the plan audit
    return _lsh_pairs(spark, sf_dir)


@q(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DK_TOKS.format(src=_DK_NORM)} AS t FROM documents),
    th AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    hh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM th),
    votes AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hh CROSS JOIN (SELECT unnest(range(0, 32)) AS i)
      GROUP BY doc_id, i)
    SELECT doc_id,
           sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (operators/dedup.simhash_pairs): 64-bit token-hash sign aggregate, hamming-bucketed."""
    from .operators.dedup import simhash

    d = _t(spark, sf_dir, "documents")
    return simhash(d, bits=32)


@q(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_DK_SHINGLES},
    sizes AS (SELECT doc_id, len(sh) AS sz FROM sh),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           inter / (sa.sz + sb.sz - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.02
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (operators/dedup.ngram_jaccard_pairs): shingle-bucketed exact pairs."""
    from .operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, shingle_n=3, threshold=0.02)


@q(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> a.e[i] * b.e[i])), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> a.e[i] * a.e[i])), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> b.e[i] * b.e[i])), (x, y) -> x + y))) AS cos
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4
    """,
)
def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (operators/dedup.embedding_cosine_pairs_blocked): exact pairwise cosine through the shared numpy fold."""
    from .operators.dedup import embedding_cosine_pairs_blocked

    e = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs_blocked(e, threshold=0.4)


@q(
    "similarity_bruteforce_topk",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT v.vec_id,
           list_reduce(list_prepend(0.0, list_transform(range(1, 65),
               i -> v.e[i] * q.e[i])), (x, y) -> x + y)
           / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> v.e[i] * v.e[i])), (x, y) -> x + y))
              * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                  i -> q.e[i] * q.e[i])), (x, y) -> x + y))) AS cos
    FROM v, q
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """,
)
def similarity_bruteforce_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (operators/similarity.brute_force_topk) - the ANN recall baseline."""
    from .operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = _probe_vec(sf_dir)
    return brute_force_topk(e, qvec, k=10)


@q(
    "similarity_lsh_ann",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT v.vec_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> v.e[i] * q.e[i])), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> v.e[i] * v.e[i])), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> q.e[i] * q.e[i])), (x, y) -> x + y))) AS cos
      FROM v, q ORDER BY cos DESC, vec_id LIMIT 10)
    SELECT array_to_string(list_transform(list_sort(list(vec_id)),
               x -> x::VARCHAR), '|') AS exact_ids,
           TRUE AS recall_ok
    FROM scored
    """,
)
def similarity_lsh_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN checked as an INVARIANT the oracle reproduces: the
    exact top-10 id set (cross-engine verified) plus a recall@10 >= 0.6
    gate on the LSH candidates — replaces the old rows-only check with a
    deterministic value comparison (recall is fixed given the md5-derived
    hyperplanes, so the boolean is stable)."""
    from .operators.similarity import brute_force_topk, lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = _probe_vec(sf_dir)
    exact = brute_force_topk(e, qvec, k=10).select("vec_id")
    # 4 planes: near-uniform synthetic embeddings separate weakly in
    # cosine, so coarse buckets + hamming-1 probes are what holds the
    # recall bar (measured: 1.0 @ sf0.01, 0.6 @ sf0.1; 8 planes → 0.1)
    approx = lsh_topk(e, qvec, k=10, num_planes=4).select(
        F.col("vec_id").alias("lsh_id")
    )
    hits = exact.join(approx, exact.vec_id == approx.lsh_id, "inner").agg(
        F.count(F.lit(1)).alias("hits")
    )
    ids = exact.agg(
        F.concat_ws(
            "|", F.sort_array(F.collect_list("vec_id")).cast("array<string>")
        ).alias("exact_ids"),
        F.count(F.lit(1)).alias("k"),
    )
    return ids.crossJoin(hits).select(
        "exact_ids",
        (F.col("hits") / F.col("k") >= 0.6).alias("recall_ok"),
    )


# ======================================================================
# W2 multi-timeframe cascade + W8 gap-fill (batch twins of the streaming
# operators; the oracle for the cascade is the CASCADE INVARIANT — bars
# composed from the 1 s hub must equal bars computed from raw ticks)
# ======================================================================


@q(
    "cascade_5m_via_hub",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
           round(min({'t': ts, 'v': value}).v, 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max({'t': ts, 'v': value}).v, 6) AS close,
           count(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
)
def cascade_5m_via_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5m bars built by composing 1 s hub partials — must equal direct
    aggregation of the raw stream (HubSelectPolicy partial-agg rewrite)."""
    from .operators.cascade import CascadePlan, build_hub, rollup_tier

    ev = _t(spark, sf_dir, "events")
    plan = CascadePlan(
        base_name="bars", keys=["event_type"], ts_col="ts",
        price_col="value", timeframes=["5m"],
    )
    hub = build_hub(plan, ev)
    t5 = rollup_tier(plan, hub, "5m")
    return t5.select(
        "event_type",
        "bucket_start",
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        F.col("cnt"),
    )


@q(
    "cascade_1h_avg_decomposition",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / count(*) AS avg_price,
           count(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """,
)
def cascade_1h_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG -> SUM/CNT decomposition across two aggregation hops
    (HubSelectPolicy.cs:38-90): avg computed from composed partials must
    equal the direct average.  Runs through the cascade's own hub and 1h
    rollup; a DECIMAL price keeps both hops' sums exact, so the double
    average is order-insensitive."""
    from .operators.cascade import CascadePlan, build_hub, rollup_tier

    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    plan = CascadePlan(
        base_name="bars", keys=["event_type"], ts_col="ts",
        price_col="value", timeframes=["1h"],
    )
    return rollup_tier(plan, build_hub(plan, ev), "1h").select(
        "event_type",
        "bucket_start",
        (F.col("sum_v").cast("double") / F.col("cnt")).alias("avg_price"),
        "cnt",
    )


@q(
    "gapfill_15m_close",
    oracle="""
    WITH bars AS (
      SELECT event_type,
             time_bucket(INTERVAL '15 minutes', ts) AS bucket_start,
             round(max({'t': ts, 'v': value}).v, 6) AS close
      FROM events WHERE event_type IN ('purchase', 'error')
        AND ts < TIMESTAMP '2024-01-03 00:00:00'
      GROUP BY 1, 2),
    spine AS (
      SELECT event_type,
             unnest(generate_series(min(bucket_start), max(bucket_start),
                                    INTERVAL 15 MINUTE)) AS bucket_start
      FROM bars GROUP BY event_type)
    SELECT s.event_type, s.bucket_start,
           last_value(b.close IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.bucket_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
           (b.close IS NULL) AS is_synthetic
    FROM spine s LEFT JOIN bars b
      ON s.event_type = b.event_type AND s.bucket_start = b.bucket_start
    """,
)
def gapfill_15m_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 continuation, batch analog: per-key time spine + carry-forward
    (reference RowMonitor.cs:749-787 synthetic rows)."""
    from .operators.gapfill import gap_fill_bars
    from .operators.ohlc import ohlc_bars

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .filter(F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    )
    bars = ohlc_bars(ev, ["event_type"], "ts", "value", "15m").withColumn(
        "close", F.round("close", 6)
    )
    filled = gap_fill_bars(
        bars.select("event_type", "bucket_start", "close"),
        keys=["event_type"],
        bucket_col="bucket_start",
        timeframe="15m",
        ohlc=("close", "close", "close", "close"),
    )
    return filled.select("event_type", "bucket_start", "close", "is_synthetic")


# ======================================================================
# W9/W10 market-schedule gating + remaining §2.7 function families +
# §2.6 set-op / rollup supersets
# ======================================================================


@q(
    "calendar_session_gate",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS session_day,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events
    WHERE isodow(ts) BETWEEN 1 AND 5
      AND ts >= CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 9 HOUR
      AND ts <  CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 17 HOUR
    GROUP BY 1, 2
    """,
)
def calendar_session_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 TimeFrame gating: broadcast interval join against a weekday
    9-17h schedule dim == the equivalent direct session predicate."""
    from .operators.calendar import in_session_join, make_daily_schedule

    ev = _t(spark, sf_dir, "events").withColumn("market", F.lit("X"))
    open_hour, close_hour = 9, 17
    sched = make_daily_schedule(
        spark, ["X"], "2024-01-01", "2024-01-31",
        open_hour=open_hour, close_hour=close_hour,
    )
    # the schedule is synthesized from parameters, so its longest
    # session is caller-known: passing bucket_width skips the probe job
    # in_session_join otherwise runs at build (§7.3)
    gated = in_session_join(
        ev, sched, row_key="market", ts_col="ts",
        bucket_width=(close_hour - open_hour) * 3600.0,
    )
    return gated.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("session_day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
    )


@q(
    "json_functions",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           json_array_length('[1,2,3]') AS arr_len,
           list_contains(json_extract_string('[1,2,3]', '$[*]'), '2') AS has_2,
           array_to_string(list_sort(json_keys(props)), '|') AS prop_keys,
           json_extract_string(
               json_merge_patch(props, '{"extra":"1"}'), '$.extra') AS merged_extra
    FROM events
    """,
)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 JSON registry over the events.props JSON column — incl.
    JSON_KEYS (sorted+joined so the list-free harness can hash it) and
    JSON_CONCAT semantics (shallow merge, right wins) value-checked
    through a post-merge extract.

    SINGLE-PARSE: props is parsed ONCE per row via the registry's
    JSON_RECORDS (from_json → map) and every output derives from that
    map — round 2 parsed the same column 4+ times per row (two
    get_json_object + json_object_keys + two from_json inside
    JsonConcat).  Catalyst's subexpression elimination shares the one
    from_json across the projection.  The string-input registry forms
    (JsonExtractString/JsonKeys/JsonConcat) keep their own unit tests;
    this query pins the plan shape a user should write for wide JSON
    scans at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    m = KF.JsonRecords("props")
    right = F.from_json(F.lit('{"extra":"1"}'), "map<string,string>")
    merged = F.map_concat(
        F.map_filter(m, lambda k, _v: ~F.map_contains_key(right, k)), right
    )
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_str"),
        F.element_at(m, "k").cast("int").alias("k_int"),
        KF.JsonArrayLength(F.lit("[1,2,3]")).alias("arr_len"),
        KF.JsonArrayContains(F.lit("[1,2,3]"), 2).alias("has_2"),
        F.concat_ws("|", F.array_sort(F.map_keys(m))).alias("prop_keys"),
        F.element_at(merged, "extra").alias("merged_extra"),
    )


@q(
    "array_functions",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')[1:6] AS w
      FROM documents)
    SELECT doc_id,
           len(w) AS n,
           list_contains(w, 'data') AS has_data,
           coalesce(array_to_string(w[2:3], '-'), '') AS mid,
           coalesce(array_to_string(w, '-'), '') AS joined,
           coalesce(array_to_string(list_sort(list_distinct(w)), '-'), '') AS dwords,
           coalesce(array_to_string(list_sort(list_intersect(w, ['data', 'query', 'table'])), '-'), '') AS known,
           coalesce(array_to_string(list_sort(list_distinct(list_concat(w, ['zzz']))), '-'), '') AS plus,
           list_aggregate(w, 'max') AS wmax,
           list_aggregate(w, 'min') AS wmin
    FROM t
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 array registry (ArrayLength/Contains/Slice/Join/Distinct/
    Intersect/Union/Sort/Max/Min) over tokenized text.  List-typed
    outputs are joined to strings so the oracle harness (which cannot
    hash list cells) can value-check every column."""
    from .operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    w = F.slice(tokens("text"), 1, 6)
    return d.select(
        "doc_id",
        KF.ArrayLength(w).alias("n"),
        KF.ArrayContains(w, "data").alias("has_data"),
        KF.ArrayJoin(KF.ArraySlice(w, 2, 2), "-").alias("mid"),
        KF.ArrayJoin(w, "-").alias("joined"),
        KF.ArrayJoin(KF.ArraySort(KF.ArrayDistinct(w)), "-").alias("dwords"),
        KF.ArrayJoin(
            KF.ArraySort(
                KF.ArrayIntersect(KF.ArrayDistinct(w), F.array(F.lit("data"), F.lit("query"), F.lit("table")))
            ),
            "-",
        ).alias("known"),
        KF.ArrayJoin(KF.ArraySort(KF.ArrayUnion(w, F.array(F.lit("zzz")))), "-").alias("plus"),
        KF.ArrayMax(w).alias("wmax"),
        KF.ArrayMin(w).alias("wmin"),
    )


@q(
    "url_crypto_functions",
    oracle="""
    WITH u AS (
      SELECT p_partkey,
             'https://shop.example.com/parts/' || regexp_replace(p_brand, '[ #]', '', 'g') ||
             '?size=' || p_size AS url,
             p_name
      FROM part)
    SELECT p_partkey,
           regexp_extract(url, '^([a-z]+)://', 1) AS proto,
           regexp_extract(url, '://([^/]+)', 1) AS host,
           regexp_extract(url, '://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1) AS query,
           md5(p_name) AS h_md5,
           sha256(p_name) AS h_sha256
    FROM u
    """,
)
def url_crypto_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 URL + crypto registries (UrlExtract* via parse_url; Md5/Sha256).
    DuckDB has no parse_url — the oracle uses equivalent regexes."""
    pt = _t(spark, sf_dir, "part")
    u = pt.select(
        "p_partkey",
        "p_name",
        F.concat(
            F.lit("https://shop.example.com/parts/"),
            F.regexp_replace(F.col("p_brand"), "[ #]", ""),
            F.lit("?size="),
            F.col("p_size").cast("string"),
        ).alias("url"),
    )
    return u.select(
        "p_partkey",
        F.lower(KF.UrlExtractProtocol("url")).alias("proto"),
        KF.UrlExtractHost("url").alias("host"),
        KF.UrlExtractPath("url").alias("path"),
        KF.UrlExtractQuery("url").alias("query"),
        KF.Md5("p_name").alias("h_md5"),
        KF.Sha256("p_name").alias("h_sha256"),
    )


@q(
    "geo_distance",
    oracle="""
    WITH pts AS (
      SELECT event_id,
             (user_id % 180) - 90 + 0.5 AS lat,
             ((event_id % 360) - 180) + 0.5 AS lon
      FROM events)
    SELECT id AS event_id,
           floor(dist * 1000000.0::DOUBLE) / 1000000.0::DOUBLE AS dist_km
    FROM ({geo})
    """.format(
        geo=KF.geo_distance_sql("lat", "lon", "51.5", "-0.1", from_clause="pts")
    ),
)
def geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 GeoDistance (haversine, UDF-free column math) to London.

    Cross-engine determinism: GeoDistance evaluates its trig as fixed
    Horner polynomials (functions/__init__.py) because JVM and libm
    sin/cos/asin differ by 1-2 ulp on ~24% of these inputs — with
    library trig, round-to-6dp flipped on boundary rows at sf0.1.  The
    oracle is the generated SQL twin of the same polynomials
    (geo_distance_sql), and the 6-dp quantization is floor-based (floor
    of an identical double is identical everywhere; Spark round()
    HALF_UPs via BigDecimal, DuckDB differently).

    Scale: uses geo_distance_staged — each Horner polynomial is staged
    through a named projection so the plan is linear in degree and
    whole-stage codegen evaluates it once per row (the single-Column
    GeoDistance form re-inlines subtrees multiplicatively; r4 bench
    regression, SCALING.md expression-size traps)."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        ((F.col("user_id") % 180) - 90 + 0.5).alias("lat"),
        ((F.col("event_id") % 360) - 180 + 0.5).alias("lon"),
    )
    d = KF.geo_distance_staged(pts, "lat", "lon", 51.5, -0.1, dist_col="dist")
    return d.select(
        "event_id",
        (F.floor(F.col("dist") * 1000000.0) / 1000000.0).alias("dist_km"),
    )


@q(
    "setops_union_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT o_custkey FROM orders WHERE o_totalprice > 250000
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def setops_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set-op superset (reference has none; Spark union/except)."""
    od = _t(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = od.filter(F.col("o_totalprice") > 250000).select("o_custkey")
    c = od.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return a.union(b).distinct().exceptAll(c.distinct())


@q(
    "join_click_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS w_start,
             ts + INTERVAL 1 HOUR AS w_end
      FROM events WHERE event_type = 'purchase'),
    clicks AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
    SELECT p.purchase_id, count(*) AS n_clicks
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id
     AND c.click_ts >= p.w_start AND c.click_ts < p.w_end
    GROUP BY 1
    """,
)
def join_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via chunk bucketing (operators/interval.py): clicks
    attributed to same-user purchases within a 1-hour window.  The
    range predicate becomes an equi join on (user, time-chunk) with the
    exact bounds as a residual — a hash shuffle instead of the
    BroadcastNestedLoop a raw theta join plans, so candidates per click
    are bounded by windows alive in its chunk at any scale."""
    from .operators.interval import point_in_interval_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    j = point_in_interval_join(
        clicks, purchases, "click_ts", "w_start", "w_end",
        on=["user_id"], chunk_seconds=3600,
    )
    return j.groupBy("purchase_id").agg(F.count(F.lit(1)).alias("n_clicks"))


@q(
    "join_null_key_semantics",
    oracle="""
    WITH l AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders),
    j AS (SELECT l.o_orderkey, l.k, c.c_mktsegment
          FROM l LEFT JOIN customer c ON l.k = c.c_custkey)
    SELECT count(*) AS n_total,
           count(CASE WHEN k IS NULL THEN 1 END) AS n_null_keys,
           count(CASE WHEN c_mktsegment IS NULL AND k IS NULL THEN 1 END)
               AS n_null_unmatched,
           count(CASE WHEN c_mktsegment IS NOT NULL THEN 1 END) AS n_matched,
           count(CASE WHEN k IS NOT DISTINCT FROM NULL THEN 1 END)
               AS n_null_safe
    FROM j
    """,
)
def join_null_key_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/J-family null semantics pin: NULL join keys match NOTHING in
    ANSI equi-joins (every null-keyed row survives a left join
    unmatched), while the null-safe operator (<=> / IS NOT DISTINCT
    FROM) treats NULL as a comparable value — the classic silent
    row-loss trap when an upstream produces null keys, asserted
    count-for-count against the oracle."""
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    l = od.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("k"),
    )
    j = l.join(cu, l.k == cu.c_custkey, "left").select("o_orderkey", "k", "c_mktsegment")
    return j.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("n_null_keys"),
        F.count(
            F.when(F.col("c_mktsegment").isNull() & F.col("k").isNull(), 1)
        ).alias("n_null_unmatched"),
        F.count(F.when(F.col("c_mktsegment").isNotNull(), 1)).alias("n_matched"),
        F.count(F.when(F.col("k").eqNullSafe(F.lit(None)), 1)).alias("n_null_safe"),
    )


@q(
    "setops_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 250000
    """,
)
def setops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set-op superset, INTERSECT leg (distinct semantics — the
    ANSI default — via Spark intersect; completes union/except/intersect
    coverage)."""
    od = _t(spark, sf_dir, "orders")
    a = od.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = od.filter(F.col("o_totalprice") > 250000).select("o_custkey")
    return a.intersect(b)


@q(
    "rollup_aggregation",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 superset: ROLLUP grouping sets (absent in reference, free in
    Spark — subtotal rows compose the same partial aggregates)."""
    od = _t(spark, sf_dir, "orders")
    return (
        od.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec2dbl(F.col("o_totalprice"))).cast("double").alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@q(
    "dataset_hash_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 800 THEN 'train'
                WHEN b < 900 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 1000 AS b
          FROM documents)
    """,
)
def dataset_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation: deterministic md5-bucket train/val/test
    split — reproducible across engines/runs, no sampling state, new
    data never reassigns old rows (operators/dataset.py)."""
    from .operators.dataset import hash_split

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", hash_split("doc_id"))


@q(
    "dataset_sequence_packing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, len({_DK_TOKS.format(src='text')}) AS tok
        FROM documents
    )
    SELECT doc_id, lang, tok,
           CAST(floor((sum(tok) OVER (PARTITION BY lang ORDER BY doc_id)
                       - tok) / 2048.0) AS BIGINT) AS bin
    FROM t
    """,
)
def dataset_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation: greedy contiguous sequence packing into
    2048-token bins per language (prefix-sum window, one shuffle)."""
    from .operators.dataset import pack_sequences
    from .operators.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("tok")
    )
    return pack_sequences(d, "tok", "doc_id", 2048, ["lang"])


@q(
    "grouping_sets_aggregation",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 superset: explicit GROUPING SETS (arbitrary set list — cube and
    rollup's general form; one pass, shared partial aggregates)."""
    od = _t(spark, sf_dir, "orders")
    od.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@q(
    "window_ranking",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           rank() OVER (PARTITION BY o_orderpriority
                        ORDER BY CAST(floor(o_totalprice / 10000) AS INT) DESC)
             AS price_band_rank,
           dense_rank() OVER (PARTITION BY o_orderpriority
                        ORDER BY CAST(floor(o_totalprice / 10000) AS INT) DESC)
             AS price_band_dense,
           row_number() OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey)
             AS rn,
           ntile(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey)
             AS quartile,
           lead(o_orderkey) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey)
             AS next_orderkey
    FROM orders
    """,
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 superset: ranking window family (rank/dense_rank over a
    banded key exercising tie semantics; row_number/ntile/lead over a
    total order so results are engine-independent)."""
    from pyspark.sql import Window

    od = _t(spark, sf_dir, "orders")
    band = F.floor(F.col("o_totalprice") / 10000).cast("int")
    w_band = Window.partitionBy("o_orderpriority").orderBy(band.desc())
    w_total = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return od.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w_band).alias("price_band_rank"),
        F.dense_rank().over(w_band).alias("price_band_dense"),
        F.row_number().over(w_total).alias("rn"),
        F.ntile(4).over(w_total).alias("quartile"),
        F.lead("o_orderkey").over(w_total).alias("next_orderkey"),
    )


@q(
    "approx_count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def approx_count_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 at 100 TB: approx_count_distinct (HyperLogLog++) — the scale
    path for COUNT_DISTINCT.  The sketch estimate is engine-specific, so
    the checkable contract is the ERROR BOUND: emit the exact count (the
    oracle reproduces it) and a |approx-exact|/exact <= 5% boolean the
    sketch's rsd=0.02 guarantees with margin."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id")).alias("exact_users"),
        (
            F.abs(
                KF.ApproxCountDistinct("user_id", 0.02)
                - F.count_distinct(F.col("user_id"))
            )
            / F.count_distinct(F.col("user_id"))
            <= 0.05
        ).alias("within_5pct"),
    )


# ======================================================================
# §2.6 O3/O4 + §2.5 session superset + text token counting + multimodal
# ======================================================================


@q(
    "orderby_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 20
    """,
)
def orderby_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: Skip → OFFSET via the Query DSL (the reference warns and drops
    Skip — DMLQueryGenerator.cs:377-381; Spark supports it natively)."""
    od = _t(spark, sf_dir, "orders")
    return (
        from_df(od)
        .select("o_orderkey", "o_totalprice")
        .order_by(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .skip(20)
        .take(10)
        .to_df()
    )


@q(
    "retention_latest_n",
    oracle="""
    SELECT event_id, event_type, ts
    FROM (
      SELECT event_id, event_type, ts,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x
    WHERE rn <= 5
    """,
)
def retention_latest_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 `Limit(count)` retention: newest 5 rows per event_type
    (EventSetExtensions.cs:35-60 analog, rank-and-filter form)."""
    from .runtime import limit_retention

    ev = _t(spark, sf_dir, "events")
    return limit_retention(
        ev, keys=["event_type"], ts_col="ts", n=5, tiebreakers=["event_id"]
    ).select("event_id", "event_type", "ts")


@q(
    "session_window_counts",
    oracle="""
    WITH d AS (
      SELECT event_type, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '90 seconds'
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
    g AS (
      -- order by (ts, event_id) like CTE d: with duplicated timestamps
      -- (10x replication) an ORDER BY ts alone can place the cohort's
      -- break row after its ties, splitting one session into two
      SELECT event_type, ts,
             sum(brk) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM d)
    SELECT event_type,
           min(ts) AS session_start,
           max(ts) + INTERVAL '90 seconds' AS session_end,
           count(*) AS cnt
    FROM g GROUP BY event_type, grp
    """,
)
def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 session-window superset (reference emits only TUMBLING/
    HOPPING): F.session_window, 90 s gap.  The oracle is the classic
    gaps-and-islands rewrite; Spark merges events up to and INCLUDING a
    gap-sized spacing, so the oracle breaks on diff > gap (strict)."""
    from .operators.windows import session_window_agg

    ev = _t(spark, sf_dir, "events")
    return session_window_agg(
        ev,
        keys=["event_type"],
        ts_col="ts",
        gap="90 seconds",
        aggs=[F.count(F.lit(1)).alias("cnt")],
    ).select("event_type", "session_start", "session_end", "cnt")


@q(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           len({_DK_TOKS.format(src='text')}) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
             AS bpe_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (training-data pipeline op): whitespace tokens +
    BPE-ish regex pieces, both pure JVM expressions."""
    from .operators.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


@q(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           64 + ('0x' || substr(md5(text), 1, 2))::INT % 192 AS width,
           64 + ('0x' || substr(md5(text), 3, 2))::INT % 192 AS height,
           CASE WHEN doc_id % 3 = 2
                THEN 1 + ('0x' || substr(md5(text), 5, 2))::INT % 32
                ELSE 1 END AS n_frames,
           CASE WHEN doc_id % 3 = 0 THEN 0
                ELSE ('0x' || substr(md5(text), 7, 4))::BIGINT
           END AS duration_ms
    FROM documents
    """,
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end through the driver's value gate:
    binary content column -> Arrow-batched mapInPandas decode
    (deterministic fake: metadata from the content md5) -> typed columns.
    The oracle reproduces the md5-derived fields byte-for-byte in SQL,
    so the WHOLE mapInPandas path (schema, batching, binary transport)
    is value-checked, not just row-counted."""
    from .operators.multimodal import decode_metadata

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
    return decode_metadata(media, fake=True).select(
        "media_id", "media_type", "width", "height", "n_frames",
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


@q(
    "multimodal_image_dhash",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0
                THEN 9223372036854775807 ELSE 0 END AS dhash
    FROM documents
    """,
)
def multimodal_image_dhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing end-to-end on REAL bytes: synthesize
    strictly-monotone horizontal gradients (even docs increasing, odd
    decreasing) as genuine PNGs, run the full decode → grayscale →
    resize → dHash chain, and check against the analytically known
    hashes (increasing rows ⇒ every gradient bit set ⇒ 2^63-1 after the
    sign fold; decreasing ⇒ 0).  Any regression in the codec, resampler,
    or bit packing flips bits and fails the value hash."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .operators.multimodal import MEDIA_SCHEMA, image_dhash

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .operators.codecs import encode_png

        w, h = 32, 16
        inc = bytes(min(255, x * 3) for _y in range(h) for x in range(w))
        dec = bytes(min(255, (w - 1 - x) * 3) for _y in range(h) for x in range(w))
        png_inc, png_dec = encode_png(inc, w, h, 1), encode_png(dec, w, h, 1)
        for b in batches:
            rows = [
                (int(d), "image", png_inc if d % 2 == 0 else png_dec, None)
                for d in b["doc_id"]
            ]
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "content", "meta"]
            )

    d = _t(spark, sf_dir, "documents")
    media = d.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)
    return image_dhash(media).select("media_id", "dhash")


@q(
    "multimodal_audio_fingerprint",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0
                THEN 9223372036854775807 ELSE 0 END AS afp
    FROM documents
    """,
)
def multimodal_audio_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprinting end-to-end on REAL PCM: synthesize genuine
    WAVs whose frame energies are strictly monotone (even docs
    crescendo, odd diminuendo), run decode → frame energies →
    delta-sign hash, and check the analytically known fingerprints
    (monotone up ⇒ all 64 bits ⇒ 2^63-1 after the sign fold; down ⇒ 0)."""
    from typing import Iterator

    import pandas as pd

    from .operators.multimodal import MEDIA_SCHEMA, audio_fingerprint

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .operators.codecs import encode_wav

        frames, per = 65, 20
        up = [100 + f * 50 for f in range(frames) for _ in range(per)]
        down = [100 + (frames - 1 - f) * 50 for f in range(frames) for _ in range(per)]
        wav_up, wav_down = encode_wav(up, 8000), encode_wav(down, 8000)
        for b in batches:
            rows = [
                (int(d), "audio", wav_up if d % 2 == 0 else wav_down, None)
                for d in b["doc_id"]
            ]
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "content", "meta"]
            )

    d = _t(spark, sf_dir, "documents")
    media = d.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)
    return audio_fingerprint(media).select("media_id", "afp")


@q(
    "multimodal_video_framehash",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS n_frames,
           0 AS min_hash,
           CASE WHEN doc_id % 2 = 0
                THEN 9223372036854775807 ELSE 0 END AS max_hash
    FROM documents
    """,
)
def multimodal_video_framehash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video path end-to-end on REAL extractable frames: synthesize
    FRPK1 frame packs of genuine PNGs (even docs [increasing,
    decreasing] gradients, odd docs [decreasing]), sample every frame,
    dHash each, and aggregate per video — all values analytically known
    (increasing ⇒ 2^63-1, decreasing ⇒ 0).  Exercises container parse,
    flatMap frame explosion, per-frame decode, and the hash chain in
    one oracle-checked query."""
    from typing import Iterator

    import pandas as pd

    from .operators.multimodal import MEDIA_SCHEMA, video_frame_hashes

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .operators.codecs import encode_frames, encode_png

        w, h = 32, 16
        inc = encode_png(bytes(min(255, x * 3) for _y in range(h) for x in range(w)), w, h, 1)
        dec = encode_png(bytes(min(255, (w - 1 - x) * 3) for _y in range(h) for x in range(w)), w, h, 1)
        vid_even, vid_odd = encode_frames([inc, dec]), encode_frames([dec])
        for b in batches:
            rows = [
                (int(d), "video", vid_even if d % 2 == 0 else vid_odd, None)
                for d in b["doc_id"]
            ]
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "content", "meta"]
            )

    d = _t(spark, sf_dir, "documents")
    media = d.select("doc_id").mapInPandas(synth, MEDIA_SCHEMA)
    return (
        video_frame_hashes(media, every_n=1)
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_frames"),
            F.min("dhash").alias("min_hash"),
            F.max("dhash").alias("max_hash"),
        )
    )


@q(
    "dataset_quality_gate",
    oracle="""
    WITH v AS (
      SELECT o_orderkey,
             (o_totalprice IS NOT NULL AND o_totalprice > 0.0
              AND o_totalprice <= 600000.0) AS price_ok,
             (o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM',
                                  '4-NOT SPECIFIED','5-LOW')) AS prio_ok,
             (o_orderstatus IS NOT NULL
              AND regexp_full_match(o_orderstatus, '[FOP]')) AS status_ok
      FROM orders),
    ex AS (
      SELECT 'price_in_range' AS rule, count(*) FILTER (NOT price_ok) AS n FROM v
      UNION ALL
      SELECT 'priority_one_of', count(*) FILTER (NOT prio_ok) FROM v
      UNION ALL
      SELECT 'status_matches', count(*) FILTER (NOT status_ok) FROM v),
    tot AS (SELECT count(*) AS total,
                   count(*) FILTER (price_ok AND prio_ok AND status_ok) AS clean
            FROM v)
    SELECT e.rule, e.n AS n_violations,
           CAST(t.clean AS BIGINT) AS n_clean, CAST(t.total AS BIGINT) AS n_total
    FROM ex e CROSS JOIN tot t
    WHERE e.n > 0 OR TRUE
    """,
)
def dataset_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level constraint gate (Delta-expectations shape): every rule
    is one fused boolean expression, violations are attributable per
    rule, and the clean/total counts prove the good/bad split is
    loss-free.  Emits one row per rule with the corpus-level audit
    numbers the oracle reproduces."""
    from .operators.quality import expression

    od = _t(spark, sf_dir, "orders")
    rules = [
        expression(
            "price_in_range",
            F.col("o_totalprice").isNotNull()
            & (F.col("o_totalprice") > 0.0)
            & (F.col("o_totalprice") <= 600000.0),
        ),
        expression(
            "priority_one_of",
            F.col("o_orderpriority").isin(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            ),
        ),
        expression("status_matches", F.col("o_orderstatus").rlike("^(?:[FOP])$")),
    ]
    # ONE scan, ONE aggregate: per-rule violation counts as conditional
    # sums over the fused validation projection, clean/total riding
    # along, then a zero-shuffle unpivot to (rule, n) rows — replaces a
    # 3-scan formulation (separate summary + clean + total passes)
    from .operators.quality import validate

    v = validate(od, rules)
    agg = v.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.size("_violations") == 0, 1)).alias("n_clean"),
        *[
            F.count(
                F.when(F.array_contains("_violations", r.name), 1)
            ).alias(f"_n_{r.name}")
            for r in rules
        ],
    )
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r.name).alias("rule"),
                    F.col(f"_n_{r.name}").alias("n_violations"),
                )
                for r in rules
            ]
        )
    ).alias("p")
    return agg.select(pairs, "n_clean", "n_total").select(
        F.col("p.rule").alias("rule"),
        F.col("p.n_violations").alias("n_violations"),
        "n_clean",
        "n_total",
    )


@q(
    "dataset_paragraph_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ps FROM documents),
    paras AS (
      SELECT doc_id, unnest(range(1, len(ps)+1)) - 1 AS pos, unnest(ps) AS para
      FROM t),
    k AS (
      SELECT *, CASE WHEN length(para) >= 4
                     THEN row_number() OVER (PARTITION BY para
                                             ORDER BY doc_id, pos)
                     ELSE 1 END AS rn
      FROM paras),
    agg AS (
      SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS text
      FROM k WHERE rn = 1 GROUP BY doc_id)
    SELECT d.doc_id, coalesce(a.text, '') AS text
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def dataset_paragraph_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide sub-document dedup (C4/RefinedWeb paragraph recipe:
    repeated units removed everywhere except their first occurrence,
    documents reassembled in order).  The synthetic corpus has no
    blank-line paragraphs, so the registered instance runs the operator
    at WORD granularity with a <4-char exemption — degenerate input,
    but every mechanic (posexplode, fingerprint keeper, exemption,
    ordered reassembly, empty-doc retention) is value-checked."""
    from .operators.dataset import paragraph_dedup

    d = _t(spark, sf_dir, "documents")
    return paragraph_dedup(d.select("doc_id", "text"), sep=" ", min_chars=4)


@q(
    "multimodal_real_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
           CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 16 ELSE 0 END AS width,
           CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 8 ELSE 0 END AS height,
           CASE WHEN doc_id % 2 = 0 THEN 0
                ELSE (400 + (doc_id % 10) * 80) * 1000 // 8000
           END AS duration_ms,
           CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 251 AS DOUBLE) END AS px_mean,
           CASE WHEN doc_id % 2 = 0 THEN NULL
                ELSE CAST(doc_id % 1000 - 500 AS DOUBLE) END AS sample_mean
    FROM documents
    """,
)
def multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media bytes end-to-end: synthesize genuine PNG (gray, zlib
    IDAT) and WAV (16-bit PCM RIFF) blobs with doc_id-determined shape,
    push them through the real stdlib decode stage
    (multimodal.decode_media → operators/codecs.py), and emit metadata +
    decoded-content means the oracle reproduces ANALYTICALLY — so the
    check proves actual encode→decode round-trips (zlib inflate, PNG
    unfilter, PCM parsing), not hash plumbing.  Both stages are
    Arrow-batched mapInPandas; blob sizes are bounded (<2 KB) so the
    synthesis is a rounding error next to a real decode workload."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from .operators.multimodal import decode_media

    synth_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("media_type", T.StringType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .operators.codecs import encode_png, encode_wav

        for b in batches:
            rows = []
            for did in b["doc_id"]:
                did = int(did)
                if did % 2 == 0:
                    w, h = 16 + did % 16, 8 + did % 8
                    blob = encode_png(bytes([did % 251]) * (w * h), w, h, 1)
                    rows.append((did, "image", blob))
                else:
                    n = 400 + (did % 10) * 80
                    blob = encode_wav([did % 1000 - 500] * n, 8000)
                    rows.append((did, "audio", blob))
            yield pd.DataFrame(rows, columns=["media_id", "media_type", "content"])

    d = _t(spark, sf_dir, "documents")
    media = d.select("doc_id").mapInPandas(synth, synth_schema)
    return decode_media(media).select(
        "media_id",
        "format",
        "width",
        "height",
        F.col("duration_ms").cast("long").alias("duration_ms"),
        "px_mean",
        "sample_mean",
    )


# ======================================================================
# Skew handling, context/DSL round-trip, composed training-data pipeline
# ======================================================================


@q(
    "skew_salted_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total,
           max(value) AS hi
    FROM events
    GROUP BY event_type
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the (skewed, low-cardinality)
    event_type key — identical results to a plain GROUP BY, but the
    stage-1 shuffle spreads each hot key over 16 salt buckets
    (operators/skew.py; decimal carrier keeps the re-combined sum
    bit-exact across both stages and engines)."""
    from .operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n": (F.count, F.sum, F.lit(1)),
            "total_dec": (F.sum, F.sum, _dec2dbl(F.col("value"), 18, 6)),
            "hi": (F.max, F.max, F.col("value")),
        },
        salt_col="event_id",
        salt_buckets=16,
    )
    return out.select(
        "event_type", "n", F.col("total_dec").cast("double").alias("total"), "hi"
    )


@q(
    "context_derived_view",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    """,
)
def context_derived_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KsqlContext-analog round-trip: register entities as views,
    attach a derived entity via to_query() using the fluent DSL (From ->
    Join -> Where -> GroupBy -> Select with stage validation), then read
    the derived view back from the catalog — the batch collapse of the
    reference's OnModelCreating + CSAS lifecycle (SURVEY.md §3.1)."""
    from .context import SparkKsqlContext

    ctx = SparkKsqlContext(spark)
    ctx.register_parquet_dir(sf_dir, ["orders", "customer"])
    ctx.to_query(
        "building_priority_totals",
        lambda c: c.from_("orders")
        .join(c.table("customer"), on=F.col("o_custkey") == F.col("c_custkey"),
              broadcast=True)
        .where(F.col("c_mktsegment") == "BUILDING")
        .group_by("o_orderpriority")
        .select(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec2dbl(F.col("o_totalprice"))).cast("double").alias("total"),
        ),
    )
    return ctx.table("building_priority_totals").select(
        "o_orderpriority", "n", "total"
    )


@q(
    "pipeline_quality_dedup",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             md5({_DK_NORM}) AS fp,
             len({_DK_TOKS.format(src='text')}) AS n_tokens
      FROM documents
      WHERE n_chars >= 100),
    kept AS (
      SELECT s.* FROM scored s
      JOIN (SELECT min(doc_id) AS doc_id FROM scored GROUP BY fp) k
        ON s.doc_id = k.doc_id)
    SELECT lang,
           count(*) AS docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens
    FROM kept
    GROUP BY lang
    """,
)
def pipeline_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pipeline (C4-style): length filter ->
    exact dedup (keep lowest doc_id per normalized fingerprint) ->
    per-language doc/token budget.  One scan, one dedup shuffle, one
    agg shuffle — the composition pattern every corpus build runs."""
    from .operators.dedup import exact_dedup
    from .operators.text import token_count

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    kept = exact_dedup(d)
    return (
        kept.select("lang", token_count("text").alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
        )
    )


@q(
    "moving_average_window",
    oracle="""
    SELECT event_id, event_type,
           round(avg(value) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
             AS ma4,
           lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id)
             AS prev_value
    FROM events
    """,
)
def moving_average_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window superset (reference pull queries have no window
    functions): 4-row moving average + lag per key, deterministic order
    via (ts, event_id)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.avg("value").over(w.rowsBetween(-3, 0)), 6).alias("ma4"),
        F.lag("value").over(w).alias("prev_value"),
    )


@q(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             md5({_DK_NORM}) AS fp,
             CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.25 END
               AS q
      FROM documents),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id)
               AS rn
      FROM scored)
    SELECT doc_id, lang, n_chars FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked dedup (corpus-pipeline variant of exact dedup):
    keep the best-quality doc per fingerprint, not the lowest id —
    rank within fingerprint partitions by (quality desc, id)."""
    from pyspark.sql.window import Window

    from .operators.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    q_ = F.when(F.col("n_chars").between(100, 20000), 1.0).otherwise(0.25)
    scored = d.select(
        "doc_id", "lang", "n_chars", fingerprint(F.col("text")).alias("fp"),
        q_.alias("q"),
    )
    w = Window.partitionBy("fp").orderBy(F.col("q").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


@q(
    "cube_aggregation",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 superset: CUBE grouping sets (rollup's sibling — all key
    combinations from the same partial aggregates)."""
    od = _t(spark, sf_dir, "orders")
    return (
        od.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


@q(
    "similarity_ivf_ann",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT v.vec_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> v.e[i] * q.e[i])), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> v.e[i] * v.e[i])), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> q.e[i] * q.e[i])), (x, y) -> x + y))) AS cos
      FROM v, q ORDER BY cos DESC, vec_id LIMIT 10)
    SELECT array_to_string(list_transform(list_sort(list(vec_id)),
               x -> x::VARCHAR), '|') AS exact_ids,
           TRUE AS recall_ok
    FROM scored
    """,
)
def similarity_ivf_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-file ANN (sample-trained KMeans coarse quantizer,
    4-probe): the trained-index sibling of the sign-LSH path.  Checked
    as an invariant the oracle reproduces — exact top-10 id set plus a
    recall@10 >= 0.6 gate (measured 0.7 @ sf0.01 / 0.8 @ sf0.1 with
    c=8,p=4; deterministic given the fixed KMeans seed)."""
    from .operators.similarity import brute_force_topk, ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = _probe_vec(sf_dir)
    exact = brute_force_topk(e, qvec, k=10).select("vec_id")
    approx = ivf_topk(e, qvec, k=10, n_centroids=8, n_probes=4).select(
        F.col("vec_id").alias("ivf_id")
    )
    hits = exact.join(approx, exact.vec_id == approx.ivf_id, "inner").agg(
        F.count(F.lit(1)).alias("hits")
    )
    ids = exact.agg(
        F.concat_ws(
            "|", F.sort_array(F.collect_list("vec_id")).cast("array<string>")
        ).alias("exact_ids"),
        F.count(F.lit(1)).alias("k"),
    )
    return ids.crossJoin(hits).select(
        "exact_ids",
        (F.col("hits") / F.col("k") >= 0.6).alias("recall_ok"),
    )


@q(
    "dsl_tumbling_counts",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           count(*) AS n,
           max(value) AS hi
    FROM events
    WHERE value > 0
    GROUP BY 1, 2
    """,
)
def dsl_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed aggregation THROUGH the fluent DSL (From -> Where ->
    GroupBy -> Tumbling -> Select), proving the stage-validated builder
    emits the same plan as the direct DataFrame form."""
    ev = _t(spark, sf_dir, "events")
    out = (
        from_df(ev)
        .where(F.col("value") > 0)
        .group_by("event_type")
        .tumbling("ts", "10 minutes")
        .select(F.count(F.lit(1)).alias("n"), F.max("value").alias("hi"))
        .to_df()
    )
    return out.select(
        "event_type", F.col("window.start").alias("window_start"), "n", "hi"
    )


@q(
    "asof_join_prior_purchase",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts, value AS click_value
        FROM events WHERE event_type = 'click'
    ), purchases AS (
        SELECT user_id, ts AS purchase_ts, max(value) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts, c.click_value,
           p.purchase_ts, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
    """,
)
def asof_join_prior_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 superset: as-of join (nearest PRIOR event per key) — the join
    family the reference rejects (only equality conjunctions,
    /root/reference/src/Query/Builders/Statements/KsqlCreateStatementBuilder.cs:392).
    One shuffle, no candidate expansion (operators/asof.py)."""
    from .operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.col("value").alias("click_value")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(clicks, purchases, ["user_id"], "ts", "purchase_ts")


@q(
    "asof_join_next_error",
    oracle="""
    WITH purch AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), errs AS (
        SELECT user_id, ts AS error_ts, max(event_id) AS error_id
        FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    ), joined AS MATERIALIZED (
        -- MATERIALIZED blocks DuckDB from pushing the tolerance predicate
        -- into the ASOF condition ("Multiple ASOF JOIN inequalities")
        SELECT p.event_id, p.user_id, p.ts, e.error_ts, e.error_id
        FROM purch p ASOF JOIN errs e
          ON p.user_id = e.user_id AND p.ts <= e.error_ts
    )
    SELECT * FROM joined WHERE error_ts <= ts + INTERVAL 14400 SECONDS
    """,
)
def asof_join_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of FORWARD + tolerance + inner: first error within 4 hours
    after each purchase (µs-exact tolerance boundary, matching DuckDB
    INTERVAL arithmetic)."""
    from .operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errs = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("error_ts"))
        .agg(F.max("event_id").alias("error_id"))
    )
    return asof_join(
        purch, errs, ["user_id"], "ts", "error_ts",
        direction="forward", tolerance=14400.0, how="inner",
    )


@q(
    "calendar_week_sunday_anchor",
    oracle="""
    SELECT CAST(date_trunc('week', ts - INTERVAL 6 days) + INTERVAL 6 days
                AS TIMESTAMP) AS week_start,
           count(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def calendar_week_sunday_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 with a NON-default anchor: Sunday-anchored weekly buckets
    (reference default is Monday, anchor configurable —
    /root/reference/src/Query/Dsl/KsqlQueryModel.cs:41)."""
    from .operators.windows import bucket_start

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        bucket_start("ts", "1wk", week_anchor="sunday").alias("week_start")
    ).agg(F.count(F.lit(1)).alias("n"))


# ======================================================================
# Exact-moment statistics, heavy hitters, decontamination, stratified
# sampling (SURVEY §2.4 supersets + build-brief training-data ops)
# ======================================================================

_MOM = """
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n_raw,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                  AS DOUBLE) AS syy,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                  AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n_raw AS n,
           sx / n AS mean,
           CASE WHEN n_raw > 1
                THEN (n * sxx - sx * sx) / (n * (n - 1.0)) END AS var_samp,
           CASE WHEN n_raw > 1
                THEN sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) END
             AS stddev_samp,
           floor((CASE WHEN n_raw > 1
                THEN (n * sxy - sx * sy) / (n * (n - 1.0)) END)
                 * 1000000.0::DOUBLE) / 1000000.0::DOUBLE AS covar_samp,
           floor((CASE WHEN n_raw > 1 AND (n * sxx - sx * sx) > 0
                 AND (n * syy - sy * sy) > 0
                THEN (n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END)
                 * 1000000.0::DOUBLE) / 1000000.0::DOUBLE AS corr
    FROM m
"""


@q("agg_moment_statistics", oracle=_MOM)
def agg_moment_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible stddev/var/covar/corr from exact decimal moments
    (operators/stats.py) — superset; the reference registry has no
    statistical aggregates (src/Query/Builders/Functions/
    KsqlFunctionRegistry.cs).

    covar/corr are FLOOR-quantized to 6 dp on both engines: they
    consume the sxy/syy moments, whose exact decimal sums exceed 2^53
    unscaled (y² money values), so their DECIMAL→DOUBLE cast can land
    1 ulp apart across engines (observed: corr red at sf0.001 while
    green at sf0.01/sf0.1 — data-dependent luck, not correctness).
    mean/var/stddev ride sx/sxx, which stay below 2^53 through sf100."""
    from .operators.stats import moment_stats

    li = _t(spark, sf_dir, "lineitem")
    out = moment_stats(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice", scale=2
    )
    q6 = lambda c: F.floor(F.col(c) * 1000000.0) / 1000000.0
    return out.select(
        "l_returnflag", "n", "mean", "var_samp", "stddev_samp",
        q6("covar_samp").alias("covar_samp"), q6("corr").alias("corr"),
    )


@q(
    "approx_heavy_hitters",
    oracle="""
    SELECT l_partkey, count(*) AS cnt
    FROM lineitem
    GROUP BY 1
    HAVING count(*) >= ceil(0.00006 * (SELECT count(*) FROM lineitem))
    """,
)
def approx_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase frequent items (operators/sketch.py): local candidate
    generation (pigeonhole superset, no shuffle) + exact recount of
    candidates only — exact output, which is why it oracle-checks even
    though the plan is the approximate-sketch shape.  Support is 6e-5
    — ~2x the mean key frequency at sf0.1 (3138/20000 parts qualify, a
    real selection) while staying non-empty at sf0.01; a fixed 5e-4
    emptied the result at sf0.1 (threshold 300 vs mean 30)."""
    from .operators.sketch import heavy_hitters

    li = _t(spark, sf_dir, "lineitem")
    return heavy_hitters(li, "l_partkey", support=0.00006)


@q(
    "decontamination_overlap",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT
                       % 1000 < 800 THEN 'train'
                  WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT
                       % 1000 < 900 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    toks AS (
      SELECT doc_id, split, {_DK_TOKS.format(src=_DK_NORM)} AS t FROM split),
    sh AS (
      SELECT doc_id, split,
             CASE WHEN len(t) - 2 > 0
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS sh
      FROM toks),
    ev AS (SELECT doc_id, len(sh) AS total, unnest(sh) AS s
           FROM sh WHERE split = 'test'),
    tr AS (SELECT doc_id AS tid, unnest(sh) AS s FROM sh WHERE split = 'train'),
    hits AS (
      SELECT ev.doc_id,
             count(DISTINCT ev.s) AS overlap,
             count(DISTINCT tr.tid) AS train_docs
      FROM ev JOIN tr USING (s) GROUP BY 1),
    base AS (SELECT DISTINCT doc_id, total FROM ev)
    SELECT base.doc_id, base.total,
           coalesce(hits.overlap, 0) AS overlap,
           coalesce(hits.train_docs, 0) AS train_docs,
           coalesce(hits.overlap, 0) / base.total AS ratio
    FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
    """,
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appx C style): per test-split
    doc, the fraction of its word 3-gram shingles that appear anywhere
    in the train split (operators/decontam.py), splits from the md5
    hash_split."""
    from .operators.dataset import hash_split
    from .operators.decontam import contamination_report

    d = _t(spark, sf_dir, "documents").withColumn("split", hash_split("doc_id"))
    return contamination_report(
        d.filter(F.col("split") == "train"),
        d.filter(F.col("split") == "test"),
        shingle_n=3,
    )


@q(
    "decontamination_overlap_hll",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT
                       % 1000 < 800 THEN 'train'
                  WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT
                       % 1000 < 900 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    toks AS (
      SELECT doc_id, split, {_DK_TOKS.format(src=_DK_NORM)} AS t FROM split),
    sh AS (
      SELECT doc_id, split,
             CASE WHEN len(t) - 2 > 0
                  THEN list_distinct(list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' ')))
                  ELSE [array_to_string(t, ' ')] END AS sh
      FROM toks),
    ev AS (SELECT doc_id, len(sh) AS total, unnest(sh) AS s
           FROM sh WHERE split = 'test'),
    tr AS (SELECT doc_id AS tid, unnest(sh) AS s FROM sh WHERE split = 'train'),
    hits AS (
      SELECT ev.doc_id, count(DISTINCT ev.s) AS overlap
      FROM ev JOIN tr USING (s) GROUP BY 1),
    base AS (SELECT DISTINCT doc_id, total FROM ev)
    SELECT base.doc_id, base.total,
           coalesce(hits.overlap, 0) AS overlap,
           coalesce(hits.overlap, 0) / base.total AS ratio,
           TRUE AS train_docs_ok
    FROM base LEFT JOIN hits ON base.doc_id = hits.doc_id
    """,
)
def decontamination_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination 100 TB regime, driver-scored: the exact
    shingle join emits one row per (eval shingle x matching train
    OCCURRENCE), so boilerplate-heavy corpora fan the join output out
    quadratically in the duplication factor (measured 12.6 s exact vs
    4.3 s HLL on a 10x all-dup probe).  ``approx_train_docs=True``
    collapses the train side to one row per distinct shingle carrying
    an HLL sketch of its train-doc ids BEFORE the join, capping the
    join output at |matched eval shingles| regardless of train-side
    multiplicity (operators/decontam.py).

    Oracle contract (approx_count_distinct / events_audience_overlap_hll
    precedent): ``total``/``overlap``/``ratio`` are EXACT on the HLL
    path by construction and hash-compared against DuckDB; the sketched
    ``train_docs`` estimate rides as a per-doc error-bound invariant
    (|est - exact| <= max(2, 5% of exact); the lgK=14 sketches
    (decontam.HLL_LGK) are exact in sparse mode at these per-doc
    cardinalities, the bound covers dense-mode rsd at scale).  The
    exact leg exists only to judge the estimate at test SFs — the
    operator a user deploys is the approx path alone."""
    from .operators.dataset import hash_split
    from .operators.decontam import contamination_report

    d = _t(spark, sf_dir, "documents").withColumn("split", hash_split("doc_id"))
    train = d.filter(F.col("split") == "train")
    test = d.filter(F.col("split") == "test")
    # one operator call carries BOTH legs (r13): the exact recount
    # rides the same cut train/eval shingle frames instead of
    # a second contamination_report that re-shingled train AND eval
    approx = contamination_report(
        train,
        test,
        shingle_n=3,
        approx_train_docs=True,
        exact_check_col="_exact_td",
    )
    return approx.select(
        "doc_id",
        "total",
        "overlap",
        "ratio",
        (
            F.abs(F.col("train_docs") - F.col("_exact_td"))
            <= F.greatest(F.lit(2.0), F.col("_exact_td") * F.lit(0.05))
        ).alias("train_docs_ok"),
    )


@q(
    "dataset_stratified_sample",
    oracle="""
    SELECT lang, count(*) AS n
    FROM (SELECT lang,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 1000 AS b
          FROM documents)
    WHERE b < CASE lang WHEN 'en' THEN 250 WHEN 'zh' THEN 500 ELSE 1000 END
    GROUP BY 1
    """,
)
def dataset_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: deterministic per-language md5-bucket
    downsampling (keep 25% of en, 50% of zh, all others), then the
    post-sample language histogram."""
    from .operators.dataset import stratified_hash_sample

    d = _t(spark, sf_dir, "documents")
    kept = stratified_hash_sample(
        d, "doc_id", "lang", {"en": 0.25, "zh": 0.5}, default_rate=1.0
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))


_DK_LSH_PAIRS = f"""
    {_DK_SHINGLES},
    {_DK_MINHASH_HALVES},
    mh AS (SELECT doc_id, {_DK_MINHASH_MINS} FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, [{", ".join(f"m{i}" for i in range(8))}] AS sig FROM mh),
    banded AS (
      SELECT doc_id, b AS band_idx,
             md5(array_to_string(list_transform(sig[b*2+1 : b*2+2],
                 x -> x::VARCHAR), '|')) AS band_hash
      FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id)"""


@q(
    "dedup_minhash_clusters",
    oracle=f"""
    WITH RECURSIVE {_DK_LSH_PAIRS},
    und AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.node),
    cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
    """,
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → keepable clusters: connected components (min-label
    propagation DataFrame loop, operators/graph.py) over the MinHash-LSH
    candidate pairs; singletons cluster as themselves.  The iterative
    step is the one operator family here that is NOT SQL-pushdownable —
    the oracle uses a recursive CTE instead."""
    from .operators.graph import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = _lsh_pairs(spark, sf_dir)
    return dedup_clusters(d.select("doc_id"), pairs).select("doc_id", "cluster_id")


@q(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.25) AS price_p25,
           quantile_cont(l_extendedprice, 0.9) AS price_p90
    FROM lineitem GROUP BY 1
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile operator, exact regime (Spark `percentile` ≡ DuckDB
    `quantile_cont`, verified bit-exact incl. interpolation) — superset;
    reference registry has no percentile aggregate.  The operator's GK
    sketch regime is agg_percentiles_approx (see there for its oracle
    contract)."""
    from .operators.sketch import group_percentiles

    li = _t(spark, sf_dir, "lineitem")
    return group_percentiles(
        li,
        ["l_returnflag"],
        {
            "l_quantity": [(0.5, "median_qty")],
            "l_extendedprice": [(0.25, "price_p25"), (0.9, "price_p90")],
        },
        mode="exact",
    )


@q(
    "agg_percentiles_disc",
    oracle="""
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5) AS median_qty,
           quantile_disc(l_extendedprice, 0.9) AS price_p90
    FROM lineitem GROUP BY 1
    """,
)
def agg_percentiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (percentile_disc ≡ DuckDB quantile_disc):
    returns actual data values, so cross-engine equality is exact by
    construction — the right percentile flavor when the result must be
    an observed value (a real document length, a real price).

    A frequency-compressed rank-arithmetic twin was built, proven
    bit-identical and measured slower (OPTIMIZATION_r14.md), so it was
    removed: interleaved min-of-7 at sf0.1, native 1.093 s,
    all-compressed 2.052 s (the near-unique l_extendedprice column
    compresses nothing and pays a window sort), mixed qty-only 1.064 s
    (within noise, one extra fact scan).  The native single-scan
    ObjectHashAggregate stays."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)").alias(
            "median_qty"
        ),
        F.expr(
            "percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice)"
        ).alias("price_p90"),
    )


@q(
    "agg_percentiles_approx",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           TRUE AS approx_in_rank_window
    FROM lineitem GROUP BY 1
    """,
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile regime: Greenwald-Khanna sketch.  Sketch
    values are engine-specific, so the checkable contract is the RANK
    ERROR BOUND: the approx median must lie within the exact
    [p45, p55] value window (GK accuracy 10k guarantees ±1e-4 rank —
    ±0.05 passes with huge margin).  The exact median rides along for
    cross-engine value verification."""
    from .operators.sketch import group_percentiles

    li = _t(spark, sf_dir, "lineitem")
    ap = group_percentiles(
        li, ["l_returnflag"], {"l_quantity": [(0.5, "approx_med")]}, mode="approx"
    )
    ex = group_percentiles(
        li,
        ["l_returnflag"],
        {"l_quantity": [(0.5, "median_qty"), (0.45, "_lo"), (0.55, "_hi")]},
        mode="exact",
    )
    return ex.join(ap, "l_returnflag").select(
        "l_returnflag",
        "median_qty",
        (
            (F.col("approx_med") >= F.col("_lo"))
            & (F.col("approx_med") <= F.col("_hi"))
        ).alias("approx_in_rank_window"),
    )


@q(
    "text_repetition_pii",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DK_TOKS.format(src=_DK_NORM)} AS t FROM documents),
    occ AS (
      SELECT doc_id,
             CASE WHEN len(t) - 2 > 0
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+2], ' '))
                  ELSE [array_to_string(t, ' ')] END AS sh
      FROM toks),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM occ),
    ps AS (SELECT doc_id, s, count(*) AS c FROM ex GROUP BY 1, 2),
    rep AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS total, count(*) AS "distinct",
             round(1.0::DOUBLE - count(*) / sum(c), 6) AS dup_ratio,
             round(max(c) / sum(c), 6) AS top_fraction
      FROM ps GROUP BY 1)
    SELECT r.doc_id, r.total, r."distinct", r.dup_ratio, r.top_fraction,
           len(regexp_extract_all(d.text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS emails,
           len(regexp_extract_all(d.text,
               '([0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}')) AS ipv4,
           len(regexp_extract_all(d.text, '[0-9]+')) AS digit_runs
    FROM rep r JOIN documents d ON r.doc_id = d.doc_id
    """,
)
def text_repetition_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter inputs the reference lacks: Gopher-style
    intra-document n-gram repetition (dup_ratio / top_fraction,
    operators/text.repetition_stats) + PII-shaped substring counts
    (pii_counts) for redaction policies."""
    from .operators.text import pii_counts, repetition_stats

    d = _t(spark, sf_dir, "documents")
    # both legs are row-local per document, so they compute in ONE
    # projection pass: repetition_stats carries the raw text through
    # its Generate barrier and pii_counts runs on the same row — the
    # former self-join on doc_id paid two scans plus a full exchange
    # for what is a zero-shuffle map (guide §2.4)
    rep = repetition_stats(d, n=3, carry=["text"])
    return rep.select(
        "doc_id", "total", "distinct", "dup_ratio", "top_fraction",
        pii_counts("text").alias("p"),
    ).select(
        "doc_id", "total", "distinct", "dup_ratio", "top_fraction",
        F.col("p.emails").alias("emails"),
        F.col("p.ipv4").alias("ipv4"),
        F.col("p.digit_runs").alias("digit_runs"),
    )


# ======================================================================
# TPC-H Q3-shape shipping priority: 3-way join + decimal-exact revenue
# + deterministic top-10 (reference J1 multi-join superset; SURVEY §2.3)
# ======================================================================


@q(
    "join_shipping_priority",
    oracle="""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)))
                AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def join_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> agg -> top-k.

    Scale plan: the filtered customer slice broadcasts (one mktsegment
    ~1/5 of customers; the two join keys are all we carry, so the hint
    holds far past sf100 — beyond that AQE demotes it to shuffle join
    on its size estimate).  lineitem/orders join shuffles on orderkey
    (both already clustered on it in a bucketed layout); top-10 is
    TakeOrdered, never a global sort.
    """
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    rev = _dec2dbl(F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ======================================================================
# TF-IDF top terms per document (training-data text analysis)
# ======================================================================


@q(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DK_TOKS.format(src=_DK_NORM)}) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq
              FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, doc_freq,
           round(tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6) AS tfidf, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY round(tf * ln(CAST(n_docs AS DOUBLE) / doc_freq), 6)
                     DESC, term) AS rnk
          FROM tf JOIN dfreq USING (term) CROSS JOIN n) s
    WHERE rnk <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus IDF + per-doc TF, top-3 terms each (operators/text.py:
    tfidf_top_terms).  tfidf floats are products of one ln() and one
    multiply — no cross-row float accumulation, so bit-exact across
    engines; ties broken by term."""
    from .operators.text import tfidf_top_terms

    return tfidf_top_terms(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=3
    )


# ======================================================================
# Fixed-width document chunking (RAG / context-window prep)
# ======================================================================


@q(
    "dataset_doc_chunking",
    oracle="""
    WITH ex AS (
      SELECT doc_id, text,
             unnest(range(0, greatest((len(text) - 1) // 256, 0) + 1))
               AS chunk_id
      FROM documents)
    SELECT doc_id, chunk_id,
           substring(text, CAST(chunk_id * 256 + 1 AS INT), 256) AS chunk,
           len(substring(text, CAST(chunk_id * 256 + 1 AS INT), 256))
             AS chunk_chars
    FROM ex
    """,
)
def dataset_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """256-char document chunks via per-row sequence explode
    (operators/dataset.py:chunk_documents) — no shuffle, rides the scan."""
    from .operators.dataset import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), "text", "doc_id", chunk_chars=256
    )


# ======================================================================
# Fixed-point embedding centroids per label (similarity preprocessing)
# ======================================================================


@q(
    "embedding_centroids",
    oracle="""
    WITH ex AS (
      SELECT label, embedding,
             unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings),
    fp AS (
      SELECT label, i - 1 AS dim,
             CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
                  AS BIGINT) AS efp
      FROM ex)
    SELECT label, dim, count(*) AS n,
           CAST(SUM(efp) AS BIGINT) AS sum_fp,
           CAST(SUM(efp) AS DOUBLE) / (count(*) * 1000000.0) AS centroid
    FROM fp GROUP BY 1, 2
    """,
)
def embedding_centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label per-dim centroids with exact fixed-point sums
    (operators/similarity.py:embedding_centroids) — order-free integer
    aggregation, bit-identical under any partitioning."""
    from .operators.similarity import embedding_centroids

    return embedding_centroids(
        _t(spark, sf_dir, "embeddings"), "embedding", "label"
    )


# ======================================================================
# PIVOT / UNPIVOT (reshaping supersets; Spark pivot = groupBy.pivot with
# explicit value list — no extra distinct-values job at scale; unpivot =
# Expand node, zero shuffle)
# ======================================================================

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@q(
    "pivot_event_counts",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events GROUP BY 1
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with an EXPLICIT value list: without it Spark
    runs a separate distinct-values collect job before planning — a
    full extra scan at 100 TB.  Pivot-count cells with no rows are null;
    coalesce to 0 for the portable count(CASE...) contract."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


@q(
    "unpivot_doc_metrics",
    oracle=f"""
    SELECT doc_id, 'bpe_tokens' AS metric,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                AS BIGINT) AS value
    FROM documents
    UNION ALL
    SELECT doc_id, 'n_chars', CAST(n_chars AS BIGINT) FROM documents
    UNION ALL
    SELECT doc_id, 'ws_tokens',
           CAST(len({_DK_TOKS.format(src='text')}) AS BIGINT)
    FROM documents
    """,
)
def unpivot_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.unpivot (melt): wide per-doc metrics -> (doc_id, metric,
    value) long form.  Compiles to a single Expand node — each input row
    fans out to n_metrics rows in the same task, no shuffle, no union of
    n scans (the UNION ALL oracle reads the table 3x; unpivot reads it
    once — the at-scale win)."""
    from .operators.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        token_count("text").cast("bigint").alias("ws_tokens"),
        bpe_token_count("text").cast("bigint").alias("bpe_tokens"),
    )
    return d.unpivot(
        ids=["doc_id"],
        values=["n_chars", "ws_tokens", "bpe_tokens"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# ======================================================================
# Character-entropy quality score (training-data text analysis):
# Shannon entropy of the per-doc character distribution
# ======================================================================


@q(
    "text_char_entropy",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(string_split(lower(text), '')) AS c
      FROM documents),
    freq AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY 1, 2),
    per AS (
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
             count(*) AS distinct_chars,
             list_sort(list(CAST(cnt AS DOUBLE))) AS cs
      FROM freq GROUP BY 1)
    SELECT doc_id, n, distinct_chars,
           round(ln(CAST(n AS DOUBLE))
                 - list_reduce(list_prepend(0.0,
                     list_transform(cs, x -> x * ln(x))), (a, b) -> a + b)
                   / n, 6) AS entropy
    FROM per
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon char entropy H = ln(n) - (1/n)*sum(cnt*ln cnt): low-H docs
    are repetitive/boilerplate, high-H near-random — a standard corpus
    quality signal.  The float fold runs over the SORTED per-doc count
    list (ascending, left-to-right) so both engines accumulate in the
    identical order; the per-doc list is ~alphabet-sized so the
    interpreted fold is off the hot path (the heavy lifting — char
    explode + two groupBys — is all codegen).  round(6) absorbs the
    cross-libm ln() ulp."""
    d = _t(spark, sf_dir, "documents")
    ch = d.select("doc_id", F.explode(F.split(F.lower("text"), "")).alias("c"))
    freq = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    per = freq.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.array_sort(F.collect_list(F.col("cnt").cast("double"))).alias("cs"),
    )
    s = F.aggregate(
        F.col("cs"), F.lit(0.0), lambda acc, x: acc + x * F.log(x)
    )
    return per.select(
        "doc_id",
        "n",
        "distinct_chars",
        F.round(F.log(F.col("n").cast("double")) - s / F.col("n"), 6).alias(
            "entropy"
        ),
    )


# ======================================================================
# TPC-H Q5 shape: 6-table snowflake join with region gate
# ======================================================================


@q(
    "join_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1 ORDER BY revenue DESC, n_name
    """,
)
def join_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join (region->nation gate broadcast),
    fact-side orderkey shuffle, local-supplier constraint
    (c_nationkey = s_nationkey) applied as a join predicate.

    Scale plan: region+nation are permanently broadcastable (25/5 rows x
    any SF); supplier and customer grow with SF, so those joins are left
    to Catalyst/AQE (sort-merge with skew split beyond the broadcast
    threshold).  The only full-fact shuffle is lineitem x orders on
    orderkey — co-located for free under an orderkey-bucketed layout.
    """
    nat_asia = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    sup = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat_asia), F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    rev = _dec2dbl(F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6)
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            sup,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# ======================================================================
# TPC-H Q18 shape: large-order customers (HAVING semi-join + re-agg)
# ======================================================================


@q(
    "agg_large_orders",
    oracle="""
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                JOIN customer ON c_custkey = o_custkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
    GROUP BY 1, 2, 3 ORDER BY total_qty DESC, o_orderkey LIMIT 20
    """,
)
def agg_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as a LEFT SEMI join
    gate (P11 WHERE->HAVING + J-superset semi join), then re-aggregate.

    Scale plan: the inner groupBy(l_orderkey) and the semi join shuffle
    on the SAME key, so the exchange is reused; the HAVING filter is
    highly selective, so AQE typically demotes the semi join to
    broadcast at runtime from the actual filtered size — exactly the
    decide-at-runtime behavior you want when selectivity is
    data-dependent."""
    li = _t(spark, sf_dir, "lineitem")
    qty = _dec2dbl(F.col("l_quantity"))
    # one lineitem scan, not two: the final group keys (c_name,
    # o_orderkey, o_orderdate) are functionally determined by the order
    # key, so the HAVING gate's own decimal-exact sum IS total_qty —
    # the former semi join + re-join + re-aggregate recomputed the same
    # sum from a second full scan of the fact table (guide §1.1: don't
    # compute things twice).  Decimal sums are order-independent, so
    # the value is bit-identical; the filtered aggregate is tiny and
    # AQE broadcasts it into the orders join.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("q"))
        .where(F.col("q") > 150)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, F.col("o_orderkey") == big["l_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("q").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


# ======================================================================
# Corpus token frequency with Zipf rank (text-pipeline vocabulary audit)
# ======================================================================


@q(
    "text_token_zipf",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DK_TOKS.format(src=_DK_NORM)}) AS term
      FROM documents),
    freq AS (
      SELECT term, count(*) AS cnt, count(DISTINCT doc_id) AS n_docs
      FROM toks GROUP BY 1)
    SELECT term, cnt, n_docs,
           row_number() OVER (ORDER BY cnt DESC, term) AS rank,
           CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_cnt
    FROM freq
    QUALIFY rank <= 100
    """,
)
def text_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary with Zipf rank and cumulative token
    coverage — the standard "how head-heavy is this corpus" audit.  All
    integer arithmetic (counts + running count), so bit-exact with no
    rounding.

    BOUNDED WINDOW (round-2 scale fix): the top-100 is taken FIRST via
    orderBy+limit, which Spark executes as TakeOrderedAndProject —
    per-partition top-k merged on the driver, NO single-partition sort
    of the vocabulary.  Only then do rank/cum_cnt windows run, over a
    provably ≤100-row input.  rank and the running sum computed on the
    top-k prefix are identical to computing them over the full
    vocabulary and filtering (prefix property of the total order
    (cnt DESC, term)), so this is exact at any corpus size — no tuned
    support threshold needed."""
    from .operators.text import norm_tokens
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(norm_tokens("text")).alias("term")
    )
    freq = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    top = freq.orderBy(F.desc("cnt"), F.col("term")).limit(100)
    w = Window.orderBy(F.desc("cnt"), F.col("term"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_cnt",
            F.sum("cnt")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("bigint"),
        )
    )


# ======================================================================
# Cross-document duplicated n-gram fraction (RefinedWeb/CCNet-style
# corpus boilerplate audit; training-data pipeline extension)
# ======================================================================


@q(
    "text_dup_ngram_fraction",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DK_TOKS.format(src=_DK_NORM)} AS t FROM documents),
    occ AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) - 2 > 0
             THEN list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+2], ' '))
             ELSE [array_to_string(t, ' ')] END) AS s
      FROM toks),
    ps AS (SELECT doc_id, s, count(*) AS c FROM occ GROUP BY 1, 2),
    dup AS (SELECT s FROM ps GROUP BY s HAVING count(*) >= 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS total,
           CAST(sum(CASE WHEN d.s IS NOT NULL THEN c ELSE 0 END)
                AS BIGINT) AS dup_occ,
           CAST(sum(CASE WHEN d.s IS NOT NULL THEN c ELSE 0 END) AS DOUBLE)
             / CAST(sum(c) AS DOUBLE) AS dup_frac
    FROM ps LEFT JOIN dup d USING (s)
    GROUP BY 1
    """,
)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of 3-gram occurrences shared with ≥2 distinct
    documents (operators/text.cross_doc_dup_stats) — the corpus-level
    boilerplate signal intra-doc repetition_stats can't see.  dup_frac
    is one BIGINT/BIGINT double division, bit-exact."""
    from .operators.text import cross_doc_dup_stats

    return cross_doc_dup_stats(
        _t(spark, sf_dir, "documents"), n=3, min_docs=2
    )


# ======================================================================
# Source-mixture upsampling with fractional epoch weights
# ======================================================================


@q(
    "dataset_source_mixture",
    oracle="""
    WITH b AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 1000 AS b,
             CAST(substr(source, 4) AS INT) % 3 AS m
      FROM documents),
    n AS (
      SELECT doc_id, source,
             CASE m WHEN 0 THEN 2 + CASE WHEN b < 500 THEN 1 ELSE 0 END
                    WHEN 1 THEN 1
                    ELSE CASE WHEN b < 500 THEN 1 ELSE 0 END END AS n
      FROM b)
    SELECT doc_id, source, CAST(unnest(range(1, n + 1)) AS BIGINT) AS copy
    FROM n WHERE n > 0
    """,
)
def dataset_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining mixture materialization: sources with suffix % 3 == 0
    get 2.5 epochs, == 1 one epoch, == 2 half an epoch
    (operators/dataset.mixture_upsample).  Fractional copies decided by
    the same md5 bucket as hash_split — no RNG, engine-portable."""
    from .operators.dataset import mixture_upsample

    d = _t(spark, sf_dir, "documents")
    weights = {
        f"src{i}": (2.5 if i % 3 == 0 else (1.0 if i % 3 == 1 else 0.5))
        for i in range(20)
    }
    return mixture_upsample(d, "doc_id", "source", weights).select(
        "doc_id", "source", F.col("copy").cast("bigint").alias("copy")
    )


# ======================================================================
# TPC-H Q14-shape promo revenue share (conditional aggregate ratio)
# ======================================================================


@q(
    "join_promo_revenue",
    oracle="""
    WITH s AS (
      SELECT sum(CASE WHEN p_type = 'PROMO'
                      THEN CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(22,6))
                      ELSE CAST(0 AS DECIMAL(22,6)) END) AS promo,
             sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(22,6))) AS total
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-03-01 00:00:00')
    SELECT CAST(FLOOR(promo * 100) AS DOUBLE) / 100 AS promo_revenue,
           CAST(FLOOR(total * 100) AS DOUBLE) / 100 AS total_revenue,
           100.0 * ((CAST(FLOOR(promo * 100) AS DOUBLE) / 100)
                    / (CAST(FLOOR(total * 100) AS DOUBLE) / 100))
             AS promo_pct
    FROM s
    """,
)
def join_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact-dim join + conditional-aggregate ratio.

    Scale plan: part carries only (p_partkey, p_type) after pruning and
    broadcasts; lineitem is gated by the shipdate range BEFORE the join
    (partition-prunable on a date-partitioned layout), so the join sees
    one month of the fact table and zero shuffles.  The percentage is
    computed in DOUBLE from two exact DECIMAL sums — same IEEE ops both
    engines, bit-exact.

    Output contract (deliberate, r7): revenues are FLOORED TO CENTS
    before the DOUBLE cast and promo_pct derives from the floored
    values — up to 0.01 below the exact TPC-H ratio.  This buys
    cross-engine determinism past the ~12.6x point where the exact
    scale-6 sum's unscaled integer crosses 2^53 (SCALING.md r7)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec2dbl(F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6)
    zero = F.lit(0).cast("decimal(22,6)")
    s = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .alias("promo"),
            F.sum(rev).alias("total"),
        )
    )
    # floor-to-money-scale before the DOUBLE cast (the r7 2^53 audit:
    # this scale-6 sum crosses 2^53 unscaled at ~12.6x sf0.1, where the
    # DECIMAL->DOUBLE cast rounds 1 ulp apart across engines; the
    # floored integer stays exact past 100x — agg_pricing_summary rule)
    promo_d = F.floor(F.col("promo") * 100).cast("double") / 100
    total_d = F.floor(F.col("total") * 100).cast("double") / 100
    return s.select(
        promo_d.alias("promo_revenue"),
        total_d.alias("total_revenue"),
        (F.lit(100.0) * (promo_d / total_d)).alias("promo_pct"),
    )


# ======================================================================
# TPC-H Q12-shape priority pivot by line status (CASE-conditional counts)
# ======================================================================


@q(
    "agg_priority_linestatus",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def agg_priority_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact equi-join + CASE-pivot counts.  Both
    sides shuffle on orderkey (co-located for free in a bucketed
    layout); counts are all-integer, bit-exact.  The shipdate gate cuts
    lineitem before the join — at 100 TB that's the partition filter."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ======================================================================
# TPC-H Q19-shape disjunctive predicate revenue (OR-of-ANDs pushdown)
# ======================================================================


@q(
    "filter_disjunctive_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def filter_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides.

    Catalyst can't split a cross-table disjunction, so the scale move is
    hand constraint-propagation: every disjunct implies
    p_brand IN (...) AND p_size <= 15 on part and l_quantity BETWEEN 1
    AND 30 on lineitem — those prefilters push to the scans (part
    shrinks to 3 brands and broadcasts; lineitem drops ~40% of rows
    before the join), and the full OR stays as the cheap residual."""
    p = _t(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#11", "Brand#13", "Brand#15")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    disj = (
        ((brand == "Brand#11") & size.between(1, 5) & qty.between(1, 11))
        | ((brand == "Brand#13") & size.between(1, 10) & qty.between(10, 20))
        | ((brand == "Brand#15") & size.between(1, 15) & qty.between(20, 30))
    )
    rev = _dec2dbl(F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6)
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(disj)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ======================================================================
# TPC-H Q10-shape returned-item report (4-table join, top-20 customers)
# ======================================================================


@q(
    "join_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,6))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def join_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last half-year.

    Scale plan: lineitem gated to returnflag='R' and orders to the date
    range before either join; the fact-fact join shuffles on orderkey,
    the customer join on custkey (both natural bucketing keys), nation
    broadcasts.  Top-20 is TakeOrdered — no global sort."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _dec2dbl(F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6)
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# ======================================================================
# Exact-moment OLS trend per key (drift detection for quality gates)
# ======================================================================


@q(
    "events_trend_slope",
    oracle="""
    WITH g AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(epoch_us(ts) // 1000000
                      - epoch_us(TIMESTAMP '2024-01-01 00:00:00') // 1000000
                      AS DECIMAL(18,0))) AS sx,
             sum(CAST(CAST(epoch_us(ts) // 1000000
                      - epoch_us(TIMESTAMP '2024-01-01 00:00:00') // 1000000
                      AS DECIMAL(18,0))
                      * CAST(epoch_us(ts) // 1000000
                      - epoch_us(TIMESTAMP '2024-01-01 00:00:00') // 1000000
                      AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS sxx,
             sum(CAST(value AS DECIMAL(18,2))) AS sy,
             sum(CAST(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))
                      AS DECIMAL(38,4))) AS syy,
             sum(CAST(CAST(epoch_us(ts) // 1000000
                      - epoch_us(TIMESTAMP '2024-01-01 00:00:00') // 1000000
                      AS DECIMAL(18,0))
                      * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,2))) AS sxy
      FROM events GROUP BY 1),
    m AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS mx,
             CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS my,
             CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM g)
    SELECT event_type, n,
           floor((CASE WHEN mx > 0 THEN cxy / mx END)
                 * 1000000000000.0::DOUBLE) / 1000000000000.0::DOUBLE
             AS slope,
           floor((CASE WHEN mx > 0
                THEN (syd - (cxy / mx) * sxd) / CAST(n AS DOUBLE) END)
                 * 1000000.0::DOUBLE) / 1000000.0::DOUBLE AS intercept,
           floor((CASE WHEN mx > 0 AND my > 0
                THEN (cxy * cxy) / (mx * my) END)
                 * 1000000.0::DOUBLE) / 1000000.0::DOUBLE AS r2
    FROM m
    """,
)
def events_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key OLS trend (slope in units/second, intercept at the fixed
    anchor, r²) from exact decimal moments (operators/stats.trend_fit):
    the drift-detection primitive — bit-stable across engines and
    partitionings, one map-side-combinable shuffle.

    Outputs are floor-quantized scale-aware (slope at 1e-12 — it is
    units/SECOND, ~1e-5 magnitude; intercept/r² at 1e-6): sxx sums
    squared second-offsets whose unscaled decimals exceed 2^53, the
    same data-dependent DECIMAL→DOUBLE 1-ulp cast class that bit
    agg_moment_statistics' corr at sf0.001."""
    from .operators.stats import trend_fit

    ev = _t(spark, sf_dir, "events")
    out = trend_fit(
        ev, ["event_type"], "ts", "value", t0="2024-01-01", y_scale=2
    )
    return out.select(
        "event_type",
        "n",
        (F.floor(F.col("slope") * 1e12) / 1e12).alias("slope"),
        (F.floor(F.col("intercept") * 1000000.0) / 1000000.0).alias(
            "intercept"
        ),
        (F.floor(F.col("r2") * 1000000.0) / 1000000.0).alias("r2"),
    )


# ======================================================================
# Extended window analytics: lag / percent_rank / cume_dist / running
# first-last (SURVEY §2.6 superset, completes the analytics family)
# ======================================================================


@q(
    "window_analytics_extended",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value) OVER w AS prev_value,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS first_seen,
           last_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS running_last
    FROM events
    WHERE user_id % 20 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_analytics_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / percent_rank / cume_dist / running first-last over the
    per-user event timeline.  percent_rank and cume_dist are single
    INT/INT double divisions (bit-exact); (ts, event_id) is a unique
    order key so every function is deterministic.  One window shuffle
    on user_id serves all five functions."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") % 20 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("value").over(wr).alias("first_seen"),
        F.last("value").over(wr).alias("running_last"),
    )


# ======================================================================
# Corpus length-distribution histogram (per-language audit)
# ======================================================================


@q(
    "corpus_length_histogram",
    oracle=f"""
    WITH t AS (
      SELECT lang, len({_DK_TOKS.format(src='text')}) AS tok
      FROM documents)
    SELECT lang,
           CAST(least(tok // 50, 20) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(min(tok) AS BIGINT) AS min_tok,
           CAST(max(tok) AS BIGINT) AS max_tok,
           CAST(sum(tok) AS BIGINT) AS sum_tok
    FROM t GROUP BY 1, 2
    """,
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution per language in fixed 50-token buckets
    (capped at bucket 20) — the corpus-shape audit behind min/max-length
    filters.  All-integer; one map-side-combined shuffle on the tiny
    (lang, bucket) key space."""
    from .operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    tok = token_count("text")
    return (
        d.select(
            "lang",
            F.least(F.floor(tok / 50), F.lit(20)).cast("bigint").alias("bucket"),
            tok.alias("tok"),
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("tok").cast("bigint").alias("min_tok"),
            F.max("tok").cast("bigint").alias("max_tok"),
            F.sum("tok").cast("bigint").alias("sum_tok"),
        )
    )


# ======================================================================
# Quality-tier assignment via ntile deciles (curation bucketing)
# ======================================================================


@q(
    "dataset_quality_deciles",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len({_DK_TOKS.format(src='text')}) AS tok
      FROM documents),
    tiers AS (
      SELECT lang, ntile(10) OVER (ORDER BY tok, doc_id) AS tier, tok
      FROM t)
    SELECT tier, count(*) AS n_docs,
           CAST(min(tok) AS BIGINT) AS min_tok,
           CAST(max(tok) AS BIGINT) AS max_tok,
           CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS n_en
    FROM tiers GROUP BY 1
    """,
)
def dataset_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide decile tiers by token length (exact ntile semantics
    over the unique (tok, doc_id) order — deterministic), then per-tier
    composition.  Uses operators/dataset.distributed_ntile: per-value
    counts + running-sum base ranks over the bounded distinct-tok
    summary + a value-partitioned row_number — bit-identical to SQL
    ntile(10) with NO corpus-wide single-partition window (that was
    round 2's named scale-killer).

    distributed_ntile references its input three times (value counts,
    total, join-back); a tokenize is too expensive to run 3× (measured:
    3 scans), so the narrow (doc_id, lang, tok) projection is cut
    once before the ntile."""
    from .operators.dataset import distributed_ntile
    from .operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    t = cut(d.select("doc_id", "lang", token_count("text").alias("tok")))
    tiers = distributed_ntile(t, 10, "tok", "doc_id", out_col="tier")
    return tiers.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("tok").cast("bigint").alias("min_tok"),
        F.max("tok").cast("bigint").alias("max_tok"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("bigint").alias("n_en"),
    )


# ======================================================================
# Language-ID confusion matrix (labeler-quality audit)
# ======================================================================


def _langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-argmax language detector against
    the labeled lang column, with per-label recall — the audit that
    decides whether a cheap classifier is good enough to gate a corpus.
    frac is one BIGINT/BIGINT double division (bit-exact); the matrix is
    at most |langs|² rows, so the count shuffle is trivially small."""
    from pyspark.sql import Window

    from .operators.text import language_id_table

    d = _t(spark, sf_dir, "documents")
    m = (
        language_id_table(d, extra_cols=["lang"])
        .groupBy(F.col("lang").alias("labeled_lang"), "detected_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = F.sum("n").over(Window.partitionBy("labeled_lang"))
    return m.select(
        "labeled_lang",
        "detected_lang",
        "n",
        (F.col("n").cast("double") / tot.cast("double")).alias("frac"),
    )


QUERIES["text_langid_confusion"] = _langid_confusion
ORACLES["text_langid_confusion"] = f"""
    WITH pred AS ({{lang_oracle}})
    SELECT labeled_lang, detected_lang, count(*) AS n,
           CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER (PARTITION BY labeled_lang)
                    AS DOUBLE) AS frac
    FROM pred GROUP BY 1, 2
""".format(lang_oracle=_build_lang_oracle())


@q(
    "agg_twap_1h",
    oracle="""
    WITH t AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
             ts, event_id, value
      FROM events),
    wt AS (
      SELECT event_type, bucket_start,
             CAST(epoch_us(coalesce(
                 lead(ts) OVER (PARTITION BY event_type, bucket_start
                                ORDER BY ts, event_id),
                 bucket_start + INTERVAL '1 hour')) - epoch_us(ts)
               AS DECIMAL(20,0)) AS dt,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM t)
    SELECT event_type, bucket_start,
           CAST(CAST(SUM(CAST(v * dt AS DECIMAL(38,2))) AS DOUBLE)
                / CAST(SUM(dt) AS DOUBLE) AS DOUBLE) AS twap,
           count(*) AS n_ticks
    FROM wt GROUP BY 1, 2
    """,
)
def agg_twap_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAP bars (operators/stats.twap): duration-weighted hourly
    average per event_type, event_id tie-break, decimal-exact weighted
    sums at the data's NATIVE 2-dp scale — at that scale the per-bucket
    weighted sum telescopes to ≤ max_value x bucket_µs (the dt's sum to
    the bucket span), keeping the decimal→double cast exact at any
    corpus size; scale 6 overflowed 2^53 and diverged by 1 ulp
    (the trend_fit lesson).  Value-checked bit-for-bit vs DuckDB."""
    from .operators.stats import twap

    ev = _t(spark, sf_dir, "events")
    return twap(
        ev, ["event_type"], "ts", "value", "1h",
        tiebreak_col="event_id", value_scale=2,
    )


@q(
    "agg_incremental_merge",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS spend,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price,
           arg_min(o_totalprice, o_orderkey) AS first_price,
           arg_max(o_totalprice, o_orderkey) AS last_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) / count(*)
               AS avg_price
    FROM orders GROUP BY 1
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance proven against the batch truth:
    the fact table is split into two deltas, each partial-aggregated
    independently, the partials merged (operators/incremental.py), and
    the finalized rollup must equal a direct aggregation of the whole
    table — the merge(agg(A), agg(B)) == agg(A ∪ B) invariant that lets
    a 100 TB rollup absorb a daily delta without re-reading the corpus.
    Carriers: exact DECIMAL sums, struct-min/max min_by/max_by with a
    unique order key, avg derived at finalize (it does not compose)."""
    from .operators.incremental import AggSpec, agg_delta, finalize, merge_partials

    od = _t(spark, sf_dir, "orders")
    specs = [
        AggSpec("count", alias="n"),
        AggSpec("sum", "o_totalprice", alias="spend"),
        AggSpec("min", "o_totalprice", alias="min_price"),
        AggSpec("max", "o_totalprice", alias="max_price"),
        AggSpec("min_by", "o_totalprice", ord_col="o_orderkey", alias="first_price"),
        AggSpec("max_by", "o_totalprice", ord_col="o_orderkey", alias="last_price"),
    ]
    keys = ["o_orderpriority"]
    delta_a = agg_delta(od.filter(F.col("o_orderkey") % 2 == 0), keys, specs)
    delta_b = agg_delta(od.filter(F.col("o_orderkey") % 2 == 1), keys, specs)
    merged = merge_partials([delta_a, delta_b], keys, specs)
    out = finalize(merged, specs, derived={"avg_price": ("spend", "n")})
    return out.select(
        "o_orderpriority",
        "n",
        F.col("spend").cast("double").alias("spend"),
        "min_price",
        "max_price",
        "first_price",
        "last_price",
        "avg_price",
    )


@q(
    "join_binational_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                    AS DECIMAL(18,4))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def join_binational_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year — a
    5-way snowflake where BOTH dimension chains (supplier→nation,
    customer→nation) broadcast, the disjunctive cross-nation predicate
    runs post-join on broadcast columns, and the only wide shuffles are
    the two fact-fact orderkey joins AQE already handles.  Money is
    DECIMAL(18,4) per-row (price × discount needs 4 fractional digits
    to stay exact) summed exactly, cast once."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    n1 = na.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = na.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(cu.select("c_custkey", "c_nationkey")), od.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(vol).cast("double").alias("volume"))
    )


@q(
    "agg_late_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def agg_late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join with a cross-side predicate
    (lineitem shipped >60 days after its order's date), then a tiny
    priority rollup.  Spark plan: left_semi with the compound condition
    — one shuffle pair on orderkey, no fact duplication.  (Driver schema
    has no commitdate/receiptdate; ship-lag stands in for Q4's
    late-commit predicate.)"""
    od = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = od.join(
        li,
        (od.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(od.o_orderdate, 60)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@q(
    "agg_customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY 1
    """,
)
def agg_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: outer join with an ON-clause residual filter
    (never a WHERE — that would turn the outer join inner and lose
    zero-order customers), per-customer count, then the count-of-counts
    histogram.  Two shuffles; the second is over |customers| rows."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    per_cust = (
        cu.join(
            od,
            (cu.c_custkey == od.o_custkey)
            & (od.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@q(
    "agg_small_quantity_revenue",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l1
    WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = l1.l_partkey)
    """,
)
def agg_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-group threshold.  Spark-first
    decorrelation: one partkey-grouped avg, joined back (partkey keys
    on both sides — AQE turns it broadcast when the agg side is small),
    filter, exact DECIMAL sum.  Quantities are small integers so the
    double avg is exact cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    thresh = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("_half_avg")
    )
    return (
        li.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("_half_avg"))
        .agg(
            (
                F.sum(_dec2dbl(F.col("l_extendedprice"))).cast("double") / 7.0
            ).cast("double").alias("avg_yearly")
        )
    )


@q(
    "join_sole_late_supplier",
    oracle="""
    WITH ll AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY 1, 2),
    per_o AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
      FROM ll GROUP BY 1)
    SELECT s.s_name, count(*) AS numwait
    FROM ll JOIN per_o USING (l_orderkey)
            JOIN supplier s ON s.s_suppkey = ll.l_suppkey
    WHERE ll.late = 1 AND per_o.n_supp >= 2 AND per_o.n_late = 1
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def join_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape, decorrelated for scale: 'orders where this
    supplier was the ONLY late one among >=2 suppliers'.  The classic
    EXISTS + NOT-EXISTS pair is two more passes over lineitem; the
    aggregation form computes per-(order, supplier) lateness and
    per-order late counts once each — the sole-late condition becomes
    n_late = 1 AND late.  r14: the per-order counts are ONE window over
    the l_orderkey partitioning of the lateness frame — the former
    separate aggregate branch + join-back duplicated the whole
    lineitem⋈orders+aggregate subtree in the plan (ReuseExchange does
    not fire across the differently-shaped branches; before-plan shows
    2 lineitem scans / 16 Exchange), while the window references it
    once (§2.4).  numwait counts waiting ORDERS per supplier
    (supplier-order grain)."""
    from pyspark.sql.window import Window

    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    ll = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60), 1
                ).otherwise(0)
            ).alias("late")
        )
    )
    w_o = Window.partitionBy("l_orderkey")
    hits = (
        ll.withColumn("n_supp", F.count(F.lit(1)).over(w_o))
        .withColumn("n_late", F.sum("late").over(w_o))
        .filter((F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(su), ll.l_suppkey == su.s_suppkey)
    )
    return (
        hits.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


# ======================================================================
# TPC-H Q22-shape: scalar subquery threshold + anti-join (customers
# with above-average balance and no URGENT orders)
# ======================================================================


@q(
    "agg_global_sales_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(CAST(c_acctbal AS DECIMAL(18,2))) AS ab
      FROM customer WHERE c_acctbal > 0.0)
    SELECT c_nationkey AS cntrycode,
           count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) >
          (SELECT CAST(ab AS DECIMAL(18,2)) FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY 1
    """,
)
def agg_global_sales_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery threshold + NOT EXISTS
    (restricted to URGENT orders so the anti-join side is selective).

    Scale plan: the average is a 1-row aggregate broadcast into the
    filter (never a collect to the driver); NOT EXISTS is a left_anti
    join — Spark shuffles customer against orders' custkey projection,
    the single column the anti-join needs.  The threshold compare runs
    in DECIMAL(18,2) on both engines: avg() of a DECIMAL is
    engine-exact, and re-quantizing to the input scale keeps the
    boundary test identical."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(F.avg(bal).cast("decimal(18,2)").alias("ab"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .where(bal > F.col("ab"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal).cast("double").alias("totacctbal"),
        )
    )


# ======================================================================
# Pure-SQL entry path (catalog views + spark.sql — SURVEY §2.1 S3/S10:
# registered entities are queryable by name in plain SQL)
# ======================================================================


@q(
    "sql_text_entrypoint",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           CAST(min(o_orderdate) AS TIMESTAMP) AS first_order
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_text_entrypoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: entities registered as catalog views
    (context.register_parquet_dir ≙ the reference's CREATE STREAM/TABLE
    DDL), then the query is plain SQL text — same Catalyst plan as the
    DataFrame form, proving the two surfaces are interchangeable."""
    from .context import SparkKsqlContext

    ctx = SparkKsqlContext(spark)
    ctx.register_parquet_dir(sf_dir, tables=["orders"])
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price,
               min(o_orderdate) AS first_order
        FROM orders
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        """
    )


# ======================================================================
# Trailing time-range window (RANGE frame over event time)
# ======================================================================


@q(
    "trailing_1h_window",
    oracle="""
    SELECT event_id, ts, value,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             AS sum_1h,
           count(*) OVER w AS n_1h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
             / CAST(count(*) OVER w AS DOUBLE) AS avg_1h
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (ORDER BY epoch_us(ts) // 1000000
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
)
def trailing_1h_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing one-hour aggregate via a RANGE frame over
    event time (seconds) — the continuous sliding-window form hopping
    windows approximate in discrete steps.  The frame sum is carried in
    DECIMAL (order-free, exact) and the average is one DOUBLE division,
    so every row is bit-exact.  Scale: single-partition global window
    here (one event_type slice); at 100 TB partition the window by the
    series key — the per-key form of the same frame."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    sec = F.unix_seconds(F.col("ts"))
    w = Window.orderBy(sec.asc()).rangeBetween(-3599, Window.currentRow)
    dec = F.col("value").cast("decimal(18,2)")
    s = F.sum(dec).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    return ev.select(
        "event_id",
        "ts",
        "value",
        s.alias("sum_1h"),
        n.alias("n_1h"),
        (s / n.cast("double")).alias("avg_1h"),
    )


# ======================================================================
# Full curation chain: repetition gate -> quality-ranked dedup ->
# language rebalance -> hash split -> per-split budget report
# ======================================================================


@q(
    "pipeline_curation_full",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             md5({_DK_NORM}) AS fp,
             len({_DK_TOKS.format(src='text')}) AS n_tokens,
             CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.25 END
               AS q
      FROM documents
      WHERE n_chars >= 50),
    deduped AS (
      SELECT doc_id, lang, n_tokens FROM (
        SELECT doc_id, lang, n_tokens,
               row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id)
                 AS rn
        FROM scored) s
      WHERE rn = 1),
    sampled AS (
      SELECT * FROM deduped
      WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 1000
            < CASE lang WHEN 'en' THEN 500 ELSE 1000 END),
    split AS (
      SELECT lang, n_tokens,
             CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT
                       % 1000 < 900 THEN 'train' ELSE 'val' END AS split
      FROM sampled)
    SELECT split, lang,
           count(*) AS docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens
    FROM split GROUP BY 1, 2
    """,
)
def pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-build recipe as ONE composed plan: length gate →
    quality-ranked exact dedup → deterministic language rebalance (keep
    half of en) → md5 train/val split → per-(split, lang) doc/token
    budget.  Every stage is an operator from this repo composed through
    the DataFrame API, so Catalyst fuses the chain: ONE scan and TWO
    exchanges (the dedup window's fingerprint shuffle and the final
    agg's) for five pipeline stages — the rebalance and split stages
    are pure expressions that ride along, and nothing materializes
    between stages (plan-gated in tests/test_plans.py).  That fusion is the Spark-first argument in one plan:
    the reference would run these as separate ksqlDB queries through
    Kafka topics."""
    from pyspark.sql.window import Window

    from .operators.dataset import hash_split, stratified_hash_sample
    from .operators.text import fingerprint, token_count

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 50)
    q_ = F.when(F.col("n_chars").between(100, 20000), 1.0).otherwise(0.25)
    scored = d.select(
        "doc_id", "lang",
        fingerprint(F.col("text")).alias("fp"),
        token_count("text").alias("n_tokens"),
        q_.alias("q"),
    )
    w = Window.partitionBy("fp").orderBy(F.col("q").desc(), "doc_id")
    deduped = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    sampled = stratified_hash_sample(
        deduped, "doc_id", "lang", {"en": 0.5}, default_rate=1.0
    )
    split = sampled.select(
        "lang", "n_tokens",
        hash_split("doc_id", {"train": 0.9, "val": 0.1}),
    )
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens"),
    )


# ======================================================================
# Embedding int8 quantization (vector storage compression)
# ======================================================================


@q(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      FROM embeddings),
    m AS (
      SELECT vec_id, vd,
             list_max(list_transform(vd, x -> abs(x))) AS mx
      FROM v)
    SELECT vec_id,
           mx / 127.0 AS scale,
           array_to_string(CASE WHEN mx = 0.0
                THEN list_transform(vd, x -> 0)
                ELSE list_transform(vd, x ->
                  CAST(greatest(-127, least(127,
                    CAST(floor(x / (mx / 127.0)) AS INT))) AS INT)) END,
               '|') AS q,
           CAST(len(vd) AS INT) AS n_dims
    FROM m
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 codes (operators/similarity.
    quantize_embeddings_int8): floor-of-division quantization is
    bit-deterministic across engines; scale is one double division.
    Shuffle-free — rides the scan.  The code vector is projected to a
    '|'-joined string: the driver's pandas canon cannot sort/hash list
    cells (r3 harness crash — the only non-scalar output among all
    registered queries)."""
    from .operators.similarity import quantize_embeddings_int8

    qz = quantize_embeddings_int8(_t(spark, sf_dir, "embeddings"))
    return qz.select(
        "vec_id", "scale",
        F.array_join(F.col("q").cast("array<string>"), "|").alias("q"),
        "n_dims",
    )


# ======================================================================
# Compressed-domain ANN: int8 top-k (exact integer scores — the only
# fully value-checked similarity search; float ANN is rows-only)
# ======================================================================


@q(
    "similarity_int8_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    vm AS (
      SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx
      FROM v),
    vc AS (
      SELECT vec_id,
             CASE WHEN mx = 0.0 THEN list_transform(e, x -> 0)
                  ELSE list_transform(e, x ->
                    CAST(greatest(-127, least(127,
                      CAST(floor(x / (mx / 127.0)) AS INT))) AS INT)) END AS c
      FROM vm),
    qc AS (SELECT c AS qc FROM vc WHERE vec_id = 0)
    SELECT vec_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, 65),
               i -> CAST(c[i] AS BIGINT) * qc[i])), (x, y) -> x + y)
             AS score_i8
    FROM vc, qc
    ORDER BY score_i8 DESC, vec_id
    LIMIT 10
    """,
)
def similarity_int8_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain search (operators/similarity.int8_topk): both
    sides int8-quantized, score = exact integer dot product — order-
    free, so this ANN path is bit-deterministic and fully value-checked
    (the float paths can only be rows-checked)."""
    from .operators.similarity import int8_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = _probe_vec(sf_dir)
    return int8_topk(e, qvec, k=10)


# ======================================================================
# TPC-H Q6-shape: pure scan-side predicate revenue (no join at all —
# the pushdown showcase; SURVEY §2.2 P-family at fact scale)
# ======================================================================


@q(
    "filter_revenue_increase",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(22,6)))
                AS DOUBLE) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def filter_revenue_increase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the what-if revenue scan.  Every predicate is
    scan-eligible (shipdate range + discount band + quantity cap reach
    the parquet reader as PushedFilters), the projection is 3 columns,
    and the whole query is one partial-aggregated scan — zero shuffles
    beyond the final 1-row combine.  Revenue is the per-row
    double-product quantized to DECIMAL(22,6) then summed exactly (the
    repo's money discipline), so both engines agree bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = _dec2dbl(F.col("l_extendedprice") * F.col("l_discount"), 22, 6)
    return li.agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ======================================================================
# TPC-H Q7-shape: bidirectional nation-pair shipping volume (two
# broadcast dims aliased from ONE nation table; year rollup)
# ======================================================================


@q(
    "join_nation_volume_shipping",
    oracle="""
    WITH q AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
               AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(volume) AS DOUBLE) AS revenue
    FROM q GROUP BY 1, 2, 3
    """,
)
def join_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the J7 alias-rewrite case — nation joins TWICE
    under two aliases (supplier's and customer's side).  Both nation
    dims and supplier broadcast; the disjunctive pair filter runs
    after the cheap broadcast joins, so the only shuffles are
    orders⋈lineitem on orderkey and the final small groupBy.  Volume
    uses the DECIMAL(22,6) per-row quantize discipline."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    vol = _dec2dbl(F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6)
    return (
        li.join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


# ======================================================================
# TPC-H Q8-shape: national market share within a region (7-way join,
# conditional-share ratio)
# ======================================================================


@q(
    "join_national_market_share",
    oracle="""
    WITH q AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
               AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
                         ELSE CAST(0 AS DECIMAL(22,6)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM q GROUP BY 1
    """,
)
def join_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: deepest join tree in the suite (7 tables, nation
    twice).  Every dim (part filtered to one type, supplier, customer,
    nation×2, region) broadcasts; the only shuffle is
    lineitem⋈orders on orderkey + the per-year combine.  Share =
    conditional DECIMAL sum / total DECIMAL sum, divided once in
    DOUBLE — bit-exact."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    pa = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cu = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    re = (
        _t(spark, sf_dir, "region")
        .where(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    vol = _dec2dbl(F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6)
    zero = F.lit(0).cast("decimal(22,6)")
    q8 = (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(re), F.col("cn_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(zero)
            ).alias("nat"),
            F.sum(vol).alias("tot"),
        )
    )
    return q8.select(
        "o_year",
        (F.col("nat").cast("double") / F.col("tot").cast("double")).alias(
            "mkt_share"
        ),
    )


# ======================================================================
# TPC-H Q15-shape: top supplier by quarterly revenue (scalar-max
# subquery against a derived revenue view; DECIMAL-exact tie handling)
# ======================================================================


@q(
    "join_top_supplier_revenue",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)))
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1)
    SELECT s_suppkey, s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def join_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the CREATE VIEW + scalar-max pattern, written
    as one derived frame used twice (revenue per supplier, then its
    max).  The max is a 1-row aggregate broadcast back into the filter
    — never a driver collect — and the equality tie test runs on the
    exact DECIMAL sums, so 'all suppliers tied at max' is
    deterministic, not float-luck.  Supplier broadcasts; the one real
    shuffle is the suppkey rollup."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    vol = _dec2dbl(F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6)
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(vol).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(su), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


# ======================================================================
# Per-source document cap (crawl hygiene: max N docs per domain)
# ======================================================================


@q(
    "dataset_source_cap",
    oracle="""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents) s
    WHERE rn <= 50
    """,
)
def dataset_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-hygiene per-domain cap (operators/dataset.cap_per_group):
    keep the 50 largest documents per source, deterministic tiebreak on
    doc_id.  One group-partitioned window; WindowGroupLimit keeps only
    k rows per partition before the exchange."""
    from .operators.dataset import cap_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return cap_per_group(
        d, "source", [F.col("n_chars").desc(), F.col("doc_id")], 50
    )


# ======================================================================
# Corpus-unigram LM document scoring (CCNet-style perplexity proxy)
# ======================================================================


@q(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DK_TOKS.format(src=_DK_NORM)}) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
    lm AS (SELECT term, sum(c) AS cf FROM tf GROUP BY 1),
    tot AS (SELECT CAST(sum(cf) AS BIGINT) AS total FROM lm)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
           round(CAST(sum(CAST(round(c * ln(CAST(cf AS DOUBLE) / total), 6)
                              AS DECIMAL(18,6))) AS DOUBLE)
                 / sum(c), 6) AS logprob_per_tok
    FROM tf JOIN lm USING (term) CROSS JOIN tot
    GROUP BY 1
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cheap perplexity gate: mean corpus-unigram ln p per
    token (operators/text.unigram_logprob_score).  LM dim derived from
    the (doc,term) counts — one tokenize pass — and each contribution is
    quantized to DECIMAL(18,6) before summing, so the accumulation is
    order-free on both engines."""
    from .operators.text import unigram_logprob_score

    return unigram_logprob_score(_t(spark, sf_dir, "documents"))


# ======================================================================
# Token-budget corpus downsampling (per-source training-mix budgets)
# ======================================================================


@q(
    "dataset_token_budget_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             len({_DK_TOKS.format(src='text')}) AS n_tok,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tok,
             CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
      FROM t)
    SELECT doc_id, source, n_tok, cum_tokens
    FROM c
    WHERE cum_tokens <= 5000 OR cum_tokens - n_tok = 0
    """,
)
def dataset_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix token budgets (operators/dataset.token_budget_sample):
    each source keeps an md5-ordered document prefix totalling ≤5000
    tokens (first doc always kept).  Deterministic, append-stable, one
    per-source window — the op that turns 'use 30B tokens of web, 5B of
    code' into a plan."""
    from .operators.dataset import token_budget_sample
    from .operators.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").alias("n_tok")
    )
    return token_budget_sample(d, 5000, "n_tok", "source", "doc_id")


# ======================================================================
# Blocked kNN graph + SemDeDup-style semantic dedup + incremental
# ingestion dedup (training-data curation extensions)
# ======================================================================


def _dk_dot64(x: str, y: str) -> str:
    """DuckDB left-assoc 0.0-seed dot fold — bit-identical to both the
    Spark unrolled chain and the zip_with/aggregate fold."""
    return (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        f"i -> {x}[i] * {y}[i])), (x, y) -> x + y)"
    )


def _dk_unit64(e: str) -> str:
    """DuckDB unit vector (element / L2 norm): the normalise step of the
    unit-vector cosine form (similarity._cosine_chunks with unit=True)."""
    return f"list_transform({e}, x -> x / sqrt({_dk_dot64(e, e)}))"


def _dk_udot64(a: str, b: str) -> str:
    """Cosine of two pre-normalized vectors = plain dot fold."""
    return _dk_dot64(a, b)


@q(
    "similarity_knn_graph",
    oracle=f"""
    WITH v0 AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
                FROM embeddings),
    v AS (SELECT vec_id, label, {_dk_unit64('e')} AS en FROM v0),
    p AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             {_dk_udot64('a.en', 'b.en')} AS cos
      FROM v a JOIN v b
        ON a.label = b.label AND a.vec_id <> b.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos DESC, neighbor_id) AS rnk FROM p)
    SELECT vec_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
    """,
)
def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked kNN graph (operators/similarity.knn_graph_blocked): each
    vector's top-5 cosine neighbors within its block (label here; IVF
    cell / LSH bucket at corpus scale).  One block-keyed self-join + one
    per-node window — block² pair cost, blocks in parallel."""
    from .operators.similarity import knn_graph_blocked

    e = _t(spark, sf_dir, "embeddings")
    return knn_graph_blocked(e, "label", k=5)


@q(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE v0 AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    v AS (SELECT vec_id, label, {_dk_unit64('e')} AS en FROM v0),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_dk_udot64('a.en', 'b.en')} >= 0.4),
    und AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.node),
    cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT em.vec_id,
           coalesce(cc.component, em.vec_id) AS cluster_id,
           coalesce(cc.component, em.vec_id) = em.vec_id AS keep
    FROM embeddings em LEFT JOIN cc ON em.vec_id = cc.node
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.
    semantic_dedup_blocked): cosine>=0.4 pairs within each label block →
    connected components over the pair list → keep = min-id
    representative per cluster.  The published recipe's k-means cells
    map to the block column (IVF cell at corpus scale)."""
    from .operators.dedup import semantic_dedup_blocked

    e = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_blocked(e, "label", threshold=0.4)


@q(
    "dedup_incremental_batch",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, source, md5({_DK_NORM}) AS fp FROM documents),
    corpus AS (SELECT DISTINCT fp FROM f WHERE source = 'src0'),
    batch AS (SELECT * FROM f WHERE source <> 'src0'),
    best AS (SELECT fp, min(doc_id) AS keep_id FROM batch GROUP BY 1)
    SELECT b.doc_id, b.source, b.fp
    FROM batch b
    JOIN best ON b.fp = best.fp AND b.doc_id = best.keep_id
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 ingestion dedup (operators/dedup.incremental_dedup):
    src0 plays the existing corpus, every other source the incoming
    batch — batch-internal exact dedup (min id per fingerprint) then
    anti-join against the corpus fingerprint set.  The corpus reduces
    to one derived column; nothing re-deduplicates the whole corpus."""
    from .operators.dedup import incremental_dedup

    d = _t(spark, sf_dir, "documents")
    corpus = d.where(F.col("source") == "src0")
    batch = d.where(F.col("source") != "src0")
    return incremental_dedup(batch, corpus).select("doc_id", "source", "fp")


# ======================================================================
# TPC-H Q2-shape: minimum-cost supplier (correlated per-group scalar
# min + equality join back, region-gated dims).  The testdata has no
# partsupp table, so the part↔supplier bridge derives from lineitem:
# a supplier's "supply cost" for a part is its minimum observed unit
# price (l_extendedprice / l_quantity).  Same plan skeleton as Q2:
# derived bridge used twice, broadcast snowflake dims, top-k output.
# ======================================================================


@q(
    "join_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             round(min(l_extendedprice / l_quantity), 6) AS supply_cost
      FROM lineitem GROUP BY 1, 2),
    eur AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    cand AS (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
             supply_cost,
             min(supply_cost) OVER (PARTITION BY p_partkey) AS min_cost
      FROM ps
      JOIN eur ON ps.l_suppkey = eur.s_suppkey
      JOIN part ON ps.l_partkey = p_partkey
      WHERE p_size = 15)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supply_cost
    FROM cand WHERE supply_cost = min_cost
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def join_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: 'which supplier quotes the lowest cost for each
    qualifying part in a region'.  The correlated scalar subquery is
    decorrelated into a per-part min window over the already-joined
    candidate set — one pass, no second join against the bridge.  At
    100 TB the bridge aggregate is the only wide shuffle (partkey+
    suppkey); part (filtered) and the region-gated supplier dim both
    broadcast, and the window partitions by partkey over the same
    exchange the join produced.  Unit cost is a single IEEE division
    rounded to 6 dp on both engines, so the min-equality tie test is
    deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")), 6
        ).alias("supply_cost")
    )
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eur = (
        su.join(
            F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pa = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_size") == 15)
        .select("p_partkey", "p_name")
    )
    from pyspark.sql import Window

    cand = (
        ps.join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn(
            "min_cost",
            F.min("supply_cost").over(Window.partitionBy("p_partkey")),
        )
    )
    return (
        cand.where(F.col("supply_cost") == F.col("min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "supply_cost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# ======================================================================
# TPC-H Q9-shape: product-line profit by nation and year.  Without
# partsupp's ps_supplycost, the per-unit cost proxy is half the part's
# retail price; profit = revenue − cost, exact-DECIMAL aggregated.
# ======================================================================


@q(
    "join_product_profit",
    oracle="""
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         - p_retailprice * l_quantity * 0.5
                    AS DECIMAL(22,6))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def join_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit attribution across the whole star —
    lineitem joined to part (name-pattern gate), supplier→nation, and
    orders (year).  Catalyst pushes the LIKE into the part scan and
    broadcasts the surviving ~13% of parts, supplier, and nation; the
    one non-broadcast join is lineitem⋈orders on orderkey, followed by
    the (nation, year) rollup — two shuffles total at any scale.  The
    per-row profit expression is identical text in both engines
    (left-assoc IEEE double ops), then cast DECIMAL(22,6) so the SUM
    is order-independent and bit-exact."""
    li = _t(spark, sf_dir, "lineitem")
    pa = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = _dec2dbl(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.5,
        22,
        6,
    )
    return (
        li.join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(su), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


# ======================================================================
# TPC-H Q11-shape: important stock — per-part value restricted to one
# nation's suppliers, kept only where it exceeds a global-fraction
# threshold (scalar subquery).  Value proxy: net revenue supplied.
# ======================================================================


@q(
    "agg_important_stock",
    oracle="""
    WITH natline AS (
      SELECT l_partkey,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
               AS v
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'),
    pv AS (SELECT l_partkey, sum(v) AS val FROM natline GROUP BY 1),
    tot AS (SELECT sum(val) AS total, count(*) AS nparts FROM pv)
    SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS part_value
    FROM pv, tot
    WHERE CAST(val AS DOUBLE) > CAST(total AS DOUBLE) / nparts * 3.0
    """,
)
def agg_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: the HAVING-against-a-global-aggregate pattern.
    The nation gate broadcasts (supplier⋈nation is a dim-side
    reduction), the partkey rollup is the one wide shuffle, and the
    global total is a 1-row aggregate cross-broadcast back into the
    filter — never collected to the driver.  Both the per-part value
    and the grand total aggregate in DECIMAL and compare as doubles of
    exact sums, so the threshold cut is deterministic across engines.
    The cut is MEAN-RELATIVE (3x the average part value), not a fixed
    corpus fraction: TPC-H's 0.0001/SF literal returns an empty set
    once part count outgrows the fraction — scale-free thresholds keep
    the query meaningful at any SF (verified sf0.01 and sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    na = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    nat_sup = su.join(
        F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    v = _dec2dbl(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6
    )
    pv = (
        li.join(F.broadcast(nat_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(v).alias("val"))
    )
    tot = pv.agg(
        F.sum("val").alias("total"), F.count(F.lit(1)).alias("nparts")
    )
    return (
        pv.join(F.broadcast(tot))
        .where(
            F.col("val").cast("double")
            > F.col("total").cast("double") / F.col("nparts") * 3.0
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("val").cast("double").alias("part_value"),
        )
    )


# ======================================================================
# TPC-H Q16-shape: supplier variety per part descriptor — COUNT
# DISTINCT suppliers over a lineitem-derived bridge, with a NOT-IN
# supplier exclusion (negative balance ≙ 'complaints' comment filter).
# ======================================================================


@q(
    "agg_supplier_part_variety",
    oracle="""
    WITH bridge AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM bridge
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#2'
      AND p_type <> 'ECONOMY'
      AND p_size IN (1, 5, 11, 15, 23, 28, 37, 42)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def agg_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can serve each
    (brand, type, size) bucket, excluding a blacklist.  The NOT IN is
    a broadcast LEFT ANTI join (safe here: s_suppkey is non-null by
    construction, so NOT IN ≡ anti-join) and the part descriptor gate
    broadcasts.  r14: the former explicit `.distinct()` bridge exchange
    was REDUNDANT under the final `count(DISTINCT l_suppkey)` — a part
    maps to exactly one (brand, type, size), so duplicate (partkey,
    suppkey) rows cannot change any group's distinct-supplier count
    (§2.4 remove shuffles outright: the distinct aggregate's own
    partial phase dedups map-side).  One exchange instead of two, and
    the surviving exchange runs AFTER the broadcast filters prune the
    part gate.  No row explosion anywhere."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bridge = li
    pa = (
        _t(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#2")
            & (F.col("p_type") != "ECONOMY")
            & F.col("p_size").isin(1, 5, 11, 15, 23, 28, 37, 42)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        bridge.join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ======================================================================
# TPC-H Q20-shape: excess-inventory suppliers — nested semi-joins:
# suppliers (in one nation) holding more of some qualifying part than
# half of that part's one-year global demand.  'Inventory' proxy: the
# supplier's all-time shipped quantity of the part.
# ======================================================================


@q(
    "join_excess_inventory",
    oracle="""
    WITH avail AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS avail_qty
      FROM lineitem GROUP BY 1, 2),
    demand AS (
      SELECT l_partkey, sum(l_quantity) AS year_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1),
    qual AS (
      SELECT DISTINCT a.l_suppkey
      FROM avail a
      JOIN demand d ON a.l_partkey = d.l_partkey
      JOIN part ON a.l_partkey = p_partkey
      WHERE p_name LIKE 'small%'
        AND a.avail_qty > 0.5 * d.year_qty)
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN qual ON s_suppkey = qual.l_suppkey
    WHERE n_name = 'NATION_3'
    """,
)
def join_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the doubly-nested IN — suppliers selling parts
    whose on-hand stock exceeds half a year's demand.  Both aggregates
    partition on partkey so avail⋈demand is a co-partitioned join
    (AQE coalesces the shared exchange); the part name gate broadcasts
    into it, and the surviving supplier ids collapse through DISTINCT
    before the final broadcast semi-join against the nation-gated
    supplier dim.  Quantities are integral-valued doubles summed in
    both engines identically; the 0.5× threshold is exact in binary,
    so the cut is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    avail = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("avail_qty")
    )
    demand = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(F.col("l_partkey").alias("d_partkey"))
        .agg(F.sum("l_quantity").alias("year_qty"))
    )
    pa = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    qual = (
        avail.join(demand, F.col("l_partkey") == F.col("d_partkey"))
        .join(F.broadcast(pa), F.col("l_partkey") == F.col("p_partkey"))
        .where(F.col("avail_qty") > 0.5 * F.col("year_qty"))
        .select("l_suppkey")
        .distinct()
    )
    su = _t(spark, sf_dir, "supplier")
    na = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name") == "NATION_3")
        .select("n_nationkey", "n_name")
    )
    return (
        su.join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
    )


# ======================================================================
# Per-source corpus curation report (volume, token mass, exact-dup
# rate, dominant language) — the mixture-weight decision table
# ======================================================================


@q(
    "corpus_source_report",
    oracle=f"""
    WITH base AS (
      SELECT source, lang, n_chars,
             len({_DK_TOKS.format(src="text")}) AS toks,
             md5({_DK_NORM}) AS fp
      FROM documents),
    ps AS (
      SELECT source, count(*) AS n_docs, sum(toks) AS total_tokens,
             round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
             count(DISTINCT fp) AS n_unique,
             count(DISTINCT lang) AS n_langs
      FROM base GROUP BY 1),
    lc AS (SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2),
    tl AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, lang) AS rn
        FROM lc) x WHERE rn = 1)
    SELECT ps.source, n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens, avg_chars,
           round(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 6) AS dup_ratio,
           n_langs, top_lang
    FROM ps JOIN tl ON ps.source = tl.source
    """,
)
def corpus_source_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard (operators/quality.corpus_report):
    volume, token mass, exact-duplicate rate, dominant language — the
    table that drives dataset_source_mixture's weights.  Two grouped
    aggregates + a window over the (source × lang) summary; bounded
    output, ratios rounded 6 dp."""
    from .operators.quality import corpus_report

    d = _t(spark, sf_dir, "documents")
    out = corpus_report(d)
    return out.withColumn(
        "total_tokens", F.col("total_tokens").cast("bigint")
    )


# ======================================================================
# Noisy-label audit: per-label bottom-k vectors by own-centroid cosine
# ======================================================================


@q(
    "embedding_centroid_outliers",
    oracle="""
    WITH ex AS (
      SELECT label, embedding,
             unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings),
    fp AS (
      SELECT label, i - 1 AS dim,
             CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
                  AS BIGINT) AS efp
      FROM ex),
    cent AS (
      SELECT label, dim,
             CAST(SUM(efp) AS DOUBLE) / (count(*) * 1000000.0) AS c
      FROM fp GROUP BY 1, 2),
    carr AS (SELECT label, list(c ORDER BY dim) AS cvec FROM cent GROUP BY 1),
    v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    cosd AS (
      SELECT vec_id, v.label,
        round(
          list_reduce(list_prepend(0.0, list_transform(range(1, 65),
              i -> e[i] * cvec[i])), (x, y) -> x + y)
          / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                i -> e[i] * e[i])), (x, y) -> x + y))
           * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                i -> cvec[i] * cvec[i])), (x, y) -> x + y))), 6)
          AS centroid_cos
      FROM v JOIN carr ON v.label = carr.label)
    SELECT vec_id, label, centroid_cos FROM (
      SELECT *, row_number() OVER (PARTITION BY label
                                   ORDER BY centroid_cos, vec_id) AS rn
      FROM cosd) x
    WHERE rn <= 5
    """,
)
def embedding_centroid_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy-label screen (operators/similarity.centroid_outliers):
    exact fixed-point centroids → broadcast label→centroid array →
    unrolled cosine over the fact scan → per-label bottom-5 via
    WindowGroupLimit.  One wide shuffle; 6-dp-rounded cosines with id
    tiebreak keep the cut deterministic."""
    from .operators.similarity import centroid_outliers

    e = _t(spark, sf_dir, "embeddings")
    return centroid_outliers(e, dim=64, bottom_k=5)


# ======================================================================
# Deterministic epoch shuffle: scalable global ORDER BY a seeded hash
# ======================================================================


@q(
    "dataset_epoch_shuffle",
    oracle="""
    SELECT doc_id,
           row_number() OVER (
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id
           ) - 1 AS epoch_pos
    FROM documents
    """,
)
def dataset_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-order epoch shuffle (operators/dataset.epoch_shuffle):
    global rank of md5(seed‖doc_id) with NO single-partition sort —
    range-partition on the hash, per-range counts → broadcast running
    offsets, partitioned row_number.  The oracle's corpus-global
    row_number window is exactly what this operator refuses to do;
    outputs are bit-identical because (md5, doc_id) is a total order."""
    from .operators.dataset import epoch_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(d, seed=0).select("doc_id", "epoch_pos")


# ======================================================================
# Ordered funnel conversion over the event stream
# ======================================================================


@q(
    "events_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(ts) AS t2 FROM events e
      JOIN s1 USING (user_id)
      WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(ts) AS t3 FROM events e
      JOIN s2 USING (user_id)
      WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
    c AS (
      SELECT (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s3) AS n3)
    SELECT 1 AS step_no, 'view' AS step, n1 AS n_users,
           round(CAST(n1 AS DOUBLE) / n1, 6) AS conversion FROM c
    UNION ALL
    SELECT 2, 'click', n2, round(CAST(n2 AS DOUBLE) / n1, 6) FROM c
    UNION ALL
    SELECT 3, 'purchase', n3, round(CAST(n3 AS DOUBLE) / n1, 6) FROM c
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase (operators/funnel.
    funnel_report): greedy earliest-valid step times via one
    conditional aggregate per step over the same user-keyed exchange
    (AQE plans the step joins shuffle-free), then a single-row count
    aggregate fanned out to the step axis.  No collect, no per-user
    sort, state = one row per user per step."""
    from .operators.funnel import funnel_report

    ev = _t(spark, sf_dir, "events")
    return funnel_report(ev, ["view", "click", "purchase"])


# ======================================================================
# Cohort retention matrix over the event stream
# ======================================================================


@q(
    "events_retention_cohorts",
    oracle="""
    WITH f AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
      FROM events GROUP BY 1),
    a AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      FROM events)
    SELECT cohort,
           CAST(date_diff('day', cohort, wk) / 7 AS INT) AS period_offset,
           count(DISTINCT a.user_id) AS n_active
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators/funnel.retention_cohorts):
    first-seen aggregate ⋈ distinct weekly activity, both user-keyed
    (co-partitioned join), rolled up to the bounded (cohort, offset)
    matrix.  Week anchors are Monday in both engines; offsets are
    exact integer day-diffs / 7."""
    from .operators.funnel import retention_cohorts

    ev = _t(spark, sf_dir, "events")
    return retention_cohorts(ev)


# ======================================================================
# Product-quantization ANN (ADC shortlist + exact rerank)
# ======================================================================


@q(
    "similarity_pq_ann",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT v.vec_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> v.e[i] * q.e[i])), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> v.e[i] * v.e[i])), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> q.e[i] * q.e[i])), (x, y) -> x + y))) AS cos
      FROM v, q ORDER BY cos DESC, vec_id LIMIT 10)
    SELECT array_to_string(list_transform(list_sort(list(vec_id)),
               x -> x::VARCHAR), '|') AS exact_ids,
           TRUE AS recall_ok
    FROM scored
    """,
)
def similarity_pq_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_topk): driver-
    trained per-subspace codebooks (Jégou PQ), one Arrow pass assigns
    m-byte codes, then the corpus-wide ADC scan is PURE codegen (LUT
    array literals; no float vectors touched) with a bounded exact
    rerank over the 100-candidate shortlist.  Invariant the oracle
    reproduces: exact top-10 id set + recall@10 >= 0.8 (measured 1.0 at
    sf0.01 AND sf0.1 with m=16, 32 codes, rerank=100; deterministic
    given the fixed k-means seeds).  The compressed-domain sibling of
    similarity_int8_topk and the storage complement of the IVF index."""
    from .operators.similarity import brute_force_topk, pq_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = _probe_vec(sf_dir)
    exact = brute_force_topk(e, qvec, k=10).select("vec_id")
    approx = pq_topk(
        e, qvec, k=10, m=16, n_codes=32, rerank=100
    ).select(F.col("vec_id").alias("pq_id"))
    hits = exact.join(approx, exact.vec_id == approx.pq_id, "inner").agg(
        F.count(F.lit(1)).alias("hits")
    )
    ids = exact.agg(
        F.concat_ws(
            "|", F.sort_array(F.collect_list("vec_id")).cast("array<string>")
        ).alias("exact_ids"),
        F.count(F.lit(1)).alias("k"),
    )
    return ids.crossJoin(hits).select(
        "exact_ids",
        (F.col("hits") / F.col("k") >= 0.8).alias("recall_ok"),
    )


# ======================================================================
# Linear-interpolation gap fill (time-series superset of W8 continuation)
# ======================================================================


@q(
    "gapfill_linear_interpolation",
    oracle="""
    WITH bars AS (
      SELECT event_type, time_bucket(INTERVAL '15 minutes', ts) AS bucket_start,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT event_type, min(bucket_start) AS lo, max(bucket_start) AS hi
      FROM bars GROUP BY 1),
    spine AS (
      SELECT event_type,
             unnest(generate_series(lo, hi, INTERVAL '15 minutes'))
               AS bucket_start
      FROM bounds),
    j AS (
      SELECT s.event_type, s.bucket_start, b.v
      FROM spine s LEFT JOIN bars b USING (event_type, bucket_start)),
    n AS (
      SELECT event_type, bucket_start, v,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN bucket_start END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY bucket_start
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN bucket_start END IGNORE NULLS)
          OVER (PARTITION BY event_type ORDER BY bucket_start
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
      FROM j)
    SELECT event_type, bucket_start,
           floor(coalesce(v, pv + (nv - pv) *
             (CAST(epoch(bucket_start) - epoch(pt) AS DOUBLE)
              / CAST(epoch(nt) - epoch(pt) AS DOUBLE)))
                 * 1000000.0::DOUBLE) / 1000000.0::DOUBLE AS v,
           v IS NULL AS is_synthetic
    FROM n
    """,
)
def gapfill_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation continuation (operators/gapfill.
    interpolate_linear): missing 15-minute revenue buckets per event
    type are synthesized as prev + (next-prev)·elapsed_frac — the
    level-series variant of the reference's carry-forward close
    (RowMonitor continuation, W8).  Per-key sequence spine + one window
    shuffle; bar values are DECIMAL-exact sums so both engines
    interpolate from bit-identical endpoints with fixed-order IEEE
    arithmetic.  Quantization is FLOOR-based, not round(): the
    interpolated doubles are bit-identical but can land exactly on a
    …5 boundary (2-dp endpoints × rational frac), where Spark's
    BigDecimal HALF_UP and DuckDB's rounding disagree — observed at
    sf0.001 ('8.190313' vs '8.190312'); floor of an identical double
    is identical everywhere."""
    from .operators.gapfill import interpolate_linear
    from .operators.windows import bucket_start

    ev = _t(spark, sf_dir, "events")
    bars = (
        ev.groupBy(
            "event_type", bucket_start(F.col("ts"), "15m").alias("bucket_start")
        )
        .agg(F.sum(_dec2dbl(F.col("value"))).cast("double").alias("v"))
    )
    out = interpolate_linear(bars, ["event_type"], "bucket_start", "v", "15m")
    return out.select(
        "event_type",
        "bucket_start",
        (F.floor(F.col("v") * 1000000.0) / 1000000.0).alias("v"),
        "is_synthetic",
    )


# ======================================================================
# SCD type-2 dimension history (version-interval superset of TABLE
# latest-value semantics)
# ======================================================================


@q(
    "events_scd2_history",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(floor(CAST(json_extract_string(props, '$.k') AS INT)
                        / 25.0) AS INT) AS band
      FROM events),
    flagged AS (
      SELECT user_id, ts, event_id, band,
             CASE WHEN lag(band) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM band THEN 1 ELSE 0 END AS opens
      FROM e),
    versioned AS (
      SELECT user_id, ts, band,
             sum(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS v
      FROM flagged),
    runs AS (
      SELECT user_id, v, min(ts) AS valid_from, min(band) AS band,
             count(*) AS n_events
      FROM versioned GROUP BY 1, 2)
    SELECT user_id, band, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY v)
             AS valid_to,
           (lead(valid_from) OVER (PARTITION BY user_id ORDER BY v))
             IS NULL AS is_current,
           n_events
    FROM runs
    """,
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history (operators/scd.scd2_history): the reference's
    TABLE keeps only the latest value per key (Streamiz RocksDB cache /
    pull queries); this derives the full version history with validity
    intervals from the same changelog — consecutive runs of an
    attribute collapse, valid_to chains from the next version.  All
    key-local windows + one run-collapse groupBy on the same key
    partitioning."""
    from .operators.scd import scd2_history

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.floor(
            F.get_json_object("props", "$.k").cast("int") / F.lit(25.0)
        )
        .cast("int")
        .alias("band"),
    )
    return scd2_history(
        ev, ["user_id"], "ts", ["band"], tiebreak_cols=["event_id"]
    )


# ======================================================================
# Cross-document duplicate-substring removal (ExactSubstr at n-grams)
# ======================================================================


@q(
    "dataset_remove_dup_ngrams",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             {_DK_TOKS.format(src=_DK_NORM)} AS l
      FROM documents),
    toks AS (
      SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) - 1 AS pos
      FROM norm),
    grams AS (
      SELECT doc_id, pos,
             concat_ws(' ', tok,
               lead(tok,1) OVER (PARTITION BY doc_id ORDER BY pos),
               lead(tok,2) OVER (PARTITION BY doc_id ORDER BY pos),
               lead(tok,3) OVER (PARTITION BY doc_id ORDER BY pos),
               lead(tok,4) OVER (PARTITION BY doc_id ORDER BY pos)) AS s,
             lead(tok,4) OVER (PARTITION BY doc_id ORDER BY pos)
               IS NOT NULL AS is_full
      FROM toks),
    dup AS (
      SELECT s FROM (SELECT DISTINCT doc_id, s FROM grams WHERE is_full)
      GROUP BY s HAVING count(*) >= 2),
    cov AS (
      SELECT DISTINCT g.doc_id, g.pos + gs.d AS cpos
      FROM grams g JOIN dup USING (s)
      CROSS JOIN (SELECT unnest(generate_series(0,4)) AS d) gs
      WHERE g.is_full),
    surv AS (
      SELECT t.doc_id, t.tok, t.pos
      FROM toks t LEFT JOIN cov
        ON t.doc_id = cov.doc_id AND t.pos = cov.cpos
      WHERE cov.doc_id IS NULL),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
             count(*) AS n_kept
      FROM surv GROUP BY doc_id),
    totals AS (SELECT doc_id, count(*) AS n_total FROM toks GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(r.text, '') AS text,
           coalesce(t.n_total, 0) AS n_total,
           coalesce(r.n_kept, 0) AS n_kept
    FROM documents d
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def dataset_remove_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-substring removal (operators/dataset.remove_dup_ngrams;
    ExactSubstr dedup of Lee et al. 2022 relaxed to 5-gram spans): any
    token covered by a 5-gram occurring in >= 2 distinct documents is
    dropped everywhere, documents reassemble from survivors in order.
    The dup dim is the broadcastable boilerplate tail; coverage
    expansion is bounded to matched occurrences; removal acts where
    text_dup_ngram_fraction only measures."""
    from .operators.dataset import remove_dup_ngrams

    d = _t(spark, sf_dir, "documents")
    return remove_dup_ngrams(d, n=5, min_docs=2)


# ======================================================================
# Z-order (Morton) multi-dimensional clustering key
# ======================================================================


def _zorder_oracle_expr(cols: list[str], bits: int) -> str:
    d = len(cols)
    terms = []
    for i in range(bits):
        for j, c in enumerate(cols):
            terms.append(f"((({c} >> {i}) & 1) << {i * d + j})")
    return " | ".join(terms)


@q(
    "layout_zorder_key",
    oracle=f"""
    WITH r AS (
      SELECT event_id,
             least(65535, greatest(0, user_id)) AS ru,
             least(65535, greatest(0, CAST(floor(value) AS BIGINT))) AS rv
      FROM events)
    SELECT event_id, {_zorder_oracle_expr(['ru', 'rv'], 16)} AS z
    FROM r
    """,
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key (operators/layout.zorder_value):
    bit-interleaves (user_id, floor(value)) ranks into one BIGINT so a
    range sort clusters BOTH dimensions — the key write_zordered lays
    files out by (Delta/Iceberg OPTIMIZE ZORDER semantics).  Pure
    integer bit arithmetic, value-checked bit-for-bit against the
    oracle's shift/or chain."""
    from .operators.layout import zorder_value

    ev = _t(spark, sf_dir, "events")
    cap = F.lit((1 << 16) - 1)
    r = ev.select(
        "event_id",
        F.least(cap, F.greatest(F.lit(0), F.col("user_id"))).alias("ru"),
        F.least(
            cap,
            F.greatest(F.lit(0), F.floor(F.col("value")).cast("bigint")),
        ).alias("rv"),
    )
    return r.select("event_id", zorder_value(["ru", "rv"], 16).alias("z"))


# ======================================================================
# PII redaction / robust MAD outliers / weighted sampling
# ======================================================================


@q(
    "text_redact_pii",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id::VARCHAR ||
             '@mail.example.com from 10.0.' ||
             (doc_id % 256)::VARCHAR || '.7 ref ' ||
             (doc_id * 1234567)::VARCHAR AS t
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS redacted
    FROM aug
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/text.redact_pii) — the action half of
    text_repetition_pii's pii_counts signal: emails → <EMAIL>, IPv4s →
    <IP>, ≥6-digit runs → <NUM>, in that fixed order.  The corpus text
    is word-salad, so each doc is first augmented with deterministic
    synthetic PII (email + ip + numeric ref derived from doc_id) that
    BOTH engines construct identically — the redaction is genuinely
    exercised on every row.  Pure regexp chain, zero shuffle."""
    from .operators.text import redact_pii

    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ref "),
        (F.col("doc_id") * 1234567).cast("string"),
    )
    return d.select("doc_id", redact_pii(aug).alias("redacted"))


@q(
    "events_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1),
    mad AS (
      SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type) GROUP BY 1)
    SELECT e.event_type,
           round(m.med, 6) AS med,
           round(d.mad, 6) AS mad,
           CAST(sum(CASE WHEN abs(e.value - m.med) > 5.0 * d.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM events e
    JOIN med m USING (event_type) JOIN mad d USING (event_type)
    GROUP BY 1, 2, 3
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen (operators/stats.mad_outliers): per-key
    median/MAD flags |v − med| > 5·MAD — stddev-based z-scores move
    with the outliers they hunt; the median pair does not.  Two exact
    grouped percentiles (bounded per-key summary, broadcast back) +
    one codegen flag; the GK sketch swaps in above the size gate
    exactly as in group_percentiles."""
    from .operators.stats import mad_outliers

    ev = _t(spark, sf_dir, "events")
    flagged = mad_outliers(ev, ["event_type"], "value", k=5.0)
    return flagged.groupBy("event_type").agg(
        F.round(F.first("med"), 6).alias("med"),
        F.round(F.first("mad"), 6).alias("mad"),
        F.sum(F.col("is_outlier").cast("bigint")).alias("n_outliers"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "dataset_weighted_sample",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             round(pow(
               (('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 8))::BIGINT
                + 0.5) / 4294967296.0,
               1.0 / CAST(n_chars AS DOUBLE)), 9) AS sk
      FROM documents WHERE n_chars > 0),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY sk DESC, doc_id)
               AS rn
      FROM scored)
    SELECT doc_id, lang, n_chars FROM ranked WHERE rn <= 5
    """,
)
def dataset_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/dataset.
    weighted_sample, Efraimidis–Spirakis A-ES): inclusion odds ∝
    n_chars, top-5 per language.  md5-derived uniforms make every draw
    engine- and rerun-stable (hash_split discipline); 9-dp rounding +
    id tie-break erases pow()'s last-ulp so both engines rank
    identically.  WindowGroupLimit prunes before the exchange."""
    from .operators.dataset import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(
        d, "n_chars", 5, id_col="doc_id", group_cols=["lang"]
    ).select("doc_id", "lang", "n_chars")


@q(
    "events_point_in_time_features",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(floor(CAST(json_extract_string(props, '$.k') AS INT)
                        / 25.0) AS INT) AS band
      FROM events),
    flagged AS (
      SELECT user_id, ts, event_id, band,
             CASE WHEN lag(band) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM band THEN 1 ELSE 0 END AS opens
      FROM e),
    versioned AS (
      SELECT user_id, ts, band,
             sum(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS v
      FROM flagged),
    runs AS (
      SELECT user_id, v, min(ts) AS valid_from, min(band) AS band
      FROM versioned GROUP BY 1, 2),
    hist AS (
      SELECT user_id, band, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY v)
               AS valid_to
      FROM runs),
    clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.user_id, h.band
    FROM clicks c LEFT JOIN hist h
      ON c.user_id = h.user_id AND c.ts >= h.valid_from
         AND (h.valid_to IS NULL OR c.ts < h.valid_to)
    """,
)
def events_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature lookup (operators/scd.point_in_time_join):
    click facts fetch the dimension version IN EFFECT at their event
    time from the scd2_history changelog — the anti-leakage join every
    feature store runs (training rows must never see future attribute
    values).  Key-equi join with the interval as residual: candidates
    are bounded by versions-per-key, never range-exploded."""
    from .operators.scd import point_in_time_join, scd2_history

    ev = _t(spark, sf_dir, "events")
    dim_src = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(
            F.get_json_object("props", "$.k").cast("int") / F.lit(25.0)
        )
        .cast("int")
        .alias("band"),
    )
    hist = scd2_history(
        dim_src, ["user_id"], "ts", ["band"], tiebreak_cols=["event_id"]
    ).drop("is_current", "n_events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return point_in_time_join(
        clicks, hist, ["user_id"], "ts"
    ).select("event_id", "user_id", "band")


@q(
    "text_gopher_rules",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x != '') AS t,
             string_split(text, chr(10)) AS lines
      FROM documents),
    feat AS (
      SELECT doc_id,
        len(t) AS n_words,
        CASE WHEN len(t) > 0
             THEN list_reduce(list_prepend(0::BIGINT,
                    list_transform(t, w -> length(w))), (a, b) -> a + b)
                  / len(t)
             ELSE 0.0 END AS mwl,
        len(regexp_extract_all(text, '[#…]'))
          + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym,
        greatest(len(lines), 1) AS n_lines,
        len(list_filter(lines,
            ln -> regexp_matches(trim(ln), '^([-*•])'))) AS bullet_lines,
        len(list_filter(lines,
            ln -> regexp_matches(trim(ln), '(\\.\\.\\.|…)$')))
          AS ellipsis_lines,
        len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
          AS alpha_words,
        len(list_filter(['the','be','to','of','and','that','have','with'],
            sw -> list_contains(list_transform(t, x -> lower(x)), sw)))
          AS stop_hits
      FROM toks)
    SELECT doc_id,
      n_words >= 50 AND n_words <= 100000 AS word_count_ok,
      mwl >= 3.0 AND mwl <= 10.0 AS mean_word_len_ok,
      CAST(n_sym AS DOUBLE) / greatest(n_words, 1) <= 0.1 AS symbol_ratio_ok,
      CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9 AS bullet_ok,
      CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3 AS ellipsis_ok,
      CAST(alpha_words AS DOUBLE) / greatest(n_words, 1) >= 0.8 AS alpha_ok,
      stop_hits >= 2 AS stopwords_ok,
      (n_words >= 50 AND n_words <= 100000)
        AND (mwl >= 3.0 AND mwl <= 10.0)
        AND (CAST(n_sym AS DOUBLE) / greatest(n_words, 1) <= 0.1)
        AND (CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9)
        AND (CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3)
        AND (CAST(alpha_words AS DOUBLE) / greatest(n_words, 1) >= 0.8)
        AND (stop_hits >= 2) AS keep
    FROM feat
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Gopher filter rule set (operators/text.gopher_rules; Rae et
    al. 2021 A1.1) with per-rule attribution: word count, mean word
    length, symbol ratio, bullet/ellipsis line ratios, alphabetic word
    fraction, required stopwords — and the conjunctive keep.  One fused
    zero-shuffle projection; complements quality_score's scalar with
    the WHICH-rule answer every curation audit needs."""
    from .operators.text import gopher_rules

    d = _t(spark, sf_dir, "documents").withColumn("g", gopher_rules("text"))
    return d.select(
        "doc_id",
        F.col("g.word_count_ok").alias("word_count_ok"),
        F.col("g.mean_word_len_ok").alias("mean_word_len_ok"),
        F.col("g.symbol_ratio_ok").alias("symbol_ratio_ok"),
        F.col("g.bullet_ok").alias("bullet_ok"),
        F.col("g.ellipsis_ok").alias("ellipsis_ok"),
        F.col("g.alpha_ok").alias("alpha_ok"),
        F.col("g.stopwords_ok").alias("stopwords_ok"),
        F.col("g.keep").alias("keep"),
    )


@q("embedding_rp_reduce")
def embedding_rp_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random-projection reduction
    (operators/similarity.reduce_dim_rp): 64-dim float vectors project
    onto 8 md5-derived hyperplanes — the cheap front-end for clustering
    / ANN / semantic dedup at a fraction of the IO.  Pure codegen fold
    per output dim, zero shuffle; the projection matrix lives in the
    plan as literals.  Oracle (generated below) reduces the SAME
    left-to-right fold in DuckDB — md5-derived planes are engine-
    portable by construction."""
    from .operators.similarity import reduce_dim_rp

    e = _t(spark, sf_dir, "embeddings")
    r = reduce_dim_rp(e, dim=64, out_dim=8)
    return r.select(
        "vec_id", *[F.round(F.col(f"rp_{d}"), 6).alias(f"rp_{d}") for d in range(8)]
    )


def _rp_oracle() -> str:
    from .operators.similarity import _hyperplane

    cols = []
    for d in range(8):
        plane = _hyperplane(d, 64)
        lits = ", ".join(repr(x) for x in plane)
        cols.append(
            f"round(list_reduce(list_prepend(0.0, list_transform(range(1, 65),"
            f" i -> e[i] * ([{lits}])[i])), (a, b) -> a + b), 6) AS rp_{d}"
        )
    return (
        "SELECT vec_id, "
        + ", ".join(cols)
        + " FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)"
    )


ORACLES["embedding_rp_reduce"] = _rp_oracle()


@q(
    "pipeline_near_dedup_full",
    oracle=f"""
    WITH RECURSIVE {_DK_LSH_PAIRS},
    und AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.node),
    cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    lab AS (
      SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
    kept AS (SELECT doc_id FROM lab WHERE doc_id = cluster_id)
    SELECT d.lang,
           count(*) AS docs,
           sum(len({_DK_TOKS.format(src='d.text')}))::BIGINT AS tokens
    FROM documents d JOIN kept USING (doc_id)
    GROUP BY 1
    """,
)
def pipeline_near_dedup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dedup corpus build — the flagship LLM-curation
    composition: MinHash signatures → banded LSH candidate pairs →
    connected components (bounded min-label propagation) → keep each
    cluster's min-id representative → per-language corpus inventory.
    Every stage is the already-verified operator (dedup.py / graph.py);
    this query pins that they COMPOSE — the form every production
    corpus refresh actually runs.  Cluster representative = the doc
    whose id equals its component label, so the keep step is a filter,
    not another join."""
    from .operators.graph import dedup_clusters
    from .operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    pairs = _lsh_pairs(spark, sf_dir)
    clusters = dedup_clusters(d.select("doc_id"), pairs)
    kept = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return (
        d.join(kept, "doc_id")
        .select("lang", token_count("text").alias("tok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("tok").cast("bigint").alias("tokens"),
        )
    )


@q(
    "window_count_distinct_users",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           count(DISTINCT user_id) AS u,
           count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def window_count_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed COUNT DISTINCT (ksqlDB COUNT_DISTINCT over a tumbling
    window — A8 x W1 composition): exact distinct users per (type,
    hour).  Catalyst expands this to a two-stage aggregate (partial
    distinct then merge) — at unbounded key cardinality swap in
    approx_count_distinct exactly as the HLL twin below does."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.window("ts", "1 hour").alias("w")
        )
        .agg(
            F.count_distinct("user_id").alias("u"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type", F.col("w.start").alias("window_start"), "u", "n"
        )
    )


@q(
    "audit_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, count(*) AS orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'orders->customer', count(*)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'customer->nation', count(*)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE n.n_nationkey IS NULL
    UNION ALL
    SELECT 'supplier->nation', count(*)
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_nationkey IS NULL
    """,
)
def audit_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse FK-integrity audit: orphan counts per relationship via
    left_anti joins (the quality.py rule family lifted to CROSS-table
    constraints).  Each leg is one anti-join + a 1-row count.  The dim
    side is the BARE key projection: no distinct() (anti-join semantics
    ignore duplicate keys, and a pre-broadcast distinct is a full dim
    shuffle per leg — half of this query's r4 exchanges) and no forced
    broadcast (orders/customer keys do not fit a broadcast at 100 TB;
    AQE broadcasts the small sides itself and plans SMJ when a dim
    outgrows the threshold).  At 100 TB the fact scans dominate and
    Catalyst shares nothing ACROSS legs, so run it as the off-peak
    audit job it is in production."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    su = _t(spark, sf_dir, "supplier")

    def leg(name, fact, dim, fk, pk):
        orphans = fact.join(
            dim.select(pk), fact[fk] == F.col(pk), "left_anti"
        )
        return orphans.agg(
            F.lit(name).alias("fk"), F.count(F.lit(1)).alias("orphans")
        )

    return (
        leg("lineitem->orders", li, od, "l_orderkey", "o_orderkey")
        .unionAll(leg("orders->customer", od, cu, "o_custkey", "c_custkey"))
        .unionAll(leg("customer->nation", cu, na, "c_nationkey", "n_nationkey"))
        .unionAll(leg("supplier->nation", su, na, "s_nationkey", "n_nationkey"))
    )


@q(
    "similarity_ivfpq_ann",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT v.vec_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> v.e[i] * q.e[i])), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> v.e[i] * v.e[i])), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> q.e[i] * q.e[i])), (x, y) -> x + y))) AS cos
      FROM v, q ORDER BY cos DESC, vec_id LIMIT 10)
    SELECT array_to_string(list_transform(list_sort(list(vec_id)),
               x -> x::VARCHAR), '|') AS exact_ids,
           TRUE AS recall_ok
    FROM scored
    """,
)
def similarity_ivfpq_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed ANN (operators/similarity.ivfpq_topk — the FAISS
    IVFPQ shape): coarse cells prune the corpus, ADC scores m-byte
    codes in the probed cells only, bounded exact rerank fixes the
    shortlist.  Invariant: exact top-10 ids + recall@10 >= 0.6
    (measured 1.0 @ sf0.01, 0.8 @ sf0.1 with c=8, p=5, rerank=150;
    deterministic seeds)."""
    from .operators.similarity import brute_force_topk, ivfpq_topk

    e = _t(spark, sf_dir, "embeddings")
    qvec = _probe_vec(sf_dir)
    exact = brute_force_topk(e, qvec, k=10).select("vec_id")
    approx = ivfpq_topk(
        e, qvec, k=10, n_centroids=8, n_probes=5, rerank=150
    ).select(F.col("vec_id").alias("aid"))
    hits = exact.join(approx, exact.vec_id == approx.aid, "inner").agg(
        F.count(F.lit(1)).alias("hits")
    )
    ids = exact.agg(
        F.concat_ws(
            "|", F.sort_array(F.collect_list("vec_id")).cast("array<string>")
        ).alias("exact_ids"),
        F.count(F.lit(1)).alias("k"),
    )
    return ids.crossJoin(hits).select(
        "exact_ids",
        (F.col("hits") / F.col("k") >= 0.6).alias("recall_ok"),
    )


@q(
    "events_psi_drift",
    oracle="""
    WITH ref AS (SELECT event_type, value FROM events
                 WHERE ts < TIMESTAMP '2024-01-16'),
    cur AS (SELECT event_type, value FROM events
            WHERE ts >= TIMESTAMP '2024-01-16'),
    edges AS (
      SELECT event_type,
             quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
               AS e
      FROM ref GROUP BY 1),
    rb AS (SELECT r.event_type,
                  len(list_filter(e.e, x -> round(r.value * 100)::BIGINT
                                            > floor(x * 100 + 1e-6))) AS b
           FROM ref r JOIN edges e USING (event_type)),
    cb AS (SELECT c.event_type,
                  len(list_filter(e.e, x -> round(c.value * 100)::BIGINT
                                            > floor(x * 100 + 1e-6))) AS b
           FROM cur c JOIN edges e USING (event_type)),
    rc AS (SELECT event_type, b, count(*) AS c_ref FROM rb GROUP BY 1, 2),
    cc AS (SELECT event_type, b, count(*) AS c_cur FROM cb GROUP BY 1, 2),
    nr AS (SELECT event_type, count(*) AS n_ref FROM ref GROUP BY 1),
    nc AS (SELECT event_type, count(*) AS n_cur FROM cur GROUP BY 1),
    bo AS (
      SELECT coalesce(rc.event_type, cc.event_type) AS event_type,
             coalesce(rc.b, cc.b) AS b,
             coalesce(c_ref, 0) AS c_ref, coalesce(c_cur, 0) AS c_cur
      FROM rc FULL OUTER JOIN cc
        ON rc.event_type = cc.event_type AND rc.b = cc.b)
    SELECT bo.event_type,
           floor(sum(((c_cur + 0.5) / (n_cur + 5.0)
                      - (c_ref + 0.5) / (n_ref + 5.0))
                     * ln(((c_cur + 0.5) / (n_cur + 5.0))
                          / ((c_ref + 0.5) / (n_ref + 5.0)))) * 1e6
                 + 1e-6) / 1e6 AS psi,
           n_ref, n_cur
    FROM bo JOIN nr ON bo.event_type = nr.event_type
            JOIN nc ON bo.event_type = nc.event_type
    GROUP BY 1, n_ref, n_cur
    UNION ALL
    -- sentinel twin of psi_drift's current-only-key rows: a key with no
    -- reference snapshot is maximal drift (psi = +inf, n_ref = 0)
    SELECT nc.event_type, 'infinity'::DOUBLE AS psi,
           CAST(0 AS BIGINT) AS n_ref, n_cur
    FROM nc
    WHERE nc.event_type NOT IN (SELECT event_type FROM nr)
    """,
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift alarm (operators/stats.
    psi_drift): first half-month is the reference, second the current;
    reference deciles bin both sides (bounded per-key edge summary
    broadcast back, codegen bin-of-v), Laplace smoothing keeps empty
    bins finite.  The distribution monitor every deployed
    feature/score pipeline runs."""
    from .operators.stats import psi_drift

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    ref = ev.filter(F.col("ts") < cut).select("event_type", "value")
    cur = ev.filter(F.col("ts") >= cut).select("event_type", "value")
    # value_scale=2: events.value is exactly 2 dp, so binning compares
    # integer cents — immune to the 1-ulp lerp divergence when a decile
    # edge lands exactly on a repeated value (sf1 regression)
    out = psi_drift(
        ref, cur, "value", keys=["event_type"], n_bins=10, value_scale=2
    )
    # guarded floor quantizer, NOT round(): sf1 landed one key's psi on
    # an exact .5 tie at the 6th digit, where Spark HALF_UP and DuckDB
    # half-even disagree even on bit-identical doubles; the +1e-6 guard
    # (scaled domain) additionally absorbs the ln() libm-vs-JVM ulp
    # wiggle that plain floor is still exposed to at a boundary
    _inf = F.lit(float("inf"))
    psi_q = F.when(F.col("psi") == _inf, _inf).otherwise(
        F.floor(F.col("psi") * 1e6 + F.lit(1e-6)).cast("double") / 1e6
    )
    return out.select(
        "event_type", psi_q.alias("psi"), "n_ref", "n_cur"
    )


@q(
    "text_bpe_tokenize",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         x -> x != '') AS t,
             length(regexp_replace(lower(text), '\\s', '', 'g')) AS n_chars_nows
      FROM documents)
    SELECT doc_id,
           array_to_string(list_transform(t, w -> w || '</w>'), '') AS detok,
           TRUE AS bounds_ok
    FROM toks
    """,
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE subword tokenization (operators/bpe.py, Sennrich 2016):
    merges train DRIVER-SIDE on the corpus word-frequency dict (one
    Spark pass — the dict is Heaps-law bounded), application is one
    Arrow pass with word-level memoization.  The oracle value-checks
    the LOSSLESS-SEGMENTATION identity — concatenating a doc's subword
    tokens must reproduce its lowercased words with </w> boundaries —
    and the token count rides as a bounded invariant (≥ words, ≤
    non-space chars + words; iterative merge learning itself is not
    SQL-expressible)."""
    from .operators.bpe import bpe_apply, bpe_train, word_frequencies

    d = _t(spark, sf_dir, "documents")
    merges = bpe_train(word_frequencies(d), num_merges=120)
    enc = bpe_apply(d, merges)
    toks = d.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.trim(F.lower("text")), "\\s+"), lambda x: x != ""
            )
        ).alias("n_words"),
        F.length(F.regexp_replace(F.lower("text"), "\\s", "")).alias("n_chars"),
    )
    return (
        enc.join(toks, "doc_id")
        .select(
            "doc_id",
            F.concat_ws("", "bpe_tokens").alias("detok"),
            (
                (F.col("n_bpe") >= F.col("n_words"))
                & (F.col("n_bpe") <= F.col("n_chars") + F.col("n_words"))
            ).alias("bounds_ok"),
        )
    )


@q(
    "approx_cm_frequency",
    oracle="""
    WITH ds AS (SELECT unnest([0,1,2,3]) AS d),
    us AS (SELECT unnest([1,2,3,4,5]) AS u),
    counters AS (
      SELECT ds.d AS depth,
             ('0x' || substr(md5(ds.d::VARCHAR || ':' || e.user_id::VARCHAR),
                             1, 8))::BIGINT % 256 AS slot,
             count(*) AS n
      FROM events e CROSS JOIN ds
      GROUP BY 1, 2),
    probes AS (
      SELECT us.u::VARCHAR AS key, ds.d AS depth,
             ('0x' || substr(md5(ds.d::VARCHAR || ':' || us.u::VARCHAR),
                             1, 8))::BIGINT % 256 AS slot
      FROM us CROSS JOIN ds),
    est AS (
      SELECT p.key, min(coalesce(c.n, 0)) AS est
      FROM probes p LEFT JOIN counters c
        ON p.depth = c.depth AND p.slot = c.slot
      GROUP BY 1),
    exact AS (
      SELECT user_id::VARCHAR AS key, count(*) AS exact_n
      FROM events WHERE user_id IN (1, 2, 3, 4, 5) GROUP BY 1)
    SELECT e.key, coalesce(x.exact_n, 0) AS exact_n, e.est,
           e.est >= coalesce(x.exact_n, 0) AS never_undercounts
    FROM est e LEFT JOIN exact x ON e.key = x.key
    """,
)
def approx_cm_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries (operators/sketch.cm_sketch /
    cm_estimate): a FIXED 4x256 counter table answers per-key frequency
    estimates without rescanning the data, and merges across
    batches/partitions by slot-wise sum.  md5 slots make the sketch
    fully SQL-expressible, so — unusually for a sketch — the oracle
    value-checks the ESTIMATES themselves, plus the one-sided
    never-undercounts guarantee."""
    from .operators.sketch import cm_estimate, cm_sketch

    ev = _t(spark, sf_dir, "events")
    counters = cm_sketch(ev, "user_id")
    est = cm_estimate(counters, [1, 2, 3, 4, 5], key_name="key")
    exact = (
        ev.filter(F.col("user_id").isin([1, 2, 3, 4, 5]))
        .groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return (
        est.join(exact, "key", "left")
        .na.fill({"exact_n": 0})
        .select(
            "key",
            "exact_n",
            "est",
            (F.col("est") >= F.col("exact_n")).alias("never_undercounts"),
        )
    )


@q(
    "approx_hll_mergeable_rollup",
    oracle="""
    SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
           count(DISTINCT user_id) AS exact_u,
           TRUE AS err_ok
    FROM events GROUP BY 1
    """,
)
def approx_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-sketch rollup — THE at-scale distinct-count pattern:
    per-day HLL sketches (datasketches hll_sketch_agg) merge into
    weekly estimates via hll_union_agg WITHOUT touching row data again;
    a day's sketch is built once and serves every enclosing rollup
    (week/month/campaign), the same associative-carrier contract as
    operators/incremental.py.  Oracle pins the exact weekly distincts
    and the ≤5% HLL error envelope (the estimate itself is
    implementation-defined, so it rides as the err_ok invariant —
    approx_count_distinct precedent)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    weekly = daily.groupBy(
        F.date_trunc("week", F.col("d").cast("timestamp")).alias("wk")
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    exact = ev.groupBy(F.date_trunc("week", "ts").alias("wk")).agg(
        F.count_distinct("user_id").alias("exact_u")
    )
    return weekly.join(exact, "wk").select(
        "wk",
        "exact_u",
        (
            F.abs(F.col("est") - F.col("exact_u"))
            <= F.greatest(F.col("exact_u") * 0.05, F.lit(1.0))
        ).alias("err_ok"),
    )


@q(
    "audit_table_profile",
    oracle="""
    WITH base AS (
      SELECT count(*) AS n,
             count(l_quantity) AS nn_q,
             count(l_extendedprice) AS nn_p,
             count(l_returnflag) AS nn_r,
             CAST(min(l_quantity) AS DOUBLE) AS min_q,
             CAST(max(l_quantity) AS DOUBLE) AS max_q,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_q,
             CAST(min(l_extendedprice) AS DOUBLE) AS min_p,
             CAST(max(l_extendedprice) AS DOUBLE) AS max_p,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE)
               AS sum_p,
             count(DISTINCT l_quantity) AS xd_q,
             count(DISTINCT l_extendedprice) AS xd_p,
             count(DISTINCT l_returnflag) AS xd_r
      FROM lineitem)
    SELECT 'l_quantity' AS column, round(CAST(nn_q AS DOUBLE) / n, 6)
             AS completeness,
           min_q AS min, max_q AS max, round(sum_q / nn_q, 6) AS mean,
           TRUE AS distinct_ok
    FROM base
    UNION ALL
    SELECT 'l_extendedprice', round(CAST(nn_p AS DOUBLE) / n, 6),
           min_p, max_p, round(sum_p / nn_p, 6), TRUE FROM base
    UNION ALL
    SELECT 'l_returnflag', round(CAST(nn_r AS DOUBLE) / n, 6),
           NULL, NULL, NULL, TRUE FROM base
    """,
)
def audit_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling (operators/quality.profile_table,
    Deequ-style): completeness, min/max, decimal-exact mean for every
    profiled column from a SINGLE scan + single aggregate (never one
    job per column), unpivoted to a row per column.  The sketch-based
    distinctness rides as a ≤10%-of-exact invariant (2x the default
    HLL rsd; approx_count_distinct precedent).

    The exact distinct counts for the invariant live IN the plan (1-row
    aggregate broadcast-crossed onto the 3 profile rows) rather than a
    separate driver .first() job — one execution instead of two passes
    over lineitem (r5; was ~half this query's bench cost)."""
    from .operators.quality import profile_table

    li = _t(spark, sf_dir, "lineitem")
    prof = profile_table(
        li,
        numeric_cols=["l_quantity", "l_extendedprice"],
        string_cols=["l_returnflag"],
    )
    exact = li.agg(
        F.count_distinct("l_quantity").alias("_xd_q"),
        F.count_distinct("l_extendedprice").alias("_xd_p"),
        F.count_distinct("l_returnflag").alias("_xd_r"),
    )
    prof = prof.crossJoin(F.broadcast(exact))
    exact_map = F.create_map(
        F.lit("l_quantity"), F.col("_xd_q"),
        F.lit("l_extendedprice"), F.col("_xd_p"),
        F.lit("l_returnflag"), F.col("_xd_r"),
    )
    xd = exact_map[F.col("column")]
    return prof.select(
        "column",
        F.round("completeness", 6).alias("completeness"),
        "min",
        "max",
        F.round("mean", 6).alias("mean"),
        (
            # default HLL rsd is 5% (one sigma) — gate at 2 sigma
            F.abs(F.col("approx_distinct") - xd)
            <= F.greatest(xd.cast("double") * 0.10, F.lit(1.0))
        ).alias("distinct_ok"),
    )


@q(
    "similarity_ann_join",
    oracle="""
    WITH l AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
               WHERE vec_id % 100 = 0),
    r AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    scored AS (
      SELECT l.vec_id AS lid, r.vec_id AS rid,
             list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> l.e[i] * r.e[i])), (x, y) -> x + y)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> l.e[i] * l.e[i])), (x, y) -> x + y))
                * sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                    i -> r.e[i] * r.e[i])), (x, y) -> x + y))) AS cos
      FROM l JOIN r ON l.vec_id != r.vec_id),
    best AS (
      SELECT lid, rid FROM (
        SELECT lid, rid,
               row_number() OVER (PARTITION BY lid
                                  ORDER BY cos DESC, rid) AS rn
        FROM scored) WHERE rn = 1)
    SELECT array_to_string(list_transform(list_sort(list(lid || ':' || rid)),
               x -> x::VARCHAR), '|') AS exact_pairs,
           TRUE AS recall_ok
    FROM best
    """,
)
def similarity_ann_join_q(
    spark: SparkSession, sf_dir: str, exact_verify_max_rows: int = 100_000
) -> DataFrame:
    """Approximate k-NN JOIN (operators/similarity.ann_join): every 100th
    vector retrieves its nearest neighbor from the full corpus through
    the IVF cell join — bounded candidates, never a cross product.
    Invariant the oracle reproduces: the exact top-1 pair list (both
    engines compute it exactly) plus ANN recall@1 >= 0.6 over those
    queries (measured 1.0 @ sf0.01, 0.78 @ sf0.1 with c=8, p=4).

    The exact side exists ONLY to verify the ANN result against the
    oracle; it is a (corpus/100) x corpus product that cannot run at
    100 TB.  Above ``exact_verify_max_rows`` vectors it is dropped from
    the plan entirely (sketch.py's size-gate discipline): the same
    schema comes back with a BOUNDED digest of the ANN pairs in
    ``exact_pairs`` ("n=<count>;h=<order-independent xxhash64 sum>" —
    constant-size, map-side-combinable; NOT the pair list itself, which
    would be an unbounded single-row string aggregate) and ``recall_ok``
    NULL (= unverified).  The regime probe is a limit-probe over the id
    column (scans at most gate+1 rows of one column), not a full
    count().  sf0.01/sf0.1 sit far below the gate, so driver-scored
    behavior is unchanged."""
    from pyspark.sql.window import Window as _W

    from .operators.similarity import ann_join

    e = _t(spark, sf_dir, "embeddings")
    lq = e.filter(F.col("vec_id") % 100 == 0)
    ann = (
        ann_join(lq, e, k=2, n_centroids=8, n_probes=4, dim=64)
        .where(F.col("left_vec_id") != F.col("right_vec_id"))
        .withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("left_vec_id")
                .orderBy(F.col("cos").desc(), F.col("right_vec_id"))
            ),
        )
        .where(F.col("rn") == 1)
        .select(
            F.col("left_vec_id").alias("lid"),
            F.col("right_vec_id").alias("ann_rid"),
        )
    )
    probe = e.select("vec_id").limit(exact_verify_max_rows + 1).count()
    if probe > exact_verify_max_rows:
        return ann.agg(
            F.concat_ws(
                ";",
                F.concat(F.lit("n="), F.count(F.lit(1))),
                F.concat(
                    F.lit("h="),
                    F.sum(
                        F.xxhash64(
                            F.concat_ws(":", F.col("lid"), F.col("ann_rid"))
                        )
                    ),
                ),
            ).alias("exact_pairs"),
            F.lit(None).cast("boolean").alias("recall_ok"),
        )
    from .operators.similarity import brute_force_top1_ids

    # exact top-1 per query via the numpy block kernel (bit-identical
    # IEEE fold to the former crossjoin + unrolled-cosine + window form
    # — see brute_force_top1_ids): the |queries| x corpus pair matrix
    # never materializes as rows, only per-block winners flow (guide §8
    # proxy discipline); replaces a 4M-row codegen cosine + full-pair
    # window shuffle at sf0.1
    exact = brute_force_top1_ids(e, lq, max_queries=exact_verify_max_rows)
    j = exact.join(ann, "lid", "left")
    agg = j.agg(
        F.concat_ws(
            "|",
            F.sort_array(
                F.collect_list(
                    F.concat_ws(":", F.col("lid"), F.col("exact_rid"))
                )
            ),
        ).alias("exact_pairs"),
        (
            F.sum(
                (F.col("ann_rid") == F.col("exact_rid")).cast("int")
            )
            / F.count(F.lit(1))
            >= 0.6
        ).alias("recall_ok"),
    )
    return agg


@q(
    "events_seasonal_residuals",
    oracle="""
    WITH prof AS (
      SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hr,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*)
               AS expected
      FROM events GROUP BY 1, 2, 3),
    r AS (
      SELECT e.event_id, e.event_type,
             round(p.expected, 6) AS expected,
             round(e.value - p.expected, 6) AS residual
      FROM events e JOIN prof p
        ON e.event_type = p.event_type
       AND dayofweek(e.ts) = p.dow AND hour(e.ts) = p.hr)
    SELECT event_id, event_type, expected, residual
    FROM r ORDER BY abs(residual) DESC, event_id LIMIT 20
    """,
)
def events_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality de-trending (operators/stats.seasonal_baseline):
    expected value per (type, dow, hour) from a bounded broadcast
    profile, residual as a codegen projection, top-20 absolute
    residuals via TakeOrdered — the de-seasonalized anomaly feed.
    DuckDB dayofweek() is 0-6 Sunday-first vs Spark's 1-7; both only
    key the profile, so the cells align without translation."""
    from .operators.stats import seasonal_baseline

    ev = _t(spark, sf_dir, "events")
    r = seasonal_baseline(ev, ["event_type"], "ts", "value")
    return (
        r.select(
            "event_id",
            "event_type",
            F.round("expected", 6).alias("expected"),
            F.round(F.col("value") - F.col("expected"), 6).alias("residual"),
        )
        .orderBy(
            # order on the ROUNDED residual, matching the oracle's sort
            # key exactly — otherwise rounding collapses near-ties
            # differently across engines
            F.abs(F.round(F.col("residual"), 6)).desc(),
            "event_id",
        )
        .limit(20)
    )


@q(
    "dedup_graph_triangles",
    oracle=f"""
    WITH {_DK_LSH_PAIRS}
    SELECT count(*)::BIGINT AS triangles
    FROM pairs p1
    JOIN pairs p2 ON p1.id_a = p2.id_a AND p1.id_b < p2.id_b
    JOIN pairs p3 ON p3.id_a = p1.id_b AND p3.id_b = p2.id_b
    """,
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the MinHash-LSH near-dup graph
    (operators/graph.triangle_count): dense template clusters close
    triangles, incremental-edit chains do not — the structural signal
    separating the two dedup policies.  Degree-ordered orientation
    bounds the two-path join by arboricity (hub-proof); the oracle
    enumerates a<b<c triangles directly."""
    from .operators.graph import triangle_count

    pairs = _lsh_pairs(spark, sf_dir)
    return triangle_count(pairs)


@q(
    "audit_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 3 != 0),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 5 = 0
                  THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 != 0),
    j AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
             o.o_orderkey IS NULL AS only_new,
             n.o_orderkey IS NULL AS only_old,
             (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus) AS d_status,
             (o.o_totalprice IS DISTINCT FROM n.o_totalprice) AS d_price
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey)
    SELECT CASE WHEN only_new THEN 'added'
                WHEN only_old THEN 'removed'
                WHEN d_status OR d_price THEN 'changed'
                ELSE 'unchanged' END AS status,
           count(*) AS n,
           CAST(sum(CASE WHEN NOT only_new AND NOT only_old AND d_status
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_diff_o_orderstatus,
           CAST(sum(CASE WHEN NOT only_new AND NOT only_old AND d_price
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_diff_o_totalprice
    FROM j GROUP BY 1
    """,
)
def audit_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot diff (operators/quality.table_diff): two
    deterministic synthetic runs of the orders pipeline (one drops
    keys, one perturbs prices) roll up to added/removed/changed/
    unchanged with per-column change attribution — one full-outer key
    join + a bounded summary, the CI gate between pipeline runs."""
    from .operators.quality import table_diff

    od = _t(spark, sf_dir, "orders")
    old = od.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = od.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    _, summary = table_diff(old, new, ["o_orderkey"])
    return summary.select(
        "status",
        "n",
        F.coalesce("n_diff_o_orderstatus", F.lit(0)).alias(
            "n_diff_o_orderstatus"
        ),
        F.coalesce("n_diff_o_totalprice", F.lit(0)).alias(
            "n_diff_o_totalprice"
        ),
    )


@q(
    "events_pattern_view_purchase_no_error",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, event_id, event_type,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM events),
    a AS (SELECT user_id, ts, event_id, cum AS ca FROM base
          WHERE event_type = 'view'),
    b0 AS (SELECT user_id, ts AS b_ts, event_id AS b_id, cum AS cb
           FROM base WHERE event_type = 'purchase'),
    b AS (SELECT user_id, b_ts, cb FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, b_ts
                                         ORDER BY b_id) AS rn
            FROM b0) WHERE rn = 1)
    SELECT a.user_id, a.event_id, a.ts,
           l.b_ts IS NOT NULL AS matched,
           coalesce(l.b_ts IS NOT NULL AND l.cb - a.ca > 0, FALSE)
             AS blocked,
           (l.b_ts IS NOT NULL
            AND NOT coalesce(l.cb - a.ca > 0, FALSE)) AS fired,
           round(CASE WHEN l.b_ts IS NOT NULL
                      THEN epoch(l.b_ts) - epoch(a.ts) END, 6) AS gap_s
    FROM a LEFT JOIN LATERAL (
      SELECT b.b_ts, b.cb FROM b
      WHERE b.user_id = a.user_id AND b.b_ts > a.ts
        AND b.b_ts <= a.ts + INTERVAL 1800 seconds
      ORDER BY b.b_ts LIMIT 1) l ON true
    """,
)
def events_pattern_view_purchase_no_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CEP pattern view→purchase within 30 min with no error between
    (operators/funnel.pattern_a_then_b_without_c): the MATCH_RECOGNIZE
    shape as one running-count window + one forward as-of join —
    "no C between" is a subtraction of cumulative deny counts, never
    an interval self-join.  B events dedup to one row per (user, ts)
    so the as-of match is unambiguous under timestamp ties."""
    from pyspark.sql.window import Window as _W

    from .operators.funnel import pattern_a_then_b_without_c

    ev = _t(spark, sf_dir, "events")
    b_first = _W.partitionBy("user_id", "ts").orderBy("event_id")
    dedup_b = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("_rn", F.row_number().over(b_first))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    src = ev.filter(F.col("event_type") != "purchase").unionByName(dedup_b)
    return pattern_a_then_b_without_c(
        src, "view", "purchase", "error", 1800
    )


@q(
    "events_session_funnel",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)) > 1800
                  THEN 1 ELSE 0 END AS ns
      FROM events),
    s AS (
      SELECT user_id, ts, event_type,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM o),
    f1 AS (SELECT user_id, sid, min(ts) AS t1 FROM s
           WHERE event_type = 'view' GROUP BY 1, 2),
    f2 AS (SELECT s.user_id, s.sid, min(s.ts) AS t2
           FROM s JOIN f1 ON s.user_id = f1.user_id AND s.sid = f1.sid
           WHERE s.event_type = 'click' AND s.ts > f1.t1 GROUP BY 1, 2),
    f3 AS (SELECT s.user_id, s.sid, min(s.ts) AS t3
           FROM s JOIN f2 ON s.user_id = f2.user_id AND s.sid = f2.sid
           WHERE s.event_type = 'purchase' AND s.ts > f2.t2 GROUP BY 1, 2),
    c AS (SELECT (SELECT count(*) FROM f1) AS n1,
                 (SELECT count(*) FROM f2) AS n2,
                 (SELECT count(*) FROM f3) AS n3)
    SELECT 1 AS step_no, 'view' AS step, n1 AS n_sessions,
           round(CAST(n1 AS DOUBLE) / n1, 6) AS conversion FROM c
    UNION ALL
    SELECT 2, 'click', n2, round(CAST(n2 AS DOUBLE) / n1, 6) FROM c
    UNION ALL
    SELECT 3, 'purchase', n3, round(CAST(n3 AS DOUBLE) / n1, 6) FROM c
    """,
)
def events_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-session funnel view→click→purchase with a 30-min inactivity
    gap (operators/funnel.session_funnel): gap-rule session ids from
    one lag+running-sum window, then funnel_times verbatim on the
    composite (user, session) key — conversion within one visit, the
    number product analytics reports."""
    from .operators.funnel import session_funnel

    ev = _t(spark, sf_dir, "events")
    return session_funnel(ev, ["view", "click", "purchase"], 1800)


@q(
    "events_dau_wau_stickiness",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day FROM act),
    dau AS (SELECT day, count(*) AS dau FROM act GROUP BY 1),
    wau AS (
      SELECT d.day, count(DISTINCT a.user_id) AS wau
      FROM days d JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
      GROUP BY 1)
    SELECT d.day, dau.dau, wau.wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM days d JOIN dau ON d.day = dau.day JOIN wau ON d.day = wau.day
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness — the product-analytics
    headline metric.  Scale shape: activity reduces to DISTINCT
    (user, day) FIRST (the only corpus-sized pass); each activity day
    then EXPLODES into the ≤7 window days it serves (bounded fan-out,
    no day×activity range join, no per-day rescans) and one
    count_distinct per day finishes.  The day spine semi-gates the
    explode so partial leading windows match the oracle's clipped
    BETWEEN join.

    The activity projection feeds three branches (day spine, WAU
    explode, DAU counts); without a lineage cut each re-scans events
    (measured: 3 scans).  A cut materializes the distinct (user, day)
    frame — far smaller than raw events — once."""
    ev = _t(spark, sf_dir, "events")
    act = cut(ev.select("user_id", F.to_date("ts").alias("day")).distinct())
    days = act.select("day").distinct()
    contrib = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday"),
    ).join(F.broadcast(days.withColumnRenamed("day", "wday")), "wday", "left_semi")
    wau = contrib.groupBy(F.col("wday").alias("day")).agg(
        F.count_distinct("user_id").alias("wau")
    )
    dau = act.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


@q(
    "events_type_cooccurrence_lift",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    singles AS (SELECT event_type, count(*) AS c FROM ut GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS c_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT p.t1, p.t2, p.c_ab,
           round((CAST(p.c_ab AS DOUBLE) / n.n_users)
                 / ((CAST(s1.c AS DOUBLE) / n.n_users)
                    * (CAST(s2.c AS DOUBLE) / n.n_users)), 6) AS lift
    FROM pairs p
    JOIN singles s1 ON p.t1 = s1.event_type
    JOIN singles s2 ON p.t2 = s2.event_type
    CROSS JOIN n
    """,
)
def events_type_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association lift between event types (market-basket shape):
    co-occurrence counted over the DISTINCT (user, type) projection —
    the self-join runs on the reduced frame (users × ≤|types|), never
    raw events; lift = P(ab)/(P(a)P(b)) from one broadcast singles dim
    and a 1-row user total.  Bounded output: type-pair matrix.

    Scale shape (r5): ONE user-keyed exchange builds per-user type
    SETS; a single bounded explode then emits a user marker, the
    singles, and the ordered pairs as (t1, t2) rows (≤ 1 + T + T(T-1)/2
    per user, JVM higher-order fns over a tiny array), so one tiny
    (t1, t2) count yields n_users (both null), the singles dim (t2
    null) and the pair counts — replacing the r4 distinct + self-join +
    second-distinct-count topology (7 shuffles -> 2 data exchanges +
    broadcast assembly of the bounded matrix)."""
    ev = _t(spark, sf_dir, "events")
    nul = F.lit(None).cast("string")
    usets = ev.groupBy("user_id").agg(F.collect_set("event_type").alias("ts"))
    marker = F.array(F.struct(nul.alias("t1"), nul.alias("t2")))
    single_arr = F.transform(
        F.col("ts"), lambda x: F.struct(x.alias("t1"), nul.alias("t2"))
    )
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("ts"),
                lambda x: F.transform(
                    F.col("ts"),
                    lambda y: F.struct(x.alias("t1"), y.alias("t2")),
                ),
            )
        ),
        lambda s: s["t1"] < s["t2"],
    )
    # 4 downstream legs (pairs, two singles dims, total) — cut the
    # lineage so the 2-exchange count job runs ONCE, not per leg (the
    # frame is ≤ 1+T+T² rows)
    counts = cut(
        usets.select(
            F.explode(F.concat(marker, single_arr, pair_arr)).alias("p")
        )
        .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = counts.where(
        F.col("t1").isNotNull() & F.col("t2").isNotNull()
    ).select("t1", "t2", F.col("c").alias("c_ab"))
    singles = counts.where(
        F.col("t1").isNotNull() & F.col("t2").isNull()
    ).select("t1", "c")
    s1 = singles.select("t1", F.col("c").alias("c1"))
    s2 = singles.select(F.col("t1").alias("t2"), F.col("c").alias("c2"))
    total = counts.where(F.col("t1").isNull()).select(
        F.col("c").cast("double").alias("nu")
    )
    return (
        pairs.join(F.broadcast(s1), "t1")
        .join(F.broadcast(s2), "t2")
        .crossJoin(F.broadcast(total))
        .select(
            "t1",
            "t2",
            "c_ab",
            F.round(
                (F.col("c_ab").cast("double") / F.col("nu"))
                / (
                    (F.col("c1").cast("double") / F.col("nu"))
                    * (F.col("c2").cast("double") / F.col("nu"))
                ),
                6,
            ).alias("lift"),
        )
    )


@q(
    "corpus_weighted_median_length",
    oracle="""
    WITH t AS (
      SELECT lang, n_chars,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> x != '')) AS toks
      FROM documents),
    cum AS (
      SELECT lang, n_chars, toks,
             sum(toks) OVER (PARTITION BY lang ORDER BY n_chars
                             ROWS UNBOUNDED PRECEDING) AS cw,
             sum(toks) OVER (PARTITION BY lang) AS tw
      FROM t)
    SELECT lang, min(n_chars) AS weighted_median
    FROM cum WHERE cw * 2 >= tw GROUP BY lang
    """,
)
def corpus_weighted_median_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass-weighted median document length per language
    (operators/sketch.weighted_median): the length at which half the
    language's TOKEN MASS sits — the budget-relevant center, where the
    unweighted median over-counts short docs.  One value-ordered
    window + broadcast totals, all-integer comparisons.

    Tie contract: duplicate n_chars values make the running sum
    order-dependent WITHIN the tie group, but the reported minimum
    qualifying VALUE is order-free — any permutation of a tie block
    crosses the half-mass threshold inside the same block."""
    from .operators.sketch import weighted_median
    from .operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    t = d.select("lang", "n_chars", token_count("text").alias("toks"))
    return weighted_median(t, "n_chars", "toks", keys=["lang"])


@q(
    "events_interarrival_burstiness",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events),
    m AS (
      SELECT user_id,
             count(gap_us) AS n_gaps,
             sum(CAST(gap_us AS DECIMAL(38,0))) AS s1,
             sum(CAST(gap_us AS DECIMAL(38,0))
                 * CAST(gap_us AS DECIMAL(38,0))) AS s2
      FROM g WHERE gap_us IS NOT NULL GROUP BY 1)
    SELECT user_id, n_gaps,
           floor(CAST(s1 AS DOUBLE) / n_gaps / 1e6 * 1e6) / 1e6
             AS mean_gap_s,
           floor(sqrt(greatest(CAST(s2 AS DOUBLE) / n_gaps
                 - (CAST(s1 AS DOUBLE) / n_gaps)
                   * (CAST(s1 AS DOUBLE) / n_gaps), 0.0))
                 / (CAST(s1 AS DOUBLE) / n_gaps) * 1e6) / 1e6 AS cv
    FROM m WHERE n_gaps >= 2
    """,
)
def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user (bot/abuse detection shape):
    µs gaps from one key-local lag window, then DECIMAL-exact first and
    second moments (the stats.moment_stats discipline — float stddev
    aggregation is order-dependent; exact integer moments are not) →
    mean gap and coefficient of variation.  CV≈1 is Poisson traffic,
    ≫1 bursty, ≪1 metronomic — automation."""
    from pyspark.sql.window import Window as _W

    ev = _t(spark, sf_dir, "events")
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    d = F.col("gap_us").cast("decimal(38,0)")
    m = g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_gaps")
    var = F.greatest(
        F.col("s2").cast("double") / F.col("n_gaps") - mean * mean,
        F.lit(0.0),
    )
    # floor-scaling instead of round: both engines compute the SAME
    # double (fixed-order ops over exact integer moments), but their
    # round() tie algorithms differ on boundary values (observed at
    # sf0.1: ...0425 rounding to ...042 vs ...043).  floor of an
    # identical double is identical everywhere.
    return (
        m.where(F.col("n_gaps") >= 2)
        .select(
            "user_id",
            "n_gaps",
            (F.floor(mean / F.lit(1e6) * F.lit(1e6)) / F.lit(1e6)).alias(
                "mean_gap_s"
            ),
            (F.floor(F.sqrt(var) / mean * F.lit(1e6)) / F.lit(1e6)).alias(
                "cv"
            ),
        )
    )


@q(
    "dataset_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_DK_LSH_PAIRS},
    und AS (SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT und.v, reach.r FROM reach JOIN und ON und.u = reach.node),
    cc AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    lab AS (
      SELECT d.doc_id, coalesce(cc.component, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
    split AS (
      SELECT doc_id, cluster_id,
             CASE WHEN b < 800 THEN 'train'
                  WHEN b < 900 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id, cluster_id,
                   ('0x' || substr(md5(cluster_id::VARCHAR), 1, 4))::INT
                     % 1000 AS b
            FROM lab)),
    audit AS (
      SELECT cluster_id, count(DISTINCT split) AS n_splits
      FROM split GROUP BY 1)
    SELECT s.split, count(*) AS docs,
           bool_and(a.n_splits = 1) AS leakage_free
    FROM split s JOIN audit a ON s.cluster_id = a.cluster_id
    GROUP BY 1
    """,
)
def dataset_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-proof train/val/test split: hash_split keyed on the
    NEAR-DUP CLUSTER id, not the document id — a near-duplicate of a
    test document can never land in train (the eval-hygiene trap
    plain doc-id splits fall into).  Composition of the verified
    pieces: LSH pairs → connected components → md5 bucket split on the
    cluster label; the oracle additionally proves every cluster lands
    in exactly one split (leakage_free)."""
    from .operators.dataset import hash_split
    from .operators.graph import dedup_clusters

    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    pairs = _lsh_pairs(spark, sf_dir)
    lab = dedup_clusters(d.select("doc_id"), pairs)
    split = lab.select(
        "doc_id", "cluster_id", hash_split("cluster_id")
    )
    # audit rides the SAME cluster_id exchange as the split frame: a
    # collect_set window instead of the former groupBy + self-join
    # (which consumed `lab` twice — the whole LSH+connected-components
    # subtree re-ran per branch — and cost 8 exchanges; now <=5)
    n_splits = F.size(
        F.collect_set("split").over(Window.partitionBy("cluster_id"))
    )
    return (
        split.withColumn("n_splits", n_splits)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            (F.max("n_splits") == 1).alias("leakage_free"),
        )
    )


@q(
    "dedup_graph_clustering_coefficient",
    oracle=f"""
    WITH {_DK_LSH_PAIRS},
    tri AS (
      SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
      FROM pairs p1
      JOIN pairs p2 ON p1.id_a = p2.id_a AND p1.id_b < p2.id_b
      JOIN pairs p3 ON p3.id_a = p1.id_b AND p3.id_b = p2.id_b),
    node_tri AS (
      SELECT n, count(*) AS triangles
      FROM (SELECT unnest([a, b, c]) AS n FROM tri) GROUP BY 1),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT id_a AS n FROM pairs UNION ALL SELECT id_b FROM pairs)
      GROUP BY 1)
    SELECT deg.n AS node, deg.d AS degree,
           coalesce(t.triangles, 0)::BIGINT AS triangles,
           CASE WHEN deg.d >= 2
                THEN round(coalesce(t.triangles, 0) * 2.0
                           / (deg.d * (deg.d - 1.0)), 6)
                ELSE 0.0 END AS coefficient
    FROM deg LEFT JOIN node_tri t ON deg.n = t.n
    """,
)
def dedup_graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-node clustering coefficient over the near-dup graph
    (operators/graph.clustering_coefficient): ≈1 marks template-family
    cliques (dedup the whole family), ≈0 marks drift chains (keep the
    endpoints) — the per-document refinement of dedup_graph_triangles'
    corpus signal.  Same arboricity-bounded oriented join."""
    from .operators.graph import clustering_coefficient

    pairs = _lsh_pairs(spark, sf_dir)
    return clustering_coefficient(pairs)


@q(
    "embedding_standardize",
    oracle="""
    WITH ex AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             CAST(floor(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT)
               AS q
      FROM embeddings),
    st AS (
      SELECT d, count(*) AS n, sum(q) AS s1, sum(q * q) AS s2
      FROM ex GROUP BY 1),
    sd AS (
      SELECT d,
             CAST(s1 AS DOUBLE) / n / 1000000.0 AS m,
             sqrt(CAST(s2 AS DOUBLE) / n / 1000000000000.0
                  - (CAST(s1 AS DOUBLE) / n / 1000000.0)
                    * (CAST(s1 AS DOUBLE) / n / 1000000.0)) AS sdev
      FROM st),
    z AS (
      SELECT ex.vec_id, ex.d,
             (ex.q / 1000000.0 - sd.m) / sd.sdev AS z
      FROM ex JOIN sd ON ex.d = sd.d)
    SELECT vec_id,
           round(max(CASE WHEN d = 0 THEN z END), 6) AS z0,
           round(max(CASE WHEN d = 1 THEN z END), 6) AS z1,
           round(max(CASE WHEN d = 2 THEN z END), 6) AS z2,
           round(max(CASE WHEN d = 3 THEN z END), 6) AS z3
    FROM z GROUP BY 1
    """,
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-standardization (operators/similarity.
    standardize_embeddings): fixed-point exact moments per coordinate
    (embedding_centroids discipline — order-free integer sums), then a
    fixed float expression per row; the whitening-lite step before
    variance-sensitive ANN/clustering.  First four standardized
    coordinates value-checked to 6 dp."""
    from .operators.similarity import standardize_embeddings

    e = _t(spark, sf_dir, "embeddings")
    zdf = standardize_embeddings(e)
    return zdf.select(
        "vec_id",
        *[
            F.round(F.element_at("z", i + 1), 6).alias(f"z{i}")
            for i in range(4)
        ],
    )


@q(
    "mart_monthly_region_revenue",
    oracle="""
    SELECT r.r_name AS region,
           CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
           count(DISTINCT o.o_orderkey) AS orders
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def mart_monthly_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue mart per region: the everyday reporting rollup —
    snowflake dims broadcast (region→nation→customer), ONE fact-keyed
    shuffle for the orderkey join, calendar month via date_trunc,
    DECIMAL-exact money.  The shape a BI layer refreshes hourly at any
    scale."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    dims = (
        cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
        .select("c_custkey", "r_name")
    )
    rev = _dec2dbl(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 22, 6
    )
    # pre-aggregate revenue per order BEFORE the join: the orderkey
    # hash aggregate reduces the fact rows map-side, and because each
    # orderkey then appears exactly once, count(DISTINCT o_orderkey)
    # becomes a plain count(1) — dropping the planner's distinct-
    # aggregate Expand (2 extra aggregate phases + an exchange over
    # (region, month, orderkey)).  Decimal sums are order-independent:
    # sum of per-order decimal sums == the flat decimal sum, bit-exact.
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("_rev"))
    return (
        per_order.join(od, per_order.l_orderkey == od.o_orderkey)
        .join(F.broadcast(dims), od.o_custkey == F.col("c_custkey"))
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_trunc("month", "o_orderdate").alias("month"),
        )
        .agg(
            F.sum("_rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("orders"),
        )
    )


@q(
    "events_weekly_value_bands",
    oracle="""
    -- explicit Spark-formula lerp instead of quantile_cont: the r7 30x
    -- sweep caught DuckDB's interpolation 1 ulp off Spark's on tied
    -- 2-dp values (114.02 vs 114.02000000000001 — the quantile-edge
    -- tie class).  Spark's exact percentile is
    --   pos = p*(n-1); l = floor(pos); h = ceil(pos);
    --   l = h -> v[l]  else  (h-pos)*v[l] + (pos-l)*v[h]
    -- replicated below operand-for-operand so both engines run the
    -- same IEEE ops on the same exact inputs.
    WITH g AS (
      SELECT event_type,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
             value,
             row_number() OVER (PARTITION BY event_type, date_trunc('week', ts)
                                ORDER BY value) - 1 AS r,
             count(*) OVER (PARTITION BY event_type, date_trunc('week', ts)) AS n
      FROM events),
    e AS (
      SELECT event_type, week, r, value,
             -- ::DOUBLE is load-bearing: a bare 0.9 literal is DECIMAL
             -- in DuckDB, and decimal positions round differently
             CAST(0.5 AS DOUBLE) * (n - 1) AS pos50,
             CAST(0.9 AS DOUBLE) * (n - 1) AS pos90
      FROM g),
    agg AS (
      SELECT event_type, week,
             max(pos50) AS pos50, max(pos90) AS pos90,
             max(CASE WHEN r = CAST(floor(pos50) AS BIGINT) THEN value END) AS lo50,
             max(CASE WHEN r = CAST(ceil(pos50)  AS BIGINT) THEN value END) AS hi50,
             max(CASE WHEN r = CAST(floor(pos90) AS BIGINT) THEN value END) AS lo90,
             max(CASE WHEN r = CAST(ceil(pos90)  AS BIGINT) THEN value END) AS hi90
      FROM e GROUP BY 1, 2)
    SELECT event_type, week,
           -- lo = hi is Spark's tie shortcut (equal neighbor values
           -- return the value exactly, no lerp)
           CASE WHEN floor(pos50) = ceil(pos50) OR lo50 = hi50 THEN lo50
                ELSE lo50 * (ceil(pos50) - pos50)
                     + hi50 * (pos50 - floor(pos50)) END AS p50,
           CASE WHEN floor(pos90) = ceil(pos90) OR lo90 = hi90 THEN lo90
                ELSE lo90 * (ceil(pos90) - pos90)
                     + hi90 * (pos90 - floor(pos90)) END AS p90
    FROM agg
    """,
)
def events_weekly_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly p50/p90 bands per event type — the SLO/alerting
    percentile-over-time readout: group_percentiles (exact regime)
    composed with calendar weeks; the percentile operator's time-series
    form."""
    from .operators.sketch import group_percentiles

    ev = _t(spark, sf_dir, "events").withColumn(
        "week", F.date_trunc("week", "ts")
    )
    return group_percentiles(
        ev,
        ["event_type", "week"],
        {"value": [(0.5, "p50"), (0.9, "p90")]},
        mode="exact",
        # near-unique continuous values on a small input: the frequency
        # pre-aggregate buys no reduction here (measured slower) — keep
        # the direct single-aggregate plan
        compress=False,
    )


@q(
    "corpus_gopher_keep_rate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x != '') AS t,
             string_split(text, chr(10)) AS lines
      FROM documents),
    feat AS (
      SELECT doc_id, source,
        len(t) AS n_words,
        CASE WHEN len(t) > 0
             THEN list_reduce(list_prepend(0::BIGINT,
                    list_transform(t, w -> length(w))), (a, b) -> a + b)
                  / len(t)
             ELSE 0.0 END AS mwl,
        len(regexp_extract_all(text, '[#…]'))
          + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym,
        greatest(len(lines), 1) AS n_lines,
        len(list_filter(lines,
            ln -> regexp_matches(trim(ln), '^([-*•])'))) AS bullet_lines,
        len(list_filter(lines,
            ln -> regexp_matches(trim(ln), '(\\.\\.\\.|…)$')))
          AS ellipsis_lines,
        len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]')))
          AS alpha_words,
        len(list_filter(['the','be','to','of','and','that','have','with'],
            sw -> list_contains(list_transform(t, x -> lower(x)), sw)))
          AS stop_hits
      FROM toks),
    k AS (
      SELECT source,
             ((n_words >= 50 AND n_words <= 100000)
              AND (mwl >= 3.0 AND mwl <= 10.0)
              AND (CAST(n_sym AS DOUBLE) / greatest(n_words, 1) <= 0.1)
              AND (CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9)
              AND (CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3)
              AND (CAST(alpha_words AS DOUBLE) / greatest(n_words, 1)
                   >= 0.8)
              AND (stop_hits >= 2)) AS keep
      FROM feat)
    SELECT source, count(*) AS docs,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS keep_rate
    FROM k GROUP BY 1
    """,
)
def corpus_gopher_keep_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gopher keep rate — the number a crawl operator reads
    before buying more of a source: gopher_rules' conjunctive keep
    rolled up by origin.  Same fused zero-shuffle flag projection, one
    bounded groupBy."""
    from .operators.text import gopher_rules

    d = _t(spark, sf_dir, "documents").withColumn("g", gopher_rules("text"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col("g.keep").cast("int")).alias("kept"),
        )
        .select(
            "source",
            "docs",
            "kept",
            F.round(
                F.col("kept").cast("double") / F.col("docs"), 6
            ).alias("keep_rate"),
        )
    )


@q(
    "text_hashed_features",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DK_TOKS.format(src=_DK_NORM)}) AS tok
      FROM documents),
    b AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % 16 AS bkt
      FROM toks),
    h AS (
      SELECT doc_id, histogram(bkt) AS m, count(*) AS n_tokens
      FROM b GROUP BY 1),
    v AS (
      SELECT doc_id,
             list_transform(range(0, 16),
               i -> CAST(coalesce(m[i][1], 0) AS BIGINT)) AS f,
             n_tokens
      FROM h)
    SELECT d.doc_id,
           coalesce(array_to_string(v.f, '|'),
                    '0|0|0|0|0|0|0|0|0|0|0|0|0|0|0|0') AS features,
           coalesce(v.n_tokens, 0)::BIGINT AS n_tokens
    FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
    """,
)
def text_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (operators/text.hashed_features, Weinberger
    2009): vocabulary-free fixed-width count vectors via md5 token
    buckets — no dictionary build, no fitting pass, never grows with
    corpus size.  md5 bucketing makes the vectors exactly reproducible,
    so — unusually for a featurizer — the oracle value-checks every
    coordinate (projected through '|' join for the hash compare)."""
    from .operators.text import hashed_features

    d = _t(spark, sf_dir, "documents")
    out = hashed_features(d, dim=16)
    return out.select(
        "doc_id",
        F.concat_ws("|", F.col("features").cast("array<string>")).alias(
            "features"
        ),
        "n_tokens",
    )


@q(
    "events_audience_overlap_hll",
    oracle="""
    WITH pairs AS (
      SELECT a.t1, b.t2 FROM
        (SELECT unnest(['view','click','purchase']) AS t1) a
        CROSS JOIN (SELECT unnest(['view','click','purchase']) AS t2) b
      WHERE a.t1 < b.t2),
    x AS (
      SELECT p.t1, p.t2,
             (SELECT count(DISTINCT user_id) FROM events
              WHERE event_type = p.t1) AS na,
             (SELECT count(DISTINCT user_id) FROM events
              WHERE event_type = p.t2) AS nb,
             (SELECT count(*) FROM
                (SELECT DISTINCT e1.user_id FROM events e1
                 WHERE e1.event_type = p.t1
                 AND EXISTS (SELECT 1 FROM events e2
                             WHERE e2.event_type = p.t2
                               AND e2.user_id = e1.user_id))) AS nab
      FROM pairs p)
    SELECT t1, t2, na AS exact_a, nb AS exact_b, nab AS exact_overlap,
           TRUE AS est_ok
    FROM x
    """,
)
def events_audience_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via HLL inclusion-exclusion: |A∩B| ≈ |A| + |B|
    − |A∪B|, where every term comes from MERGEABLE per-type sketches
    (hll_sketch_agg once per type; unions via hll_union) — overlap for
    ALL type pairs from one sketch table, no per-pair distinct scans.
    The estimate rides as a ±15%-of-exact invariant (inclusion-
    exclusion compounds the two sketches' error; exact values are the
    checked columns, approx_count_distinct precedent)."""
    types = ["view", "click", "purchase"]
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isin(types))
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_n"),
    )
    a = sk.select(
        F.col("event_type").alias("t1"),
        F.col("sk").alias("sk_a"),
        F.col("exact_n").alias("exact_a"),
    )
    b = sk.select(
        F.col("event_type").alias("t2"),
        F.col("sk").alias("sk_b"),
        F.col("exact_n").alias("exact_b"),
    )
    pairs = a.crossJoin(b).where(F.col("t1") < F.col("t2"))
    est_union = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    est_overlap = (
        F.hll_sketch_estimate("sk_a")
        + F.hll_sketch_estimate("sk_b")
        - est_union
    )
    # exact overlap for the invariant from ONE user-keyed exchange:
    # per-user type SET (collect_set dedups, so a pair appears at most
    # once per user), bounded pair explode (≤ C(|types|,2) rows/user —
    # JVM higher-order fns over a ≤3-element array), then a tiny
    # (t1,t2) count — replaces the r4 distinct + self-join +
    # count_distinct chain (3 user-sized exchanges -> 1)
    usets = ev.groupBy("user_id").agg(F.collect_set("event_type").alias("ts"))
    pair_arr = F.filter(
        F.flatten(
            F.transform(
                F.col("ts"),
                lambda x: F.transform(
                    F.col("ts"),
                    lambda y: F.struct(x.alias("t1"), y.alias("t2")),
                ),
            )
        ),
        lambda s: s["t1"] < s["t2"],
    )
    o = (
        usets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        pairs.join(o, ["t1", "t2"])
        .select(
            "t1",
            "t2",
            "exact_a",
            "exact_b",
            "exact_overlap",
            (
                F.abs(est_overlap - F.col("exact_overlap"))
                <= F.greatest(
                    F.col("exact_overlap") * 0.15, F.lit(2.0)
                )
            ).alias("est_ok"),
        )
    )


@q(
    "events_user_concentration_gini",
    oracle="""
    WITH c AS (
      SELECT user_id, count(*) AS x FROM events GROUP BY 1),
    r AS (
      SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM c),
    s AS (
      SELECT count(*) AS n, sum(x) AS tot, sum(CAST(i AS BIGINT) * x)
        AS ix
      FROM r)
    SELECT n AS n_users, CAST(tot AS BIGINT) AS total_events,
           round(2.0 * ix / (n * CAST(tot AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini
    FROM s
    """,
)
def events_user_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event concentration — the
    inequality readout behind "1% of users generate half the load"
    capacity planning.  All-integer rank·count sums (exact, one small
    sort over the per-user summary — users, not events) with one final
    float expression; 0 = uniform, →1 = concentrated."""
    from pyspark.sql.window import Window as _W

    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    r = c.withColumn(
        "i",
        F.row_number().over(_W.orderBy("x", "user_id")).cast("bigint"),
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("tot"),
        F.sum(F.col("i") * F.col("x")).alias("ix"),
    )
    return s.select(
        F.col("n").alias("n_users"),
        F.col("tot").alias("total_events"),
        F.round(
            F.lit(2.0) * F.col("ix") / (F.col("n") * F.col("tot").cast("double"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


@q(
    "corpus_source_exclusivity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_DK_TOKS.format(src=_DK_NORM)} AS t
      FROM documents),
    grams AS (
      SELECT DISTINCT source,
             concat_ws(' ', t[i], t[i+1], t[i+2]) AS s
      FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3),
    df AS (SELECT s, count(*) AS n_sources FROM grams GROUP BY 1)
    SELECT g.source,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN df.n_sources = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_exclusive,
           round(CAST(sum(CASE WHEN df.n_sources = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS exclusivity
    FROM grams g JOIN df ON g.s = df.s
    GROUP BY 1
    """,
)
def corpus_source_exclusivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-diversity audit: per source, the fraction of its DISTINCT
    3-grams found in NO other source — high exclusivity = genuinely
    novel content worth upweighting, low = the source re-serves what
    the corpus already has (mixture-weight input, the flip side of
    cross_doc_dup_stats).  Distinct (source, gram) projection → gram
    source-frequency as ONE count() window over the s-partitioning
    (the rows are already distinct (source, s), so the partition row
    count IS n_sources) → rollup; integer-exact ratio.  Trigrams are
    assembled row-locally from each document's token array
    (text._shingle_arrays full_only=True ≡ the old lead-window form's
    ``lead(2) IS NOT NULL`` complete-trigram filter) — no
    posexplode+window Exchange+Sort on the token stream; per-doc
    array_distinct shrinks the explode feeding the one real cross-doc
    distinct exchange.  r14: the former frequency-dim branch +
    join-back referenced the distinct gram frame twice, which defeats
    ReuseExchange and forced a lineage cut (~0.5 s of toRdd
    planning per build, §7.3); the window form references it once —
    no cut, no join (the r13 attempt that was rejected replaced the
    join with EXTRA aggregates; the window replaces it with none)."""
    from pyspark.sql.window import Window

    from .operators.text import _shingle_arrays

    d = _t(spark, sf_dir, "documents")
    grams = (
        _shingle_arrays(d, "text", "source", 3, full_only=True)
        .select(
            "source", F.explode(F.array_distinct(F.col("_occ"))).alias("s")
        )
        .distinct()
    )
    n_sources = F.count(F.lit(1)).over(Window.partitionBy("s"))
    return (
        grams.select("source", (n_sources == 1).alias("_x"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("_x").cast("int")).alias("n_exclusive"),
        )
        .select(
            "source",
            "n_grams",
            F.col("n_exclusive").cast("bigint").alias("n_exclusive"),
            F.round(
                F.col("n_exclusive").cast("double") / F.col("n_grams"), 6
            ).alias("exclusivity"),
        )
    )


@q(
    "events_transition_matrix",
    oracle="""
    WITH t AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    c AS (
      SELECT src, dst, count(*) AS n FROM t
      WHERE dst IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT src, sum(n) AS n_src FROM c GROUP BY 1)
    SELECT c.src, c.dst, c.n,
           round(CAST(c.n AS DOUBLE) / t.n_src, 6) AS p
    FROM c JOIN tot t ON c.src = t.src
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next type | current type) from one key-local lead
    window + two bounded aggregates (the matrix is |types|², the
    row-sum dim broadcasts back).  The behavioral fingerprint that
    feeds journey modeling and bot detection (uniform rows = random
    traffic; spiked rows = scripted flows).  Integer-exact ratio."""
    from pyspark.sql.window import Window as _W

    ev = _t(spark, sf_dir, "events")
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    c = t.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("src").agg(F.sum("n").alias("n_src"))
    return (
        c.join(F.broadcast(tot), "src")
        .select(
            "src",
            "dst",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_src"), 6).alias("p"),
        )
    )


@q(
    "corpus_weighted_p90_length",
    oracle="""
    WITH t AS (
      SELECT lang, n_chars,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> x != '')) AS toks
      FROM documents),
    cum AS (
      SELECT lang, n_chars, toks,
             sum(toks) OVER (PARTITION BY lang ORDER BY n_chars
                             ROWS UNBOUNDED PRECEDING) AS cw,
             sum(toks) OVER (PARTITION BY lang) AS tw
      FROM t)
    SELECT lang, min(n_chars) AS weighted_p90
    FROM cum WHERE cw * 10 >= tw * 9 GROUP BY lang
    """,
)
def corpus_weighted_p90_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass-weighted p90 document length per language
    (operators/sketch.weighted_percentile, q=0.9): the long-document
    budget cutoff — chunking/packing policies key off where the mass
    tail starts, not where the doc-count tail does.  Rational-q
    threshold compares cross-multiplied INTEGERS (cw·10 ≥ tw·9) — no
    float boundary anywhere."""
    from .operators.sketch import weighted_percentile
    from .operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    t = d.select("lang", "n_chars", token_count("text").alias("toks"))
    return weighted_percentile(
        t, "n_chars", "toks", 0.9, keys=["lang"], out_col="weighted_p90"
    )
