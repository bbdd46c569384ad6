"""Runtime read APIs: TimeBucket + HoppingWindow pull readers.

Reference (SURVEY.md §2.8 C6/C7):
- ``TimeBucket.Get<T>(ctx, Period.Minutes(5)).ToListAsync(keyParts)`` —
  read one timeframe's bar table filtered by key prefix
  (/root/reference/src/Runtime/TimeBucket.cs:44-120);
  ``ReadAsync(pk, bucketStart, tolerance)`` — point read with bucket
  tolerance (:352); ``WaitForBucketAsync`` — poll until a bucket lands
  (:618).  Periods: /root/reference/src/Runtime/Period.cs:1-57.
- ``HoppingWindow<T>.ToListAsync(key, from, to, limit)`` — pull hopping
  rows by key + window range (/root/reference/src/Runtime/HoppingWindow.cs:17-110).

Spark mapping: bar tiers are named tables/paths; reads are filtered
scans.  The reference answers pull requests from an in-process table
cache (S9); here a local parquet source is answered in-process too, by
``pyarrow.dataset`` on the driver, with no Spark job per request:
- The schema is Spark's, pinned at the first read that finds files (the
  reference's ``TimeBucket<T>`` is typed), so a hive partition column
  such as ``bucket_date`` is a date and every row carries Spark's Python
  types.  A schema change needs a new reader.  Files are listed on every
  request, so appended files are visible at once; a streaming sink's
  directory is read through its ``_spark_metadata`` log, as Spark reads
  it, so a part file the sink has not committed stays invisible.
- Key equality, the bucket/window range and ``read``'s ``bucket_date``
  range are pushed into the scan.  Rows are sorted on the driver in
  Spark's ascending order and cut to ``limit`` after the sort.
- A reader's first ``to_list`` and ``read`` request is also answered by
  Spark, and a difference between the two answers raises.  That Spark
  job also pins the schema and pays Spark's one-time scan set-up before
  the steady state.
- Catalog tables, URIs (``hdfs://``, ``s3a://``, ``file:``) and schemas
  with a column type the Arrow path does not convert (binary, nested)
  are read by Spark on every request.
"""

from __future__ import annotations

import datetime as dt
import json
import operator
import os
import re
import time
from dataclasses import dataclass
from functools import reduce
from urllib.parse import unquote, urlparse
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from .operators.windows import timeframe_seconds


@dataclass(frozen=True)
class Period:
    """Period.Minutes(5) etc. — normalized timeframe token."""

    token: str

    @staticmethod
    def seconds(n: int) -> "Period":
        return Period(f"{n}s")

    @staticmethod
    def minutes(n: int) -> "Period":
        return Period(f"{n}m")

    @staticmethod
    def hours(n: int) -> "Period":
        return Period(f"{n}h")

    @staticmethod
    def days(n: int) -> "Period":
        return Period(f"{n}d")

    @staticmethod
    def week() -> "Period":
        return Period("1wk")

    @staticmethod
    def month() -> "Period":
        return Period("1mo")


# a filter is (column, operator, value); both paths apply the same ones
_OPS = {"==": operator.eq, ">=": operator.ge, "<=": operator.le, "<": operator.lt}
_TIMESTAMPS = (TimestampType, TimestampNTZType)
# column types whose Arrow values pyspark's ``fromInternal`` turns into
# the values Spark's ``collect`` returns
_ARROW_TYPES = (StringType, BooleanType, ByteType, ShortType, IntegerType, LongType,
                FloatType, DoubleType, DecimalType, DateType, *_TIMESTAMPS)
# Spark writes INT96 timestamps; pyarrow would read them as ns
_PARQUET = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us"))
_SINK_LOG_ENTRY = re.compile(r"(\d+)(\.compact)?")


def _local_path(name: str) -> str | None:
    """The local directory a source name points at, or None for a catalog
    table or a URI (read by Spark)."""
    if "/" not in name or urlparse(name).scheme:
        return None
    return os.path.abspath(name)


def _sink_files(log_dir: str) -> list[str]:
    """The files a streaming file sink has committed, from its
    ``_spark_metadata`` log: the latest ``.compact`` batch and the later
    deltas, adds minus deletes."""
    batches = {}
    for f in os.listdir(log_dir):
        m = _SINK_LOG_ENTRY.fullmatch(f)
        if m:
            batches[int(m.group(1))] = f
    compacts = [b for b, f in batches.items() if f.endswith(".compact")]
    first = max(compacts, default=min(batches, default=0))
    files: dict[str, None] = {}
    for b in sorted(b for b in batches if b >= first):
        with open(os.path.join(log_dir, batches[b])) as fh:
            entries = fh.read().splitlines()[1:]  # line 1 is the log version
        for line in filter(None, entries):
            e = json.loads(line)
            path = unquote(urlparse(e["path"]).path)
            if e["action"] == "delete":
                files.pop(path, None)
            else:
                files[path] = None
    return list(files)


def _session_zone(spark: SparkSession) -> dt.tzinfo:
    """``spark.sql.session.timeZone``: a region id or a ``+hh:mm`` offset."""
    name = spark.conf.get("spark.sql.session.timeZone")
    try:
        return ZoneInfo(name)
    except (ValueError, KeyError):
        return dt.datetime.strptime(name, "%z").tzinfo


def _key_conds(key_cols: list[str], key_parts) -> list:
    return [(c, "==", v) for c, v in zip(key_cols, key_parts)]


def _utc(micros: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(microseconds=micros)


class _Source:
    """A reader's storage: a catalog table, or a parquet path whose schema
    is pinned at the first read that finds files."""

    def __init__(self, spark: SparkSession, table_or_path: str):
        self.spark = spark
        self.name = table_or_path
        self.path = _local_path(table_or_path)
        self._schema: StructType | None = None
        self._checked: set[str] = set()  # request kinds Arrow answers alone

    def df(self) -> DataFrame:
        if self.path is None:
            return self.spark.table(self.name)
        if self._schema is None:
            df = self.spark.read.parquet(self.name)
            self._schema = df.schema
            return df
        return self.spark.read.schema(self._schema).parquet(self.name)

    def schema(self) -> StructType:
        return self._schema or self.df().schema

    def rows(self, kind: str, conds: list, order: list[str],
             limit: int | None = None, desc: bool = False) -> list:
        """Rows passing every filter in ``conds``, sorted by ``order`` as
        Spark sorts (descending with ``desc``), cut to ``limit``.  The
        first request of each ``kind`` runs on Spark and, for a parquet
        path, also on Arrow, which must give the same answer."""
        if kind in self._checked:
            return self._arrow(conds, order, limit, desc)
        want = self._spark(conds, order, limit, desc)
        if self.path is not None and all(
                isinstance(f.dataType, _ARROW_TYPES) for f in self._schema.fields):
            got = self._arrow(conds, order, limit, desc)
            col = _first_difference(self._schema.names, order,
                                    bool(limit) and len(want) == limit, got, want)
            if col is not None:
                raise RuntimeError(
                    f"pull read {kind} on {self.name}: the Arrow answer differs "
                    f"from Spark's in {col}")
            self._checked.add(kind)
        return want

    def _spark(self, conds, order, limit, desc) -> list:
        df = self.df()
        for col, op, v in conds:
            df = df.filter(_OPS[op](F.col(col), F.lit(v)))
        if desc:
            return df.orderBy(*[F.col(c).desc() for c in order]).limit(limit).collect()
        return _collect_sorted(df, order, limit)

    def _dataset(self, types: pa.Schema) -> ds.Dataset:
        part = ds.partitioning(types, flavor="hive")
        log = os.path.join(self.path, "_spark_metadata")
        if os.path.isdir(log):
            return ds.dataset(_sink_files(log), schema=types, format=_PARQUET,
                              partitioning=part, partition_base_dir=self.path)
        return ds.dataset(self.path, schema=types, format=_PARQUET, partitioning=part)

    def _arrow(self, conds, order, limit, desc) -> list:
        schema = self._schema
        types = to_arrow_schema(schema)
        preds = []
        for col, op, v in conds:
            t = schema[col].dataType
            if v is not None and isinstance(t, _TIMESTAMPS):
                v = t.toInternal(v)
            preds.append(_predicate(op, pc.field(col), pa.scalar(v, types.field(col).type),
                                    isinstance(t, (FloatType, DoubleType))))
        table = self._dataset(types).to_table(filter=reduce(operator.and_, preds, pc.scalar(True)))
        cols = []
        for f, col in zip(schema.fields, table.columns):
            # pyspark's internal form: timestamps in µs, dates in days
            if isinstance(f.dataType, _TIMESTAMPS):
                col = col.cast(pa.int64())
            elif isinstance(f.dataType, DateType):
                col = col.cast(pa.int32())
            cols.append(col.to_pylist())
        at = [schema.names.index(c) for c in order]
        rows = sorted(zip(*cols), key=lambda r: tuple(_asc_key(r[i]) for i in at),
                      reverse=desc)
        return [schema.fromInternal(r) for r in rows[:limit or None]]


def _predicate(op: str, col: pc.Expression, v: pa.Scalar, floating: bool) -> pc.Expression:
    """``col op v`` as Spark evaluates it: for a floating-point column NaN
    equals NaN and is greater than every other value."""
    if not floating:
        return _OPS[op](col, v)
    nan = pc.is_nan(col)
    if v.is_valid and v.as_py() != v.as_py():
        return {"==": nan, ">=": nan, "<=": col.is_valid(), "<": ~nan}[op]
    return _OPS[op](col, v) | nan if op == ">=" else _OPS[op](col, v)


def _asc_key(v):
    """Sort key for one value in Spark's ascending order: NULL first, NaN
    after every number (NaN equals NaN)."""
    if v is None:
        return (0, 0)
    if isinstance(v, float) and v != v:
        return (2, 0)
    return (1, v)


def _first_difference(names: list[str], order: list[str], cut: bool,
                      got: list, want: list) -> str | None:
    """Where two answers to one request differ, or None.  The ``order``
    columns must agree row by row and the rows as multisets, except the
    rows tied with the last one when a limit ``cut`` the answer: Spark
    keeps any of them."""
    if len(got) != len(want):
        return f"row count ({len(got)} vs {len(want)})"
    for c in order:
        if [_asc_key(r[c]) for r in got] != [_asc_key(r[c]) for r in want]:
            return f"column {c!r}"
    if cut:
        last = tuple(_asc_key(want[-1][c]) for c in order)
        got, want = ([r for r in rs if tuple(_asc_key(r[c]) for c in order) != last]
                     for rs in (got, want))
    for g, w in zip(*(sorted(tuple(map(repr, r)) for r in rs) for rs in (got, want))):
        for c, a, b in zip(names, g, w):
            if a != b:
                return f"column {c!r}"
    return None


def _collect_sorted(df: DataFrame, cols: list[str], limit: int | None):
    """``df.orderBy(*cols)[.limit(limit)].collect()`` in one Spark job."""
    if limit:
        return df.orderBy(*cols).limit(limit).collect()
    return sorted(df.collect(), key=lambda r: tuple(_asc_key(r[c]) for c in cols))


class TimeBucket:
    """Parameterized reader over per-timeframe bar tables.

    ``TimeBucket.get(spark, base, Period.minutes(5))`` resolves table
    ``{base}_{tf}_live`` (the cascade naming convention) as either a
    catalog table or a parquet path.
    """

    def __init__(self, spark: SparkSession, table_or_path: str, period: Period,
                 key_cols: list[str], bucket_col: str = "bucket_start"):
        self.spark = spark
        self.period = period
        self.key_cols = key_cols
        self.bucket_col = bucket_col
        self._source = _Source(spark, table_or_path)

    @classmethod
    def get(
        cls,
        spark: SparkSession,
        base_name: str,
        period: Period,
        key_cols: list[str],
        path_prefix: str | None = None,
    ) -> "TimeBucket":
        name = f"{base_name}_{period.token}_live"
        src = f"{path_prefix}/{name}" if path_prefix else name
        return cls(spark, src, period, key_cols)

    def to_list(self, *key_parts, limit: int | None = None):
        """Key-prefix filtered read (the NUL-joined-prefix cache scan twin,
        /root/reference/src/Cache/Core/TableCache.cs:43-180)."""
        return self._source.rows("to_list", _key_conds(self.key_cols, key_parts),
                                 [*self.key_cols, self.bucket_col], limit)

    def read(self, key_parts: list, bucket_start, tolerance_buckets: int = 0):
        """Point read with tolerance: the bar at bucket_start, or the
        nearest earlier one within N buckets (TimeBucket.ReadAsync)."""
        step = timeframe_seconds(self.period.token) or 0  # 0: a calendar frame
        hi = TimestampType().toInternal(bucket_start)
        lo = hi - step * tolerance_buckets * 1_000_000
        conds = [*_key_conds(self.key_cols, key_parts),
                 (self.bucket_col, "<=", _utc(hi)), (self.bucket_col, ">=", _utc(lo))]
        if "bucket_date" in self._source.schema().names:
            # bucket_date = to_date(bucket_start) in the writer's session
            # time zone; one day of slack each side keeps a zone change
            # between write and read from dropping the row
            zone, day = _session_zone(self.spark), dt.timedelta(days=1)
            conds += [("bucket_date", ">=", _utc(lo).astimezone(zone).date() - day),
                      ("bucket_date", "<=", _utc(hi).astimezone(zone).date() + day)]
        rows = self._source.rows("read", conds, [self.bucket_col], 1, desc=True)
        return rows[0] if rows else None

    def wait_for_bucket(self, key_parts: list, bucket_start,
                        timeout_seconds: float = 90.0, poll_seconds: float = 1.0):
        """Poll until the bucket exists (WaitForBucketAsync; 90 s default
        mirrors the reference's cache-ready timeout, TableCache.cs:45).
        A tier with no data files yet, or whose directory is gone, is not
        ready, not an error."""
        deadline = time.monotonic() + timeout_seconds
        while time.monotonic() < deadline:
            try:
                row = self.read(key_parts, bucket_start)
            except FileNotFoundError:
                row = None
            except AnalysisException as e:
                if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                    raise
                row = None
            if row is not None:
                return row
            time.sleep(poll_seconds)
        raise TimeoutError(
            f"bucket {bucket_start} for {key_parts} not ready in {timeout_seconds}s"
        )


class HoppingWindowReader:
    """Pull hopping-window rows by key + [from, to) window_start range."""

    def __init__(self, spark: SparkSession, table_or_path: str,
                 key_cols: list[str], start_col: str = "window_start"):
        self.spark = spark
        self.key_cols = key_cols
        self.start_col = start_col
        self._source = _Source(spark, table_or_path)

    def to_list(self, key_parts: list, from_ts=None, to_ts=None,
                limit: int | None = None):
        conds = _key_conds(self.key_cols, key_parts)
        if from_ts is not None:
            conds.append((self.start_col, ">=", from_ts))
        if to_ts is not None:
            conds.append((self.start_col, "<", to_ts))
        return self._source.rows("hop", conds, [self.start_col], limit)


def limit_retention(
    df: DataFrame,
    keys: list,
    ts_col: str,
    n: int,
    tiebreakers: list | None = None,
) -> DataFrame:
    """O4 `Limit(count)` retention helper: keep the newest ``n`` rows per
    key by ``ts_col`` (reference deletes older rows client-side via
    RemoveAsync — /root/reference/src/Extensions/EventSetExtensions.cs:35-60
    with EntityModel.BarTimeSelector).

    Spark-native: rank within key partitions and keep rank <= n; as a
    retention job, write the survivors back with replaceWhere/overwrite.
    One shuffle on the keys; at scale run per partition-date so the
    window never spans the full history.  ``tiebreakers`` make the cut
    deterministic when ``ts_col`` has duplicates.
    """
    from pyspark.sql.window import Window

    order = [F.col(ts_col).desc()] + [F.col(t).desc() for t in (tiebreakers or [])]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )
