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

Spark mapping: bar tiers are named tables/paths; reads are plain
filtered scans.  No cache subsystem — Spark reads its own sinks
directly (S9), so each request should cost one Spark job:
- A parquet source's schema is pinned at the first read that finds
  files (the reference's ``TimeBucket<T>`` is typed), which drops the
  schema-inference job from every later request.  A schema change
  therefore needs a new reader.  Files are still listed on every
  request, so appended files are visible at once.
- Results without ``limit`` are collected and sorted on the driver in
  Spark's ascending order; a global ``orderBy`` would add a sampling job
  and a shuffle.  With ``limit`` the sort stays in Spark (one
  take-ordered job, bounded driver memory).
- ``TimeBucket.read`` prunes ``bucket_date`` partitions when the source
  has them (``write_bar_tables`` writes them).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


class _Source:
    """A reader's storage: a catalog table, or a parquet path whose schema
    is pinned at the first read that finds files."""

    def __init__(self, spark: SparkSession, table_or_path: str):
        self.spark = spark
        self.name = table_or_path
        self._schema = None

    def df(self) -> DataFrame:
        if "/" not in self.name:
            return self.spark.table(self.name)
        if self._schema is None:
            df = self.spark.read.parquet(self.name)
            self._schema = df.schema
            return df
        return self.spark.read.schema(self._schema).parquet(self.name)


def _asc_key(v):
    """Sort key for one value in Spark's ascending order: NULL first, NaN
    after every number (NaN equals NaN)."""
    if v is None:
        return (0, 0)
    if isinstance(v, float) and v != v:
        return (2, 0)
    return (1, v)


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
        df = self._source.df()
        for col, val in zip(self.key_cols, key_parts):
            df = df.filter(F.col(col) == val)
        return _collect_sorted(df, [*self.key_cols, self.bucket_col], limit)

    def read(self, key_parts: list, bucket_start, tolerance_buckets: int = 0):
        """Point read with tolerance: the bar at bucket_start, or the
        nearest earlier one within N buckets (TimeBucket.ReadAsync)."""
        step = timeframe_seconds(self.period.token)
        df = self._source.df()
        for col, val in zip(self.key_cols, key_parts):
            df = df.filter(F.col(col) == val)
        lo = F.lit(bucket_start) - F.expr(
            f"INTERVAL {step * tolerance_buckets} SECONDS"
        ) if step else F.lit(bucket_start)
        if "bucket_date" in df.columns:
            # bucket_date = to_date(bucket_start) in the writer's session
            # time zone; one day of slack each side keeps a zone change
            # between write and read from dropping the row
            df = df.filter(F.col("bucket_date").between(
                F.date_sub(F.to_date(lo), 1),
                F.date_add(F.to_date(F.lit(bucket_start)), 1)))
        rows = (
            df.filter((F.col(self.bucket_col) <= F.lit(bucket_start)) &
                      (F.col(self.bucket_col) >= lo))
            .orderBy(F.col(self.bucket_col).desc())
            .limit(1)
            .collect()
        )
        return rows[0] if rows else None

    def wait_for_bucket(self, key_parts: list, bucket_start,
                        timeout_seconds: float = 90.0, poll_seconds: float = 1.0):
        """Poll until the bucket exists (WaitForBucketAsync; 90 s default
        mirrors the reference's cache-ready timeout, TableCache.cs:45).
        A tier with no data files yet is not ready, not an error."""
        deadline = time.monotonic() + timeout_seconds
        while time.monotonic() < deadline:
            try:
                row = self.read(key_parts, bucket_start)
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
        df = self._source.df()
        for col, val in zip(self.key_cols, key_parts):
            df = df.filter(F.col(col) == val)
        if from_ts is not None:
            df = df.filter(F.col(self.start_col) >= F.lit(from_ts))
        if to_ts is not None:
            df = df.filter(F.col(self.start_col) < F.lit(to_ts))
        return _collect_sorted(df, [self.start_col], limit)


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
