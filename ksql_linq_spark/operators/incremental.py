"""Incremental aggregate maintenance: merge partials, never recompute.

At 100 TB a daily batch must not re-aggregate the corpus to refresh a
materialized rollup; it aggregates the DELTA and merges partials —
the same composability contract the OHLC hub cascade enforces
(operators/cascade.py, HubSelectPolicy.cs:38-90), generalized to any
keyed aggregate table.  The reference's tables get this from Kafka
Streams' changelog compaction (every CTAS is incrementally maintained
by ksqlDB); Spark batch gets it from this operator, and streaming gets
it from update-mode sinks — three routes to the same invariant:

    merge(agg(A), agg(B)) == agg(A ∪ B)

Supported partial carriers (the composable set):
  count          -> SUM of counts
  sum            -> SUM of sums (DECIMAL-carried for money)
  min / max      -> MIN / MAX
  min_by / max_by-> carried as (ord, val) structs, struct MIN/MAX
  avg            -> NEVER stored; derive sum/count at read time

``agg_delta`` builds the partial table for a batch; ``merge_partials``
combines any number of partial tables; ``finalize`` derives the
presentation columns (avg etc.).  All three are single-shuffle
groupBys / unions — the merge shuffles only rollup rows, never facts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class AggSpec:
    """One maintained aggregate over a value column."""

    kind: str  # count | sum | min | max | min_by | max_by
    col: str | None = None
    ord_col: str | None = None  # for min_by/max_by
    alias: str | None = None

    @property
    def name(self) -> str:
        if self.alias:
            return self.alias
        return f"{self.kind}_{self.col or 'rows'}"


def _delta_expr(s: AggSpec) -> Column:
    if s.kind == "count":
        return F.count(F.lit(1)).alias(s.name)
    if s.kind == "sum":
        return F.sum(F.col(s.col).cast("decimal(28,4)")).alias(s.name)
    if s.kind == "min":
        return F.min(s.col).alias(s.name)
    if s.kind == "max":
        return F.max(s.col).alias(s.name)
    if s.kind in ("min_by", "max_by"):
        carrier = F.struct(F.col(s.ord_col).alias("ord"), F.col(s.col).alias("val"))
        agg = F.min(carrier) if s.kind == "min_by" else F.max(carrier)
        return agg.alias(s.name)
    raise ValueError(f"unsupported agg kind {s.kind!r}")


def _merge_expr(s: AggSpec) -> Column:
    if s.kind in ("count", "sum"):
        return F.sum(s.name).alias(s.name)
    if s.kind in ("min", "min_by"):
        return F.min(s.name).alias(s.name)
    if s.kind in ("max", "max_by"):
        return F.max(s.name).alias(s.name)
    raise ValueError(f"unsupported agg kind {s.kind!r}")


def agg_delta(df: DataFrame, keys: list[str], specs: list[AggSpec]) -> DataFrame:
    """Partial-aggregate one batch (one map-side-combined shuffle)."""
    return df.groupBy(*keys).agg(*[_delta_expr(s) for s in specs])


def merge_partials(
    partials: list[DataFrame], keys: list[str], specs: list[AggSpec]
) -> DataFrame:
    """Combine partial tables — union + one groupBy over ROLLUP rows.

    Associative and commutative by construction, so any merge tree
    (daily→monthly→total) yields identical results."""
    if not partials:
        raise ValueError("merge_partials needs at least one partial table")
    u = partials[0]
    for p in partials[1:]:
        u = u.unionByName(p)
    return u.groupBy(*keys).agg(*[_merge_expr(s) for s in specs])


def finalize(
    merged: DataFrame,
    specs: list[AggSpec],
    derived: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Presentation projection: unwrap min_by/max_by carriers to their
    values and derive ratios — ``derived`` maps an output name to a
    (sum_name, count_name) pair computed as an exact-sum / count DOUBLE
    average (avg is derived here, never stored — it does not compose)."""
    cols: list[Column] = []
    for f in merged.schema.fields:
        spec = next((s for s in specs if s.name == f.name), None)
        if spec and spec.kind in ("min_by", "max_by"):
            cols.append(F.col(f"{f.name}.val").alias(f.name))
        else:
            cols.append(F.col(f.name))
    out = merged.select(*cols)
    for name, (sum_name, cnt_name) in (derived or {}).items():
        out = out.withColumn(
            name, F.col(sum_name).cast("double") / F.col(cnt_name)
        )
    return out


def repair_late_buckets(
    spark,
    bars_path: str,
    all_ticks,
    late_ticks,
    keys: list[str],
    ts_col: str,
    price_col: str,
    timeframe: str,
):
    """Late-data repair for a materialized bar table: recompute ONLY the
    (key, bucket) cells the late ticks touch and MERGE them in — the
    batch answer to W4's streaming grace period.  A watermark bounds
    how late the STREAM accepts data; anything later lands here, as a
    surgical backfill job, instead of forcing an unbounded watermark
    (unbounded state) or a full-table rebuild.

    Dataflow: late ticks → their distinct (keys, bucket) cells (tiny —
    bounded by late volume, broadcast); semi-join gates the tick scan
    to those cells (partition-prune when the table is date-partitioned,
    SCALING.md OHLC sink layout); ohlc_bars re-aggregates just that
    slice; layout.merge_upsert swaps the refreshed cells in atomically.
    Cost scales with LATE volume, never table size.
    """
    from pyspark.sql import functions as F

    from .ohlc import ohlc_bars
    from .windows import bucket_start
    from .layout import merge_upsert

    b = bucket_start(F.col(ts_col), timeframe).alias("bucket_start")
    touched = late_ticks.select(*keys, b).distinct()
    t = touched.select(
        *[F.col(k).alias(f"_t_{k}") for k in keys],
        F.col("bucket_start").alias("_t_bucket"),
    )
    cond = bucket_start(F.col(ts_col), timeframe) == t["_t_bucket"]
    for k in keys:
        cond = cond & (all_ticks[k] == t[f"_t_{k}"])
    affected = all_ticks.join(F.broadcast(t), cond, "left_semi")
    refreshed = ohlc_bars(affected, keys, ts_col, price_col, timeframe)
    merge_upsert(
        spark, bars_path, refreshed, keys=[*keys, "bucket_start"]
    )
