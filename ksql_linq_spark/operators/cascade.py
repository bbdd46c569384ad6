"""Multi-timeframe OHLC cascade: 1 s hub + per-timeframe rollups.

The reference's flagship planner (SURVEY.md §2.5 W2): one bar declaration
fans out into a 1 s "hub" pre-aggregate plus N timeframe tables that
re-aggregate the hub, not the raw ticks
(/root/reference/src/Query/Analysis/DerivationPlanner.cs:13-100 — :41
auto-inserts the 1 s tier, :91 marks InputHint=hub;
DerivedTumblingPipeline.cs:37-220 renders each tier).

The correctness heart is the partial-aggregate rewrite
(/root/reference/src/Query/Hub/Analysis/HubSelectPolicy.cs:38-90): the hub
must carry RE-AGGREGABLE partials —
  open  -> min_by(open, first_ts)   (carrier: first event-time per bucket)
  close -> max_by(close, last_ts)
  high/low -> max/min                (compose trivially)
  avg   -> sum + count               (avg does NOT compose; emit the pair)
Higher tiers combine hub rows exactly; nothing re-reads the raw stream.
The hub itself is ``ohlc.ohlc_bars`` at 1 s (the streaming hub applies
the same ``ohlc.ohlc_aggs`` list), so hub open/close follow the
(event time, price) order; first/last_ts are unique per key within a
tier bucket, so the rollups keep that order.

Scale: raw ticks are touched ONCE (the 1 s shuffle); each higher tier
shuffles only hub rows (≈ keys × seconds), orders of magnitude smaller.
This is the identical physical strategy the reference uses via chained
CSAS/CTAS — re-expressed as chained DataFrames.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ohlc import ohlc_aggs, ohlc_bars
from .windows import bucket_start, parse_timeframe, timeframe_seconds

# 1 s rows-stream retention default — the golden hub DDL pins
# retention_ms=604800000 (tests/Query/Golden/rows_1s_stream.sql;
# constant: src/Query/Analysis/DerivedTumblingPipeline.cs:24)
DEFAULT_ROWS_STREAM_RETENTION_MS = 7 * 24 * 60 * 60 * 1000


@dataclass
class CascadePlan:
    """DerivationPlanner.Plan twin: the ordered tier list for one declaration."""

    base_name: str
    keys: list[str]
    ts_col: str
    price_col: str
    timeframes: list[str]  # normalized + sorted, 1 s hub implied
    week_anchor: str = "monday"
    grace_seconds: dict[str, int] = field(default_factory=dict)  # default 1 s/tier
    # hub retention: the reference's rows-stream default (7 d) unless set
    retention_ms: int = DEFAULT_ROWS_STREAM_RETENTION_MS

    def __post_init__(self):
        # normalize + sort by duration, calendar frames last
        # (KsqlQueryModel.NormalizeTimeframes, :126-135)
        def sort_key(tf: str):
            s = timeframe_seconds(tf)
            return (0, s) if s is not None else (1, {"wk": 1, "mo": 2}[parse_timeframe(tf)[1]])

        self.timeframes = sorted(dict.fromkeys(self.timeframes), key=sort_key)

    @property
    def hub_name(self) -> str:
        return f"{self.base_name}_1s_rows"  # DerivationPlanner.cs:58

    def tier_name(self, tf: str) -> str:
        return f"{self.base_name}_{tf}_live"  # {base}_{tf}_live convention


def cascade_ddl_meta(plan: CascadePlan) -> dict:
    """Design-time structural contract of a cascade — the Spark-side
    twin of the DDL the reference's planner renders, in the exact terms
    the checked-in goldens pin (tests/Query/Golden/rows_1s_stream.sql,
    bars_{5m,15m,60m}_live.sql):

    - hub: STREAM ``{base}_1s_rows`` (DerivationPlanner.cs:58), role
      Final1sStream — NO emit clause (RoleTraits.cs:16), the designated
      timestamp column, the declared keys, retention_ms defaulting to
      7 d (DerivedTumblingPipeline.cs:24);
    - one tier per timeframe: TABLE ``{base}_{tf}_live``, role Live —
      EMIT CHANGES (RoleTraits.cs:18), ``window tumbling(size ...)``
      over the HUB (never the raw ticks), grouped by the same keys,
      grace adopted as-is per tier with NO auto-increment
      (DerivationPlanner.cs:43), OHLC aggregate roles
      open/high/low/close.

    Deliberate divergences from the golden TEXT (semantics, not shape):
    open/close use event-time carriers ``min_by(open, first_ts)`` /
    ``max_by(close, last_ts)`` where ksqlDB uses offset order
    (earliest/latest_by_offset), and the hub orders ticks by
    (event time, price) — deterministic under replay, repartitioning and
    row order, which offset order is not; and the hub carries the
    re-aggregable partials (sum_v, cnt, first_ts, last_ts —
    HubSelectPolicy.cs:38-90) as extra columns.
    """
    tiers = []
    for tf in plan.timeframes:
        secs = timeframe_seconds(tf)
        tiers.append(
            {
                "name": plan.tier_name(tf),
                "kind": "table",
                "emit": "CHANGES",  # Role.Live
                "window": "tumbling",
                "size_seconds": secs,  # None for calendar wk/mo tiers
                "source": plan.hub_name,
                "group_by": list(plan.keys),
                "grace_seconds": plan.grace_seconds.get(tf, 1),
                "aggregates": {
                    "open": "min_by(open, first_ts)",
                    "high": "max(high)",
                    "low": "min(low)",
                    "close": "max_by(close, last_ts)",
                },
            }
        )
    return {
        "hub": {
            "name": plan.hub_name,
            "kind": "stream",
            "emit": None,  # Role.Final1sStream: no EMIT clause
            "keys": list(plan.keys),
            "timestamp": plan.ts_col,
            "retention_ms": plan.retention_ms,
            "grace_seconds": plan.grace_seconds.get("1s", 1),
        },
        "tiers": tiers,
    }


def _tier_aggs() -> list[Column]:
    """Hub rows -> one tier bar by partial-agg composition, shared by
    the batch and streaming tiers: open, high, low, close, sum_v, cnt.
    Batch tiers add the first/last_ts carriers; streaming tier sinks
    carry no carriers."""
    return [
        F.min_by("open", "first_ts").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "last_ts").alias("close"),
        F.sum("sum_v").alias("sum_v"),
        F.sum("cnt").alias("cnt"),
    ]


def build_hub(plan: CascadePlan, ticks: DataFrame) -> DataFrame:
    """Tier 0: raw ticks -> 1 s bars with re-aggregable partials.

    Columns: keys..., bucket_start, then :func:`ohlc.ohlc_aggs`.
    """
    return ohlc_bars(ticks, plan.keys, plan.ts_col, plan.price_col, "1s")


def rollup_tier(plan: CascadePlan, hub: DataFrame, tf: str) -> DataFrame:
    """Tier N: hub rows -> one timeframe's bars by partial-agg composition."""
    return (
        hub.groupBy(
            *[F.col(k) for k in plan.keys],
            bucket_start("bucket_start", tf, plan.week_anchor).alias("bucket_start"),
        )
        .agg(
            *_tier_aggs(),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
        .withColumn("avg_price", F.col("sum_v") / F.col("cnt"))
    )


def build_cascade(plan: CascadePlan, ticks: DataFrame) -> dict[str, DataFrame]:
    """Plan + render every tier: {entity_name: DataFrame}, hub first
    (DerivedTumblingPipeline ordering, :54-87)."""
    hub = build_hub(plan, ticks)
    out: dict[str, DataFrame] = {plan.hub_name: hub}
    for tf in plan.timeframes:
        out[plan.tier_name(tf)] = rollup_tier(plan, hub, tf)
    return out


def start_streaming_cascade(
    plan: CascadePlan,
    tick_stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 10,
    incident_bus=None,
):
    """Streaming deployment: each tier is its own checkpointed query.

    Tier 0 aggregates the tick stream into the 1 s hub (append mode on
    watermark close) and persists it; higher tiers re-read the hub files
    as a stream — materialization between tiers is exactly how the
    reference chains CSAS/CTAS through Kafka topics.

    ``incident_bus`` (streaming/incidents.IncidentBus): when given, a
    StreamingQueryListener is attached to the session publishing
    late_drop/restart/terminated incidents for every tier — the
    reference's WindowAggregatorMetrics + IncidentBus surface.  Each
    tier query is named (hub_name / tier_name) so incidents identify
    their tier.  The listener is session-scoped; detach with
    ``spark.streams.removeListener(shim)`` using the returned shim
    (queries, shim) when a bus is wired, else just the query list.
    """
    from ..streaming.stateful import warn_if_shards_exceed_cores

    # Deployment-rule guard (SCALING.md round-11): every tier below is a
    # stateful streaming agg, so commits/trigger = shards x (1 hub +
    # sub-calendar tiers); a node with shards > cores collapses.
    n_stateful = 1 + sum(
        1 for tf in plan.timeframes if timeframe_seconds(tf) is not None
    )
    shard_msg = warn_if_shards_exceed_cores(
        tick_stream.sparkSession, n_stateful
    )
    if shard_msg is not None and incident_bus is not None:
        from ..streaming.incidents import Incident

        incident_bus.publish(
            Incident(
                kind="misconfiguration",
                query_id=None,
                query_name=plan.hub_name,
                details={"rule": "shards_per_node_lte_cores",
                         "message": shard_msg},
            )
        )

    shim = None
    if incident_bus is not None:
        from ..streaming.incidents import attach_incident_listener

        _, shim = attach_incident_listener(
            tick_stream.sparkSession, incident_bus
        )

    def start(df: DataFrame, name: str):
        return (
            df.writeStream.format("parquet")
            .queryName(name)
            .option("path", f"{sink_dir}/{name}")
            .option("checkpointLocation", f"{checkpoint_dir}/{name}")
            .outputMode("append")
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )

    grace = f"{plan.grace_seconds.get('1s', 1)} seconds"
    hub_stream = (
        tick_stream.withWatermark(plan.ts_col, grace)
        .groupBy(
            *[F.col(k) for k in plan.keys],
            F.window(plan.ts_col, "1 second").alias("w"),
        )
        .agg(*ohlc_aggs(plan.ts_col, plan.price_col))
        .select(F.col("w.start").alias("bucket_start"), "*")
        .drop("w")
    )
    queries = [start(hub_stream, plan.hub_name)]
    hub_read = tick_stream.sparkSession.readStream.schema(
        hub_stream.schema
    ).parquet(f"{sink_dir}/{plan.hub_name}")
    for tf in plan.timeframes:
        secs = timeframe_seconds(tf)
        if secs is None:
            continue  # calendar tiers are batch rollups over the hub table
        g = f"{plan.grace_seconds.get(tf, 1)} seconds"
        tier = (
            hub_read.withWatermark("bucket_start", g)
            .groupBy(
                *[F.col(k) for k in plan.keys],
                F.window("bucket_start", f"{secs} seconds").alias("w"),
            )
            .agg(*_tier_aggs())
            .select(F.col("w.start").alias("bucket_start"), "*")
            .drop("w")
        )
        queries.append(start(tier, plan.tier_name(tf)))
    if shim is not None:
        return queries, shim
    return queries


def write_bar_tables(
    tiers: dict[str, DataFrame],
    base_dir: str,
    mode: str = "overwrite",
) -> dict[str, str]:
    """Materialize cascade tiers as parquet bar tables, partitioned by
    bucket DATE so TimeBucket reads (runtime.py) and incremental rebuild
    jobs partition-prune: a read of one day touches one directory, not
    the table.  At 100 TB add bucketBy(keys) so tier re-rollups become
    shuffle-free co-partitioned scans.

    Returns {tier_name: path}.
    """
    out: dict[str, str] = {}
    for name, df in tiers.items():
        path = f"{base_dir}/{name}"
        (
            df.withColumn("bucket_date", F.to_date("bucket_start"))
            .write.partitionBy("bucket_date")
            .mode(mode)
            .parquet(path)
        )
        out[name] = path
    return out
