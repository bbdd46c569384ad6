"""cascade_drain: the flagship streaming path draining a fixed backlog.

A seeded backlog of tick parquet files is written before timing starts.
The pipeline is ``calendar.in_session_join`` -> ``cascade.
start_streaming_cascade(trigger_seconds=0)`` (1 s hub, 1m and 5m tiers)
-> ``gapfill.streaming_gap_fill`` over the 1m sink.  Closing-marker ticks
in the last file advance every watermark, then ``processAllAvailable``
runs in stage order.  Draining a fixed backlog, not a paced stream, keeps
the work per run identical.  The hub takes the whole backlog in its first
trigger: with one file per trigger the four queries raced, and how many
upstream files each tier batch found varied from run to run, which moved
throughput by 15% and the batch-time percentiles by up to 28% between
runs of identical work.

A latency sample is the time from the start of the drain, when every
backlog tick already exists, to the end of one micro-batch, when its
results are in the sink: the latency of that batch's results.  Every
micro-batch the four queries executed counts, with or without input rows
(an empty batch can carry a watermark flush); idle polls, which run no
batch, do not.  Single batch durations were no sample: with 11-14
batches a run, their percentiles moved 25-28% between runs of identical
work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import gen
import probe

# backlog shape: files x ticks per file, event seconds per file, symbols.
# 10k symbols (about 3.6k of them trade under the Zipf skew) set the state
# size.  The gap-fill's cost grows with the keys it holds and the drain
# has a large fixed part (starting four queries, per-trigger work), so
# the tick count is kept small enough for a run to stay under a minute
# on a 4-core host: 80k ticks took 44 s to drain, 25k 27 s, 16k 22-27 s.
SHAPE = {"full": (2, 8_000, 90, 10_000), "tiny": (2, 2_000, 45, 200)}
MARKER = "zz_close"
STAGES = ("hub", "1m", "5m", "gapfill")


def _schedule(spark, n_sessions: int):
    from pyspark.sql import functions as F

    rows = gen.session_schedule(n_sessions)
    base = F.to_timestamp(F.lit(f"{gen.TICK_DAY0} 00:00:00"))
    return spark.createDataFrame(rows, "market_key string, o int, c int").select(
        "market_key",
        (base + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("o"))).alias("open_time"),
        (base + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("c"))).alias("close_time"),
    )


def _write_backlog(ctx, src: str, files: int, ticks: int, spf: int, symbols: int) -> tuple[int, int]:
    """Data files in event-time order.  The last file also carries two
    closing-marker ticks: marker 1 lies past the close of the last 5m
    window, marker 2 lets the hub emit marker 1's second so the tiers see
    it; both sit inside a session.  Returns (ticks, schedule sessions)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = gen.write_tick_backlog(src, ctx.seed, files, ticks, spf, symbols)
    period = gen.SESSION_S + gen.CLOSURE_S
    k1 = -(-(files * spf + 360) // period)
    off = np.array([(k * period + 5) * 1_000_000 for k in (k1, k1 + 2)], dtype=np.int64)
    last = os.path.join(src, f"part-{files - 1:05d}.parquet")
    markers = pa.table({"ts": gen.ts_us(gen.TICK_DAY0, off), "market": ["m0", "m0"],
                        "symbol": [MARKER, MARKER], "price": [1.0, 1.0]})
    pq.write_table(pa.concat_tables([pq.read_table(last), markers]), last)
    return n, k1 + 3


def _start(spark, src: str, out: str, n_sessions: int):
    from ksql_linq_spark.operators.calendar import in_session_join
    from ksql_linq_spark.operators.cascade import CascadePlan, start_streaming_cascade
    from ksql_linq_spark.operators.gapfill import streaming_gap_fill

    ticks = spark.readStream.schema(
        "ts timestamp, market string, symbol string, price double").parquet(src)
    gated = in_session_join(ticks, _schedule(spark, n_sessions), row_key="market", ts_col="ts")
    plan = CascadePlan(base_name="bars", keys=["symbol"], ts_col="ts",
                       price_col="price", timeframes=["1m", "5m"])
    queries = start_streaming_cascade(plan, gated.drop("market"), sink_dir=f"{out}/sink",
                                      checkpoint_dir=f"{out}/ckpt", trigger_seconds=0)
    bars_1m = (spark.readStream
               .schema("bucket_start timestamp, symbol string, open double, high double, "
                       "low double, close double, sum_v double, cnt long")
               .parquet(f"{out}/sink/{plan.tier_name('1m')}")
               .select("symbol", "bucket_start", "close"))
    gf = streaming_gap_fill(bars_1m, key="symbol", bucket_col="bucket_start",
                            close_col="close", timeframe="1m")
    queries.append(gf.writeStream.format("parquet").queryName("gapfill")
                   .option("path", f"{out}/sink/gapfill")
                   .option("checkpointLocation", f"{out}/ckpt/gapfill")
                   .outputMode("append").trigger(processingTime="0 seconds").start())
    return plan, queries


def _mismatches(got, want, cols: list[str], money: tuple[str, ...]) -> int:
    """Rows in one Arrow table and not the other (multiset), with money
    columns compared as integer millionths (streaming and batch sum in
    different orders) and timestamps as epoch microseconds."""
    from collections import Counter

    import pyarrow as pa
    import pyarrow.compute as pc

    def canon(t):
        out = {}
        for c in cols:
            col = t.column(c)
            if pa.types.is_timestamp(col.type):
                col = col.cast(pa.timestamp(col.type.unit)).cast(pa.timestamp("us")).cast(pa.int64())
            elif c in money:
                col = pc.round(pc.multiply(col, 1e6)).cast(pa.int64())
            out[c] = col
        t = pa.table(out)
        return t.sort_by([(c, "ascending") for c in cols])

    a, b = canon(got), canon(want)
    if a.equals(b):
        return 0
    ra, rb = Counter(zip(*a.to_pydict().values())), Counter(zip(*b.to_pydict().values()))
    return sum(((ra - rb) + (rb - ra)).values())


def _sink(path: str):
    """A file sink's committed rows, read with pyarrow."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet",
                      exclude_invalid_files=True,
                      ignore_prefixes=["_", "."]).to_table()


def _verify(ctx, spark, plan, src: str, out: str, n_sessions: int) -> tuple[dict, int]:
    """Each tier's sink vs ``build_cascade`` over the batch-gated ticks;
    the gap-fill sink vs ``gap_fill_bars`` over the batch 1m tier.
    Returns ({tier: differing rows}, gated tick count)."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from ksql_linq_spark.operators.calendar import in_session_join
    from ksql_linq_spark.operators.cascade import build_cascade
    from ksql_linq_spark.operators.gapfill import gap_fill_bars

    ticks = spark.read.parquet(src).filter(F.col("symbol") != MARKER)
    gated = in_session_join(ticks, _schedule(spark, n_sessions), row_key="market",
                            ts_col="ts").drop("market")
    want = build_cascade(plan, gated)
    want[plan.hub_name].persist()  # the tiers and gap-fill reuse it
    cols = ["symbol", "bucket_start", "open", "high", "low", "close", "sum_v", "cnt"]
    bad, n_gated = {}, 0
    for tier, name in (("hub", plan.hub_name), ("1m", plan.tier_name("1m")),
                       ("5m", plan.tier_name("5m"))):
        got = _sink(f"{out}/sink/{name}")
        got = got.filter(pc.not_equal(got["symbol"], MARKER))
        w = want[name].select(*cols).toArrow()
        if tier == "hub":
            n_gated = pc.sum(w["cnt"]).as_py() or 0
            if ctx.corrupt:
                w = w.set_column(w.schema.get_field_index("cnt"), "cnt",
                                 pc.add(w["cnt"], 1))
        bad[tier] = _mismatches(got.select(cols), w, cols, ("sum_v",))
    gf_cols = ["symbol", "bucket_start", "close", "is_synthetic"]
    gf_want = gap_fill_bars(want[plan.tier_name("1m")], keys=["symbol"],
                            bucket_col="bucket_start", timeframe="1m").select(*gf_cols).toArrow()
    bad["gapfill"] = _mismatches(_sink(f"{out}/sink/gapfill").select(gf_cols), gf_want, gf_cols, ())
    want[plan.hub_name].unpersist()
    return bad, n_gated


def _batch_end(progress: dict) -> float:
    """Epoch seconds at which a micro-batch finished (trigger start plus
    its duration)."""
    start = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return start.replace(tzinfo=dt.timezone.utc).timestamp() + progress["batchDuration"] / 1e3


def run(ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    files, ticks, spf, symbols = SHAPE[ctx.scale]
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    with ctx.phase("warm_up"):
        ctx.warm_workers()
    src, out = os.path.join(ctx.work, "in"), os.path.join(ctx.work, "run")
    with ctx.phase("generate"):
        n_ticks, n_sess = _write_backlog(ctx, src, files, ticks, spf, symbols)
    ctx.start_timed()
    t0, wall0 = time.perf_counter(), time.time()
    with tr.span("drain"):
        with tr.span("start"):
            plan, queries = _start(spark, src, out, n_sess)
        try:
            for name, q in zip(STAGES, queries):  # stage order
                with tr.span(f"drain.{name}"):
                    q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
    elapsed = time.perf_counter() - t0
    ctx.end_timed()

    lat_ms: list[float] = []
    batches: dict[str, int] = {}
    layer: dict[str, float] = {}
    dropped = 0.0
    for name, q in zip(STAGES, queries):
        prog = [json.loads(p.json) for p in q.recentProgress]
        ran = [p for p in prog if "addBatch" in p.get("durationMs", {})]
        lat_ms += [_batch_end(p) * 1e3 - wall0 * 1e3 for p in ran]
        batches[name] = len(ran)
        s = probe.progress_summary(prog)
        dropped += s.pop("dropped")
        layer.update({f"{name}.{k}": v for k, v in s.items()})
    t_v = time.perf_counter()
    bad, n_gated = _verify(ctx, spark, plan, src, out, n_sess)
    drop_ratio = 1.0 - n_gated / n_ticks
    verify_s = time.perf_counter() - t_v
    if dropped:
        bad["hub"] = bad["hub"] or int(dropped)
    for tier, n in bad.items():
        if n:
            ctx.log(f"cascade_drain {tier}: {n} rows differ from the batch reference")
    layer["watermark_dropped"] = dropped
    layer["gate_drop_ratio"] = drop_ratio
    # an operation is an executed micro-batch; every batch of a query
    # whose sink differs from the batch reference counts as wrong
    failed = sum(batches[t] for t, n in bad.items() if n)
    return {
        "attempted": len(lat_ms),
        "failed": failed,
        "throughput_per_s": n_ticks / elapsed,
        "latency_ms": lat_ms,
        "per_layer": layer if tr.enabled else {},
        "diag": {"ticks": n_ticks, "drain_s": elapsed, "verify_s": verify_s,
                 "batches": batches, "rows_differing": bad},
    }
