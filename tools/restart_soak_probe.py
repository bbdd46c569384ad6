"""Kill/restart recovery soak at REAL hub-key cardinality (r9, VERDICT
r8 item 4), on both state-store providers.

The r4/r5 cascade soaks (tests/test_streaming.py::
test_cascade_soak_restart_midstream_exactly_once) prove exactly-once
recovery with a handful of keys — trivial state.  The r8/r9 key ladders
show state is the binding constraint near ~100k hub keys, so this probe
re-runs the kill-restart drill AT that cardinality and records what the
unit test never measures: checkpoint-recovery wall time when the store
holds ~10^5 windows.

Method: a deterministic 6M-row tick set (100k keys, 180 s event-time
span at ~33k rows/s, unique (key, second) pairs so min_by/max_by ties
cannot occur) is written as 4 time-contiguous parquet chunks, staged
OUTSIDE the watched directory (the file source lists every file in the
dir regardless of extension — staging inside it would feed all phases
at once) and moved in per phase.  The 180 s span closes two 1m windows
per key so the 1m tier EMITS under the kill (the 5m tier legitimately
holds its single open window — asserted as state, not output).  For
each store (HDFSBacked / RocksDB):
  phase 1: the engine's 3-tier streaming cascade (1 s hub -> 1m -> 5m,
           operators/cascade.start_streaming_cascade) consumes chunks
           0-1, then ALL THREE queries are stopped mid-stream;
  phase 2: chunks 2-3 arrive; the cascade restarts from its checkpoints
           (recovery wall = restart-to-first-committed-batch, i.e. the
           state reload + first micro-batch at full state);
  phase 3: pure-replay restart with no new data — must append nothing.

Asserts the reference's stabilization contract (Lifecycle.cs:300-341)
at scale: zero duplicate (key, bucket) bars in every tier sink, every
streamed hub bar value-identical to the batch aggregate over the same
raw rows (including bars whose window spans the kill), and the replay
restart is a no-op.  Writes RESTART_SOAK.json.

Run on an idle box.  Usage:
  python tools/restart_soak_probe.py [--composed]
      [--store hdfs|rocksdb|both] [n_keys] [n_rows]
      (defaults: both, 100_000, 6_000_000)

``--composed`` (r10, VERDICT r9 item 6) runs the drill on the FLAGSHIP
topology instead — session gate -> cascade -> streaming gap-fill, with
the 1m gap spanning the kill so the gap-filler's per-key
(last_bucket, last_close) state must recover exactly-once; writes
RESTART_SOAK_COMPOSED.json.

``--recovery-ladder`` (r13) turns the single-point recovery number into
a CURVE: the same kill/restart drill at a fan of key cardinalities with
rows-per-key held constant (so per-key state is constant and any growth
in recovery wall is attributable to state size), per provider.  Records
three walls per rung — PURE STATE RELOAD (a single-row probe file makes
the first committed batch reload + epsilon), CATCH-UP (processing the
backlog at full state), and pure-replay restart (the no-data fixed cost
floor) — plus the state rows/bytes reloaded, then least-squares fits
each wall vs reloaded state rows.  The question it answers for the
100 TB grade: is checkpoint recovery O(state) or O(1)+epsilon, and what
is the projected RTO per executor at production state sizes?  Writes
RECOVERY_LADDER.json.  Usage:
  python tools/restart_soak_probe.py --recovery-ladder
      [--store hdfs|rocksdb|both] [--keys 10000,50000,...]
      [--rows-per-key 60]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ksql_linq_spark.session import build_session

# "rocksdb" here means the PRODUCTION config — changelog checkpointing
# on (incremental per-batch commits; the r9 ladder measured the
# snapshot-per-commit default at 41 s batches for 10k keys, unusable).
# Recovery with changelogs = load last snapshot + replay changelogs,
# which is exactly the path this probe times.
PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
        {},
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
        {"spark.sql.streaming.stateStore.rocksdb."
         "changelogCheckpointing.enabled": "true"},
    ),
}
BASE_TS = "2024-01-01 00:00:00"


def make_chunks(spark, src_dir: str, n_keys: int, n_rows: int,
                span_s: int = 180, with_market: bool = False) -> None:
    """4 time-contiguous single-file chunks; (key, second) unique by
    construction: a key recurs every n_keys ids (seconds apart at these
    spans), so consecutive appearances land in distinct seconds and
    min_by/max_by orderings are tie-free.  ``with_market`` adds a
    market column that is CONSTANT per key (n_keys % 4 == 0, so
    (id % n_keys) fixes id % 4) — required for deterministic session
    gating."""
    from pyspark.sql import functions as F

    if with_market and n_keys % 4:
        raise ValueError("with_market needs n_keys % 4 == 0")
    rows_per_sec = n_rows // span_s
    os.makedirs(src_dir, exist_ok=True)
    os.makedirs(f"{src_dir}_staged", exist_ok=True)
    per = n_rows // 4
    # chunk by id range == time range (ts is monotone in id); stage in a
    # SIBLING dir — the parquet file source lists every file under the
    # watched dir regardless of extension
    for i in range(4):
        tmp = f"{src_dir}_staged/c{i}"
        cols = [
            (F.to_timestamp(F.lit(BASE_TS))
             + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                                  F.floor(F.col("id") / rows_per_sec))
             ).alias("ts"),
            F.concat(F.lit("k"), (F.col("id") % n_keys).cast("string"))
            .alias("event_type"),
            ((F.col("id") % 10000).cast("double") / 100).alias("value"),
        ]
        if with_market:
            cols.append(
                F.concat(F.lit("m"), (F.col("id") % 4).cast("string"))
                .alias("market")
            )
        chunk = spark.range(i * per, (i + 1) * per).select(*cols)
        chunk.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                os.replace(f"{tmp}/{f}", f"{src_dir}_staged/chunk_{i}.parquet")
        shutil.rmtree(tmp, ignore_errors=True)


def publish_chunk(src_dir: str, i: int) -> None:
    os.replace(f"{src_dir}_staged/chunk_{i}.parquet",
               f"{src_dir}/chunk_{i}.parquet")


def publish_probe(spark, src_dir: str, second: int,
                  with_market: bool = False) -> None:
    """Single-row probe file at ``second`` (the resume point): makes
    the restart's first committed batch = state reload + epsilon.  The
    probe key is distinct from every generated key, so (key, second)
    uniqueness holds; in the composed drill the probe second lands in
    the closed session so the gate drops the row entirely."""
    from pyspark.sql import functions as F

    cols = [
        (F.to_timestamp(F.lit(BASE_TS)) + F.make_dt_interval(
            F.lit(0), F.lit(0), F.lit(0), F.lit(second))).alias("ts"),
        F.lit("probe0").alias("event_type"),
        F.lit(0.0).alias("value"),
    ]
    if with_market:
        cols.append(F.lit("m0").alias("market"))
    ptmp = f"{src_dir}_staged/probe"
    spark.range(1).select(*cols).coalesce(1).write.mode(
        "overwrite").parquet(ptmp)
    for f in os.listdir(ptmp):
        if f.endswith(".parquet"):
            os.replace(f"{ptmp}/{f}", f"{src_dir}/chunk_probe.parquet")
    shutil.rmtree(ptmp, ignore_errors=True)


def collect_state(queries) -> tuple[dict, dict]:
    """Per-query (state rows, state bytes) from lastProgress
    stateOperators."""
    state, state_bytes = {}, {}
    for q in queries:
        lp = q.lastProgress
        if lp:
            state[q.name] = sum(
                so["numRowsTotal"] for so in lp.get("stateOperators", [])
            )
            state_bytes[q.name] = sum(
                so.get("memoryUsedBytes", 0)
                for so in lp.get("stateOperators", [])
            )
    return state, state_bytes


def run_store(spark, store: str, src_dir: str, n_keys: int,
              reload_probe: bool = False) -> dict:
    from ksql_linq_spark.operators.cascade import (
        CascadePlan,
        build_hub,
        start_streaming_cascade,
    )

    provider, extra = PROVIDERS[store]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    for _, other_extra in PROVIDERS.values():
        for k in other_extra:
            try:
                spark.conf.unset(k)
            except Exception:  # noqa: BLE001 — not set yet
                pass
    for k, v in extra.items():
        spark.conf.set(k, v)
    tmp = tempfile.mkdtemp(prefix=f"soak_{store}_")
    sink, ckpt = f"{tmp}/sink", f"{tmp}/ckpt"
    plan = CascadePlan(
        base_name="soak", keys=["event_type"], ts_col="ts",
        price_col="value", timeframes=["1m", "5m"],
    )
    rec: dict = {"store": store, "n_keys": n_keys}

    def start():
        stream = (
            spark.readStream
            .schema("ts timestamp, event_type string, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        return start_streaming_cascade(
            plan, stream, sink_dir=sink, checkpoint_dir=ckpt,
            trigger_seconds=2,
        )

    def drain(queries):
        # hub first (tiers stream FROM the hub sink), then each tier
        for q in queries:
            q.processAllAvailable()
        state, state_bytes = collect_state(queries)
        for q in queries:
            q.stop()
        rec.setdefault("state_bytes_by_phase", []).append(state_bytes)
        return state

    try:
        # phase 1: half the input, then a mid-stream kill of all tiers
        publish_chunk(src_dir, 0)
        publish_chunk(src_dir, 1)
        t0 = time.time()
        qs = start()
        rec["phase1_state_rows"] = drain(qs)
        rec["phase1_secs"] = round(time.time() - t0, 1)
        hub_mid = spark.read.parquet(f"{sink}/{plan.hub_name}").count()
        rec["hub_bars_at_kill"] = hub_mid
        assert hub_mid > 0, "no closed hub bars before the kill"

        # phase 2: rest of the data arrives; restart from checkpoints.
        # recovery wall = start() -> first committed hub batch (state
        # reload happens inside that first batch's task setup).
        #
        # With ``reload_probe``, a SINGLE-ROW file (a distinct key, at
        # the resume point's event time) is published BEFORE the
        # catch-up chunks, so the first committed batch is checkpoint
        # state reload plus an epsilon batch — separating pure reload
        # cost from catch-up processing (a restarted node must do both,
        # but only reload scales with state; the pure-replay phase
        # can't measure reload because a batch with no data never
        # loads the stores).  The probe row's window end (second 91)
        # is ahead of the watermark it induces (90 - 1 s grace), and
        # the catch-up chunks start at second 90, so nothing is
        # late-dropped; the value-identity check below reads
        # chunk_*.parquet, which includes the probe file.
        if reload_probe:
            publish_probe(spark, src_dir, second=90)
        else:
            publish_chunk(src_dir, 2)
            publish_chunk(src_dir, 3)
        t0 = time.time()
        qs = start()
        hub = qs[0]
        while True:
            p = hub.lastProgress
            if p and p["numInputRows"] > 0:
                break
            if time.time() - t0 > 300:
                raise TimeoutError("hub never committed after restart")
            time.sleep(0.5)
        rec["recovery_to_first_batch_secs"] = round(time.time() - t0, 1)
        if reload_probe:
            rec["state_reload_secs"] = rec["recovery_to_first_batch_secs"]
            publish_chunk(src_dir, 2)
            publish_chunk(src_dir, 3)
        rec["phase2_state_rows"] = drain(qs)
        rec["phase2_secs"] = round(time.time() - t0, 1)
        if reload_probe:
            rec["catch_up_secs"] = round(
                rec["phase2_secs"] - rec["state_reload_secs"], 1)
        n_after = {
            t: spark.read.parquet(f"{sink}/{t}").count()
            for t in os.listdir(sink)
        }

        # phase 3: pure-replay restart — recovery at FULL state, no-op
        t0 = time.time()
        qs = start()
        drain(qs)
        rec["replay_restart_secs"] = round(time.time() - t0, 1)
        n_replay = {
            t: spark.read.parquet(f"{sink}/{t}").count()
            for t in os.listdir(sink)
        }
        rec["replay_noop"] = n_replay == n_after
        rec["bars_by_tier"] = n_after

        # exactly-once: zero duplicate (key, bucket) per tier sink
        dup = {}
        for t in n_after:
            dup[t] = (
                spark.read.parquet(f"{sink}/{t}")
                .groupBy("event_type", "bucket_start").count()
                .where("count > 1").count()
            )
        rec["dup_bars_by_tier"] = dup

        # value identity vs the batch hub over the same raw rows —
        # every streamed bar (incl. kill-spanning windows) must match
        ticks = spark.read.parquet(f"{src_dir}/chunk_*.parquet")
        batch_hub = build_hub(plan, ticks)
        streamed = spark.read.parquet(f"{sink}/{plan.hub_name}").select(
            "bucket_start", "event_type",
            "open", "high", "low", "close", "sum_v", "cnt")
        mism = streamed.alias("s").join(
            batch_hub.alias("b"), ["event_type", "bucket_start"], "left"
        ).where(
            "b.open IS NULL OR s.open != b.open OR s.high != b.high OR "
            "s.low != b.low OR s.close != b.close OR s.sum_v != b.sum_v "
            "OR s.cnt != b.cnt"
        ).count()
        rec["hub_bars_streamed"] = streamed.count()
        rec["hub_value_mismatches_vs_batch"] = mism
        rec["ok"] = bool(
            rec["replay_noop"] and mism == 0
            and all(v == 0 for v in dup.values())
            # the kill must land mid-stream (phase 1 saw only half the
            # data) and the 1m tier must EMIT closed bars
            and rec["hub_bars_at_kill"] < rec["hub_bars_streamed"]
            and n_after.get(plan.tier_name("1m"), 0) > 0
        )
        return rec
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_composed_store(spark, store: str, src_dir: str, n_keys: int,
                       reload_probe: bool = False) -> dict:
    """Composed-flagship kill/restart drill (r10, VERDICT r9 item 6):
    session gate -> 3-tier cascade -> streaming gap-fill, with the 1m
    GAP SPANNING THE KILL so the gap-filler's applyInPandasWithState
    state — (last_bucket_epoch_ns, last_close) per key — must recover
    exactly-once and then synthesize the fillers from recovered state.

    Event-time layout over a 360 s span (sessions shared by all 4
    markets): OPEN [0,120) and [240,360), CLOSED [120,240).  Data
    minutes per key: 0,1,4,5 -> gap minutes 2,3 are SYNTHESIZED.  The
    kill lands after chunks 0-1 (event time <=180 s): minute 0 has
    emitted (hub watermark reached 119 s) and the gap-filler holds
    (minute0, close0) per key; minutes 1/4/5 land after restart, so
    the filler rows for 2-3 are created post-restart FROM RECOVERED
    STATE.  Oracle: the streamed gap-fill sink must equal the BATCH
    gap_fill_bars operator over the final 1m sink, bit-exactly, plus
    zero duplicate (key, bucket) anywhere and a no-op pure-replay
    restart."""
    from pyspark.sql import functions as F

    from ksql_linq_spark.operators.calendar import in_session_join
    from ksql_linq_spark.operators.cascade import (
        CascadePlan,
        start_streaming_cascade,
    )
    from ksql_linq_spark.operators.gapfill import (
        gap_fill_bars,
        streaming_gap_fill,
    )

    provider, extra = PROVIDERS[store]
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    for _, other_extra in PROVIDERS.values():
        for k in other_extra:
            try:
                spark.conf.unset(k)
            except Exception:  # noqa: BLE001 — not set yet
                pass
    for k, v in extra.items():
        spark.conf.set(k, v)
    tmp = tempfile.mkdtemp(prefix=f"soakc_{store}_")
    sink, ckpt = f"{tmp}/sink", f"{tmp}/ckpt"
    plan = CascadePlan(
        base_name="soakc", keys=["event_type"], ts_col="ts",
        price_col="value", timeframes=["1m", "5m"],
    )
    sched = spark.createDataFrame(
        [(f"m{m}", o, c) for m in range(4) for o, c in ((0, 120), (240, 360))],
        "market_key string, o int, c int",
    ).select(
        "market_key",
        (F.to_timestamp(F.lit(BASE_TS)) + F.make_dt_interval(
            F.lit(0), F.lit(0), F.lit(0), F.col("o"))).alias("open_time"),
        (F.to_timestamp(F.lit(BASE_TS)) + F.make_dt_interval(
            F.lit(0), F.lit(0), F.lit(0), F.col("c"))).alias("close_time"),
    )
    rec: dict = {"store": store, "n_keys": n_keys, "topology":
                 "session-gate -> 1s hub -> 1m/5m -> streaming gap-fill"}

    def start():
        stream = (
            spark.readStream
            .schema("ts timestamp, event_type string, value double, "
                    "market string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        gated = in_session_join(
            stream, sched, row_key="market", ts_col="ts"
        ).drop("market")
        queries = start_streaming_cascade(
            plan, gated, sink_dir=sink, checkpoint_dir=ckpt,
            trigger_seconds=2,
        )
        bars_1m = (
            spark.readStream
            .schema("bucket_start timestamp, event_type string, "
                    "open double, high double, low double, close double, "
                    "sum_v double, cnt long")
            .parquet(f"{sink}/{plan.tier_name('1m')}")
            .select("event_type", "bucket_start", "close")
        )
        gf = streaming_gap_fill(
            bars_1m, key="event_type", bucket_col="bucket_start",
            close_col="close", timeframe="1m",
        )
        queries.append(
            gf.writeStream.format("parquet").queryName("soakc_gapfill")
            .option("path", f"{sink}/gapfill")
            .option("checkpointLocation", f"{ckpt}/gapfill")
            .outputMode("append")
            .trigger(processingTime="2 seconds")
            .start()
        )
        return queries

    def drain(queries):
        # pipeline order: hub -> tiers -> gap-fill (each feeds the next
        # through its parquet sink)
        for q in queries:
            q.processAllAvailable()
        state, state_bytes = collect_state(queries)
        for q in queries:
            q.stop()
        rec.setdefault("state_rows_by_phase", []).append(state)
        rec.setdefault("state_bytes_by_phase", []).append(state_bytes)
        return state

    try:
        # phase 1: first half (event time 0-180 s), then kill all four
        publish_chunk(src_dir, 0)
        publish_chunk(src_dir, 1)
        t0 = time.time()
        qs = start()
        drain(qs)
        rec["phase1_secs"] = round(time.time() - t0, 1)
        gf_at_kill = spark.read.parquet(f"{sink}/gapfill")
        rec["gapfill_rows_at_kill"] = gf_at_kill.count()
        rec["gapfill_synthetic_at_kill"] = (
            gf_at_kill.where("is_synthetic").count()
        )
        assert rec["gapfill_rows_at_kill"] > 0, \
            "gap-filler saw no bars before the kill"

        # phase 2: second half; all four queries restart from ckpt.
        # With ``reload_probe``: a single-row probe at second 180 (the
        # resume point) lands INSIDE the closed session [120, 240), so
        # the gate drops it — the hub's probe batch reloads its store
        # and commits with ZERO sink/watermark effect.  Downstream
        # stages (1m/5m tiers, gap-fill) tick only when the hub writes
        # new files, so their restart-to-first-data-commit walls —
        # recorded per stage below — are PIPELINE recovery latencies
        # (own store reload + upstream propagation), not pure reloads.
        if reload_probe:
            publish_probe(spark, src_dir, second=180, with_market=True)
        else:
            publish_chunk(src_dir, 2)
            publish_chunk(src_dir, 3)
        t0 = time.time()
        qs = start()
        hub = qs[0]
        while True:
            p = hub.lastProgress
            if p and p["numInputRows"] > 0:
                break
            if time.time() - t0 > 300:
                raise TimeoutError("hub never committed after restart")
            time.sleep(0.5)
        rec["recovery_to_first_batch_secs"] = round(time.time() - t0, 1)
        if reload_probe:
            rec["state_reload_secs"] = rec["recovery_to_first_batch_secs"]
            publish_chunk(src_dir, 2)
            publish_chunk(src_dir, 3)
            first_commit: dict = {}
            while len(first_commit) < len(qs):
                for q in qs:
                    if q.name in first_commit:
                        continue
                    # scan recentProgress (not just lastProgress): a
                    # stage may commit its ONLY data batch and then
                    # overwrite lastProgress with empty-trigger
                    # progresses before a slow poll observes it.  The
                    # hub's 1-row probe batch doesn't count as its
                    # first DATA commit; catch-up chunks are n_rows/4
                    # rows, so > 1 distinguishes them unambiguously
                    need = 1 if q is hub else 0
                    if any(p["numInputRows"] > need
                           for p in q.recentProgress):
                        first_commit[q.name] = round(time.time() - t0, 1)
                if time.time() - t0 > 600:
                    raise TimeoutError(
                        f"stages never committed: have {first_commit}")
                time.sleep(0.5)
            rec["first_data_commit_secs_by_stage"] = first_commit
        drain(qs)
        rec["phase2_secs"] = round(time.time() - t0, 1)
        if reload_probe:
            rec["catch_up_secs"] = round(
                rec["phase2_secs"] - rec["state_reload_secs"], 1)
        n_after = {
            t: spark.read.parquet(f"{sink}/{t}").count()
            for t in os.listdir(sink)
        }

        # phase 3: pure-replay restart — must append nothing anywhere
        t0 = time.time()
        qs = start()
        drain(qs)
        rec["replay_restart_secs"] = round(time.time() - t0, 1)
        n_replay = {
            t: spark.read.parquet(f"{sink}/{t}").count()
            for t in os.listdir(sink)
        }
        rec["replay_noop"] = n_replay == n_after
        rec["rows_by_sink"] = n_after

        gf = spark.read.parquet(f"{sink}/gapfill")
        rec["gapfill_rows_final"] = gf.count()
        rec["gapfill_synthetic_final"] = gf.where("is_synthetic").count()
        # exactly-once: zero duplicate (key, bucket) in every sink
        dup = {}
        for t in n_after:
            dup[t] = (
                spark.read.parquet(f"{sink}/{t}")
                .groupBy("event_type", "bucket_start").count()
                .where("count > 1").count()
            )
        rec["dup_bars_by_sink"] = dup

        # oracle: streamed gap-fill == batch gap_fill_bars over the SAME
        # final 1m sink (kill-spanning synthesis included) — zero rows
        # missing, zero extra, closes bit-equal
        bars = spark.read.parquet(f"{sink}/{plan.tier_name('1m')}")
        expect = gap_fill_bars(
            bars.select("event_type", "bucket_start", "close"),
            keys=["event_type"], bucket_col="bucket_start",
            timeframe="1m", ohlc=("close",) * 4,
        ).select("event_type", "bucket_start", "close", "is_synthetic")
        got = gf.select("event_type", "bucket_start", "close",
                        "is_synthetic")
        rec["gapfill_missing_vs_batch"] = expect.exceptAll(got).count()
        rec["gapfill_extra_vs_batch"] = got.exceptAll(expect).count()
        rec["ok"] = bool(
            rec["replay_noop"]
            and all(v == 0 for v in dup.values())
            and rec["gapfill_missing_vs_batch"] == 0
            and rec["gapfill_extra_vs_batch"] == 0
            # the kill must land MID-GAP: synthetic rows exist at the
            # end but none had been emitted before the kill
            and rec["gapfill_synthetic_at_kill"] == 0
            and rec["gapfill_synthetic_final"] > 0
            and rec["gapfill_rows_at_kill"] < rec["gapfill_rows_final"]
        )
        return rec
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def fit_recovery_slope(points: list[tuple[float, float]]) -> dict:
    """Least-squares fit of recovery wall (secs) vs reloaded state rows.

    ``points`` is [(state_rows, secs), ...].  Returns the slope in
    seconds per 100k state rows, the intercept (the fixed restart cost:
    JVM query planning + checkpoint metadata + first-batch setup), R^2,
    and projected recovery walls at 1M / 10M state rows per executor —
    the per-node state a 100 TB deployment actually sees after keys are
    sharded across the fleet (total state / n_executors, NOT total
    state).  Pure function so the fit arithmetic is unit-testable
    without a ladder run."""
    n = len(points)
    if n < 2:
        raise ValueError("need >= 2 rungs to fit a slope")
    xs = [float(p[0]) for p in points]
    ys = [float(p[1]) for p in points]
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        raise ValueError("all rungs have identical state rows")
    sxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    slope = sxy / sxx          # secs per state row
    intercept = my - slope * mx
    syy = sum((y - my) ** 2 for y in ys)
    r2 = 1.0 if syy == 0 else (sxy * sxy) / (sxx * syy)
    # clamp at the fitted fixed cost: a noise-dominated negative slope
    # (low r2) must not extrapolate to a physically impossible RTO
    # below the restart's own fixed cost
    proj = {
        f"projected_secs_at_{label}_state_rows": round(
            max(intercept + slope * rows, min(intercept, min(ys)), 0.0), 2)
        for label, rows in (("1M", 1e6), ("10M", 1e7))
    }
    return {
        "points": [[int(x), round(y, 2)] for x, y in points],
        "slope_secs_per_100k_state_rows": round(slope * 1e5, 3),
        "fixed_cost_secs": round(intercept, 2),
        "r2": round(r2, 4),
        **proj,
    }


def _phase_state_rows(rec: dict, phase: int) -> dict:
    """Per-query state rows for a phase, across both drill shapes:
    run_store records phase{1,2}_state_rows; run_composed_store appends
    to state_rows_by_phase (phase 1 -> index 0, phase 2 -> index 1)."""
    if f"phase{phase}_state_rows" in rec:
        return rec[f"phase{phase}_state_rows"]
    return rec["state_rows_by_phase"][phase - 1]


def run_recovery_ladder(stores: list[str], key_rungs: list[int],
                        rows_per_key: int, composed: bool = False) -> dict:
    """The kill/restart drill at each key cardinality, per store, with
    rows-per-key constant.  Each rung reuses :func:`run_store` (or
    :func:`run_composed_store` for the flagship topology, whose
    gap-fill stage carries custom applyInPandasWithState state) whole —
    including its exactly-once / value-identity / replay-no-op oracle —
    so every point on the curve is a VERIFIED recovery, not just a
    timing."""
    spark = build_session("recovery-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"mode": "recovery_ladder_composed" if composed
                 else "recovery_ladder",
                 "rows_per_key": rows_per_key,
                 "key_rungs": key_rungs, "stores": {}}
    for store in stores:
        rungs = []
        for n_keys in key_rungs:
            n_rows = n_keys * rows_per_key
            src = tempfile.mkdtemp(prefix=f"rladder_{store}_{n_keys}_")
            try:
                if composed:
                    make_chunks(spark, src, n_keys, n_rows,
                                span_s=360, with_market=True)
                    rec = run_composed_store(spark, store, src, n_keys,
                                             reload_probe=True)
                else:
                    make_chunks(spark, src, n_keys, n_rows)
                    rec = run_store(spark, store, src, n_keys,
                                    reload_probe=True)
                rec["n_rows"] = n_rows
            except Exception as e:  # noqa: BLE001 — record, don't crash
                rec = {"store": store, "n_keys": n_keys, "ok": False,
                       "error": f"{type(e).__name__}: {e}"[:400]}
                # a mid-phase failure (timeout, oracle assert) leaves
                # this rung's queries running in the SHARED session —
                # stop them or they keep triggering against deleted
                # dirs and pollute every later rung's timings
                for q in spark.streams.active:
                    try:
                        q.stop()
                    except Exception:  # noqa: BLE001 — best-effort
                        pass
            finally:
                shutil.rmtree(src, ignore_errors=True)
                shutil.rmtree(f"{src}_staged", ignore_errors=True)
            rungs.append(rec)
            print(json.dumps({k: rec.get(k) for k in (
                "store", "n_keys", "ok", "state_reload_secs",
                "catch_up_secs", "replay_restart_secs",
                "first_data_commit_secs_by_stage")}))
        entry: dict = {"rungs": rungs}
        good = [r for r in rungs if r.get("ok")]
        if len(good) >= 2:
            # The probe batch opens ONLY the hub query's store (the
            # downstream stages see no new hub files until catch-up),
            # so the reload fit's x-axis is HUB state rows — tier and
            # gap-fill reload is paid inside catch_up, whose fit uses
            # total rows.  Replay restarts at phase-2 state but runs
            # NO batch, so it is the fixed restart cost floor, not a
            # reload measure.
            def hub_rows(r):
                return sum(v for k, v in _phase_state_rows(r, 1).items()
                           if k.endswith("_1s_rows"))

            entry["reload_fit"] = fit_recovery_slope([
                (hub_rows(r), r["state_reload_secs"]) for r in good])
            entry["reload_fit"]["x_axis"] = "hub_state_rows"
            entry["replay_fit"] = fit_recovery_slope([
                (sum(_phase_state_rows(r, 2).values()),
                 r["replay_restart_secs"]) for r in good])
            entry["catch_up_fit"] = fit_recovery_slope([
                (sum(_phase_state_rows(r, 1).values()),
                 r["catch_up_secs"]) for r in good])
        out["stores"][store] = entry
    return out


DEFAULT_LADDER_KEYS = [10_000, 50_000, 100_000, 250_000, 500_000]


def parse_ladder_flags(
    argv: list[str],
) -> tuple[list[str], list[int], int, bool]:
    """Parse the --recovery-ladder flag tail.  All validation happens
    HERE, before any SparkSession exists — same fail-before-JVM
    contract as streaming_throughput_probe._parse_flags."""
    stores = ["hdfs", "rocksdb"]
    key_rungs = list(DEFAULT_LADDER_KEYS)
    rows_per_key = 60
    composed = False
    i = 0
    while i < len(argv):
        flag = argv[i]
        if flag == "--composed":
            composed = True
            i += 1
            continue
        if i + 1 >= len(argv):
            raise ValueError(f"flag {flag} needs a value")
        val = argv[i + 1]
        if flag == "--store":
            if val not in ("hdfs", "rocksdb", "both"):
                raise ValueError(f"unknown store {val!r}")
            stores = ["hdfs", "rocksdb"] if val == "both" else [val]
        elif flag == "--keys":
            try:
                key_rungs = [int(k) for k in val.split(",") if k]
            except ValueError:
                raise ValueError(f"--keys wants a csv of ints, got {val!r}")
            if len(key_rungs) < 2 or any(k < 1 for k in key_rungs):
                raise ValueError("--keys needs >= 2 positive rungs")
            if len(set(key_rungs)) != len(key_rungs):
                raise ValueError("--keys rungs must be distinct")
        elif flag == "--rows-per-key":
            rows_per_key = int(val)
            if not 8 <= rows_per_key <= 180:
                # >= 8: 4 chunks x >= 2 rows so every phase has data.
                # <= 180: a key recurs every 180/rows_per_key seconds
                # over the 180 s span, so above 180 the same key lands
                # twice in one second and min_by/max_by ties break the
                # value-identity oracle AFTER the multi-minute run
                raise ValueError("--rows-per-key must be in [8, 180]")
        else:
            raise ValueError(f"unknown flag {flag}")
        i += 2
    span = 360 if composed else 180
    if min(key_rungs) * rows_per_key < span:
        # make_chunks computes rows_per_sec = n_rows // span; below one
        # row/sec it divides by zero — fail here, not after JVM startup
        raise ValueError(
            f"min keys ({min(key_rungs)}) x rows-per-key ({rows_per_key}) "
            f"must be >= {span} (one row per second of the span)")
    if composed and any(k % 4 for k in key_rungs):
        # deterministic session gating needs market constant per key
        raise ValueError("--composed needs every key rung % 4 == 0")
    return stores, key_rungs, rows_per_key, composed


def main() -> int:
    argv = sys.argv[1:]
    if argv[:1] == ["--recovery-ladder"]:
        try:
            stores, key_rungs, rows_per_key, composed = parse_ladder_flags(
                argv[1:])
        except ValueError as e:
            print(f"usage error: {e}", file=sys.stderr)
            return 2
        out = run_recovery_ladder(stores, key_rungs, rows_per_key, composed)
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))),
            "RECOVERY_LADDER_COMPOSED.json" if composed
            else "RECOVERY_LADDER.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        ok = all(r.get("ok") for e in out["stores"].values()
                 for r in e["rungs"])
        print(f"{'ALL OK' if ok else 'FAILURES'} -> {path}")
        return 0 if ok else 1
    composed = False
    if argv[:1] == ["--composed"]:
        composed = True
        argv = argv[1:]
    stores = ["hdfs", "rocksdb"]
    if argv[:1] == ["--store"]:
        stores = [argv[1]] if argv[1] != "both" else stores
        argv = argv[2:]
    n_keys = int(argv[0]) if argv else 100_000
    n_rows = int(argv[1]) if len(argv) > 1 else 6_000_000

    if composed:
        spark = build_session("restart-soak-composed")
        spark.sparkContext.setLogLevel("ERROR")
        out = {"mode": "composed", "n_keys": n_keys, "n_rows": n_rows,
               "stores": []}
        for store in stores:
            src = tempfile.mkdtemp(prefix=f"soakc_src_{store}_")
            try:
                make_chunks(spark, src, n_keys, n_rows,
                            span_s=360, with_market=True)
                rec = run_composed_store(spark, store, src, n_keys)
            except Exception as e:  # noqa: BLE001 — record, don't crash
                rec = {"store": store, "ok": False,
                       "error": f"{type(e).__name__}: {e}"[:400]}
            finally:
                shutil.rmtree(src, ignore_errors=True)
                shutil.rmtree(f"{src}_staged", ignore_errors=True)
            out["stores"].append(rec)
            print(json.dumps(rec))
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "RESTART_SOAK_COMPOSED.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        ok = all(r.get("ok") for r in out["stores"])
        print(f"{'ALL OK' if ok else 'FAILURES'} -> {path}")
        return 0 if ok else 1

    spark = build_session("restart-soak")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"n_keys": n_keys, "n_rows": n_rows, "stores": []}
    for store in stores:
        src = tempfile.mkdtemp(prefix=f"soak_src_{store}_")
        try:
            make_chunks(spark, src, n_keys, n_rows)
            rec = run_store(spark, store, src, n_keys)
        except Exception as e:  # noqa: BLE001 — record, don't crash the sweep
            rec = {"store": store, "ok": False,
                   "error": f"{type(e).__name__}: {e}"[:400]}
        finally:
            shutil.rmtree(src, ignore_errors=True)
            shutil.rmtree(f"{src}_staged", ignore_errors=True)
        out["stores"].append(rec)
        print(json.dumps(rec))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "RESTART_SOAK.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    ok = all(r.get("ok") for r in out["stores"])
    print(f"{'ALL OK' if ok else 'FAILURES'} -> {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
