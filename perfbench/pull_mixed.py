"""pull_mixed: one closed-loop client issuing a seeded mix of pull reads
and writes against materialized bar tiers.

Set-up writes the 1m bar tier (``build_cascade`` + ``write_bar_tables``),
a hopping-window table and a keyed ``EventSet``.  The client then sends
``TimeBucket.to_list`` (key prefix), ``TimeBucket.read`` (point read with
tolerance), ``HoppingWindowReader.to_list`` (time range) and, one request
in five, a write followed by a read that must see it (``EventSet.add``,
or ``write_bar_tables(mode="append")`` for a new day).  Every answer is
compared with a numpy evaluation of the same request over the generated
ticks.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time

import numpy as np

import gen
import probe

OPS = ("to_list", "read", "hop", "write")
# one block of 10 requests, shuffled per block: 30% / 30% / 20% / 20%, the
# writes one EventSet append and one bar-table append.  A run is one block
# per started BLOCK_SECONDS of --seconds (a block takes 4-5 s on a 4-core
# host), so every run sends the same requests in the same mix whatever
# the seed and the host's speed.  With a random mix, the share of slow
# bar appends decided where p90 fell; stopping on a clock let a fast run
# send an extra block.
BLOCK = ("to_list",) * 3 + ("read",) * 3 + ("hop",) * 2 + ("write",) * 2
BLOCK_SECONDS = 3
# ticks, symbols, trading hours on day 0
SHAPE = {"full": (10_000, 400, 4), "tiny": (4_000, 40, 1)}
HOP_SIZE_S, HOP_STEP_S, BAR_S = 300, 60, 60
DAY0 = dt.datetime(2024, 1, 2)


def _ticks(rng, n: int, symbols: list[str], day: int, hours: float) -> dict:
    """Ticks with distinct timestamps (so open/close are unambiguous)."""
    span_us = int(hours * 3600 * 1e6)
    off = np.sort(rng.choice(span_us, n, replace=False)) + day * gen.US_PER_DAY
    sym = np.array(symbols)[(rng.zipf(1.3, n) - 1) % len(symbols)]
    return {"ts_us": off.astype(np.int64), "symbol": sym,
            "price": gen.money(rng, 10.0, 500.0, n)}


def _to_spark(spark, t: dict):
    import pyarrow as pa

    tbl = pa.table({"ts": gen.ts_us(DAY0.strftime("%Y-%m-%d"), t["ts_us"]),
                    "symbol": t["symbol"], "price": t["price"]})
    return spark.createDataFrame(tbl.to_pandas())


class Model:
    """Expected answers: per-symbol 1m bars and raw ticks, in numpy."""

    def __init__(self):
        self.bars: dict[str, dict[int, tuple]] = {}
        self.ticks: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def add_ticks(self, t: dict) -> None:
        order = np.lexsort((t["ts_us"], t["symbol"]))
        ts, sym, px = t["ts_us"][order], t["symbol"][order], t["price"][order]
        bucket = ts // (BAR_S * 1_000_000)
        for s in np.unique(sym):
            m = sym == s
            old = self.ticks.get(s)
            self.ticks[s] = (np.concatenate([old[0], ts[m]]) if old else ts[m],
                             np.concatenate([old[1], px[m]]) if old else px[m])
            b, p = bucket[m], px[m]
            starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
            ends = np.r_[starts[1:], len(b)]
            bars = self.bars.setdefault(s, {})
            for i, j in zip(starts, ends):
                bars[int(b[i])] = (float(p[i]), float(p[i:j].max()),
                                   float(p[i:j].min()), float(p[j - 1]), int(j - i))

    def to_list(self, s: str) -> list[tuple]:
        return [(k, *v) for k, v in sorted(self.bars.get(s, {}).items())]

    def read(self, s: str, bucket: int, tol: int):
        bars = self.bars.get(s, {})
        for k in range(bucket, bucket - tol - 1, -1):
            if k in bars:
                return (k, *bars[k])
        return None

    def hop(self, s: str, lo_s: int, hi_s: int) -> list[tuple]:
        """(window_start_s, count, max price) of the 5m/1m hopping windows
        with start in [lo_s, hi_s)."""
        ts, px = self.ticks.get(s, (np.empty(0, np.int64), np.empty(0)))
        sec = ts // 1_000_000
        out = []
        for w in range(lo_s - lo_s % HOP_STEP_S, hi_s, HOP_STEP_S):
            if w < lo_s:
                continue
            m = (sec >= w) & (sec < w + HOP_SIZE_S)
            if m.any():
                out.append((w, int(m.sum()), float(px[m].max())))
        return out


def _tier_1m(plan, ticks) -> dict:
    """The one tier the reads use; the hub and 5m tables would only add
    set-up time."""
    from ksql_linq_spark.operators.cascade import build_cascade

    name = plan.tier_name("1m")
    return {name: build_cascade(plan, ticks)[name]}


def _epoch_s(ts: dt.datetime) -> int:
    return int((ts - dt.datetime(1970, 1, 1)).total_seconds())


def _bar_key(r) -> tuple:
    return (_epoch_s(r["bucket_start"]) // BAR_S, r["open"], r["high"], r["low"],
            r["close"], int(r["cnt"]))


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from ksql_linq_spark.context import SparkKsqlContext
    from ksql_linq_spark.entity import Column, Entity
    from ksql_linq_spark.operators.cascade import CascadePlan, write_bar_tables
    from ksql_linq_spark.runtime import HoppingWindowReader, Period, TimeBucket

    spark, tr = ctx.spark, ctx.tracer
    n_ticks, n_sym, hours = SHAPE[ctx.scale]
    rng = np.random.default_rng(ctx.seed)
    symbols = [f"s{i:04d}" for i in range(n_sym)]
    base = os.path.join(ctx.work, "bars")
    hop_path = os.path.join(ctx.work, "hop")
    plan = CascadePlan(base_name="bars", keys=["symbol"], ts_col="ts",
                       price_col="price", timeframes=["1m", "5m"])
    model = Model()

    with ctx.phase("generate"):
        t = _ticks(rng, n_ticks, symbols, 0, hours)
        model.add_ticks(t)
        tdf = _to_spark(spark, t)
    with ctx.phase("bar_tables"):
        write_bar_tables(_tier_1m(plan, tdf), base)
    with ctx.phase("hop_table"):
        (tdf.groupBy("symbol", F.window("ts", f"{HOP_SIZE_S} seconds", f"{HOP_STEP_S} seconds"))
         .agg(F.count(F.lit(1)).alias("n"), F.max("price").alias("max_price"))
         .select("symbol", F.col("window.start").alias("window_start"), "n", "max_price")
         .write.mode("overwrite").parquet(hop_path))
    with ctx.phase("event_set"):
        kctx = SparkKsqlContext(spark)
        kctx.register_entity(Entity("fills", [Column("id", "long", key_order=0),
                                              Column("symbol", "string"),
                                              Column("px", "double")]))
        fills = kctx.entity_set("fills", path=os.path.join(ctx.work, "fills"))
        fills.add([(0, symbols[0], 1.0)])
    bars_1m = TimeBucket.get(spark, "bars", Period.minutes(1), ["symbol"], path_prefix=base)
    hop = HoppingWindowReader(spark, hop_path, ["symbol"])

    # the request stream: op, symbol, argument — all drawn from the seed
    day0_s = _epoch_s(DAY0)
    span_b = int(hours * 3600) // BAR_S

    block: list[str] = []

    def request():
        op = block.pop()
        s = symbols[int((rng.zipf(1.3) - 1) % n_sym)]
        if op == "read":
            return op, s, (day0_s // BAR_S + int(rng.integers(0, span_b)), int(rng.integers(0, 3)))
        if op == "hop":
            lo = day0_s + int(rng.integers(0, span_b)) * BAR_S
            return op, s, (lo, lo + int(rng.integers(5, 30)) * BAR_S)
        return op, s, None

    next_id, next_day = 1, 1
    lat: dict[str, list[float]] = {o: [] for o in OPS}
    stats = {o: {"jobs": 0.0, "files_read": 0.0} for o in OPS}
    rows_scanned = rows_returned = 0.0
    attempted = failed = 0
    store = probe.SqlStore(spark)

    with ctx.phase("warm_up"):  # one request of each read kind
        bars_1m.to_list(symbols[0])
        bars_1m.read([symbols[0]], DAY0, 1)
        hop.to_list([symbols[0]], DAY0, DAY0 + dt.timedelta(minutes=10))
    n_requests = len(BLOCK) * max(1, math.ceil(ctx.seconds / BLOCK_SECONDS))
    ctx.start_timed()
    t_start = time.perf_counter()
    measuring = 0.0
    for _ in range(n_requests):
        if not block:
            block.extend(rng.permutation(BLOCK).tolist())
        op, s, arg = request()
        mark = store.count()
        t0 = time.perf_counter()
        with tr.span(op, symbol=s):
            if op == "to_list":
                got = [_bar_key(r) for r in bars_1m.to_list(s)]
                n_out = len(got)
            elif op == "read":
                b, tol = arg
                r = bars_1m.read([s], dt.datetime.utcfromtimestamp(b * BAR_S), tol)
                got = None if r is None else _bar_key(r)
                n_out = 0 if r is None else 1
            elif op == "hop":
                rows = hop.to_list([s], dt.datetime.utcfromtimestamp(arg[0]),
                                   dt.datetime.utcfromtimestamp(arg[1]))
                got = [(_epoch_s(r["window_start"]), int(r["n"]), r["max_price"]) for r in rows]
                n_out = len(got)
            elif next_id % 2:  # keyed EventSet append, then read it back
                row = (next_id, s, float(next_id))
                fills.add([row])
                back = fills.map(lambda df, k=next_id: df.filter(F.col("id") == k)).collect()
                got = [tuple(r) for r in back]
                n_out = len(got)
            else:  # a new day of bars appended, then one of its bars read back
                nt = _ticks(rng, 200, symbols[:20], next_day, 0.05)
                write_bar_tables(_tier_1m(plan, _to_spark(spark, nt)), base, mode="append")
                s = str(nt["symbol"][0])
                b = int(nt["ts_us"][0] // (BAR_S * 1_000_000)) + day0_s // BAR_S
                r = bars_1m.read([s], dt.datetime.utcfromtimestamp(b * BAR_S), 0)
                got = None if r is None else _bar_key(r)
                n_out = 1
        lat[op].append((time.perf_counter() - t0) * 1e3)
        t_m = time.perf_counter()
        attempted += 1
        # expected answer, outside the timed window
        if op == "to_list":
            want = [(b + day0_s // BAR_S, *v) for b, *v in model.to_list(s)]
        elif op == "read":
            w = model.read(s, arg[0] - day0_s // BAR_S, arg[1])
            want = None if w is None else (w[0] + day0_s // BAR_S, *w[1:])
        elif op == "hop":
            want = [(w + day0_s, n, m) for w, n, m in
                    model.hop(s, arg[0] - day0_s, arg[1] - day0_s)]
        elif next_id % 2:
            want = [row]
            next_id += 1
        else:
            model.add_ticks(nt)
            w = model.read(s, b - day0_s // BAR_S, 0)
            want = (w[0] + day0_s // BAR_S, *w[1:])
            next_id += 1
            next_day += 1
        if ctx.corrupt and attempted == 1:
            want = ["corrupted"]
        if got != want:
            failed += 1
            ctx.log(f"pull_mixed {op} {s} {arg}: answer differs from the reference")
        if tr.enabled:
            for ex in store.executions_since(mark):
                tot = probe.execution_totals(spark, ex)
                stats[op]["jobs"] += tot["jobs"]
                stats[op]["files_read"] += tot["files_read"]
                if op != "write":
                    rows_scanned += tot["rows_scanned"]
            if op != "write":
                rows_returned += n_out
        measuring += time.perf_counter() - t_m
    elapsed = time.perf_counter() - t_start - measuring
    ctx.end_timed()

    samples = [x for o in OPS for x in lat[o]]
    layer: dict[str, float] = {}
    for o in OPS:
        n = max(len(lat[o]), 1)
        layer[f"{o}.latency_p50_ms"] = probe.median(lat[o])
        layer[f"{o}.jobs"] = stats[o]["jobs"] / n
        layer[f"{o}.files_read"] = stats[o]["files_read"] / n
    layer["rows_scanned_per_row_returned"] = rows_scanned / max(rows_returned, 1.0)
    return {
        "attempted": attempted,
        "failed": failed,
        "throughput_per_s": attempted / elapsed,
        "latency_ms": samples,
        "per_layer": layer if tr.enabled else {},
        "diag": {"requests": {o: len(lat[o]) for o in OPS}},
    }
