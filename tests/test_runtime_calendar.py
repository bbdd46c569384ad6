"""Market-calendar gating, TimeBucket read API, streaming cascade tests."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ksql_linq_spark.operators.calendar import (
    in_session_join,
    make_daily_schedule,
    session_tag_join,
)
from ksql_linq_spark.operators.cascade import CascadePlan, build_cascade
from ksql_linq_spark.runtime import HoppingWindowReader, Period, TimeBucket
from ksql_linq_spark.sources import read_table


def test_make_daily_schedule_weekdays_only(spark):
    s = make_daily_schedule(spark, ["X"], "2024-01-01", "2024-01-14")
    days = [r["open_time"].date() for r in s.collect()]
    assert dt.date(2024, 1, 6) not in days  # Saturday
    assert dt.date(2024, 1, 7) not in days  # Sunday
    assert dt.date(2024, 1, 8) in days  # Monday
    assert len(days) == 10  # two full weeks of weekdays


def test_in_session_join_boundaries(spark):
    sched = make_daily_schedule(spark, ["X"], "2024-01-01", "2024-01-01")
    rows = [
        ("X", dt.datetime(2024, 1, 1, 9, 0, 0)),  # open inclusive
        ("X", dt.datetime(2024, 1, 1, 16, 59, 59)),
        ("X", dt.datetime(2024, 1, 1, 17, 0, 0)),  # close exclusive
        ("X", dt.datetime(2024, 1, 1, 8, 59, 59)),
        ("Y", dt.datetime(2024, 1, 1, 10, 0, 0)),  # unknown market
    ]
    df = spark.createDataFrame(rows, "market string, ts timestamp")
    kept = [r["ts"] for r in in_session_join(df, sched, "market", "ts").collect()]
    assert sorted(kept) == [
        dt.datetime(2024, 1, 1, 9, 0, 0),
        dt.datetime(2024, 1, 1, 16, 59, 59),
    ]


def test_in_session_join_bucketed_parity(spark):
    """The interval-bucketed gate (round 10: each fact row probes only
    the 1-2 sessions overlapping its coarse time bucket, not its
    market's whole schedule) must keep EXACT semantics vs the plain
    semi-join: open inclusive, close exclusive, sub-second timestamps,
    sessions of mixed lengths, markets with no schedule, inverted
    bounds matching nothing."""
    sched_rows = [
        # mixed lengths: 10 s bursts and an 8 h session set the bucket
        # width from the LONGEST interval
        ("A", dt.datetime(2024, 1, 1, 0, 0, 0), dt.datetime(2024, 1, 1, 0, 0, 10)),
        ("A", dt.datetime(2024, 1, 1, 0, 0, 12), dt.datetime(2024, 1, 1, 0, 0, 22)),
        ("B", dt.datetime(2024, 1, 1, 9, 0, 0), dt.datetime(2024, 1, 1, 17, 0, 0)),
        # inverted interval: matches nothing, must not corrupt buckets
        ("C", dt.datetime(2024, 1, 2, 5, 0, 0), dt.datetime(2024, 1, 2, 4, 0, 0)),
        # DECADES-scale inverted sentinel (close = epoch 0, ~54 years
        # before open): before the round-11 clamp this single garbage
        # row passed the NULL-only guard and exploded an unbounded
        # descending sequence (~59k buckets at 8 h width) into the
        # broadcast side; it must be filtered, not exploded
        ("D", dt.datetime(2024, 1, 1, 12, 0, 0), dt.datetime(1970, 1, 1, 0, 0, 0)),
    ]
    sched = spark.createDataFrame(
        sched_rows, "market_key string, open_time timestamp, close_time timestamp"
    )
    us = dt.timedelta(microseconds=1)
    probe_rows = []
    pid = 0
    for mk, o, c in sched_rows:
        for ts in (o - us, o, o + us, c - us, c, c + us,
                   o + (c - o) / 2):
            probe_rows.append((mk, ts, pid))
            pid += 1
    probe_rows += [("Z", dt.datetime(2024, 1, 1, 0, 0, 5), pid)]  # no schedule
    df = spark.createDataFrame(probe_rows, "market string, ts timestamp, id long")
    plain = {r["id"] for r in in_session_join(
        df, sched, "market", "ts", bucketed=False).collect()}
    fast_df = in_session_join(df, sched, "market", "ts", bucketed=True)
    # the bucketed BRANCH must be taken (not the plain fallback), so
    # the inverted sentinels exercise the explode-side clamp for real
    assert "__bucket" in fast_df._jdf.queryExecution().analyzed().toString()
    fast = {r["id"] for r in fast_df.collect()}
    assert plain == fast and plain  # identical, and non-trivially so


def test_session_tag_join_carries_session(spark):
    sched = make_daily_schedule(spark, ["X"], "2024-01-01", "2024-01-02")
    df = spark.createDataFrame(
        [("X", dt.datetime(2024, 1, 2, 10, 0))], "market string, ts timestamp"
    )
    r = session_tag_join(df, sched, "market", "ts").first()
    assert r["session_open"] == dt.datetime(2024, 1, 2, 9, 0)
    assert r["session_close"] == dt.datetime(2024, 1, 2, 17, 0)


@pytest.fixture(scope="module")
def bar_tables(spark, sf_dir):
    """Materialize a small cascade to parquet for the read-API tests."""
    tmp = tempfile.mkdtemp(prefix="bars_")
    ev = read_table(spark, sf_dir, "events")
    plan = CascadePlan(
        base_name="bars", keys=["event_type"], ts_col="ts",
        price_col="value", timeframes=["5m", "1h"],
    )
    for name, df in build_cascade(plan, ev).items():
        df.write.mode("overwrite").parquet(f"{tmp}/{name}")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_timebucket_prefix_read(spark, bar_tables):
    tb = TimeBucket.get(
        spark, "bars", Period.minutes(5), key_cols=["event_type"],
        path_prefix=bar_tables,
    )
    rows = tb.to_list("click", limit=5)
    assert rows and all(r["event_type"] == "click" for r in rows)
    assert [r["bucket_start"] for r in rows] == sorted(r["bucket_start"] for r in rows)


def test_timebucket_point_read_with_tolerance(spark, bar_tables):
    tb = TimeBucket.get(
        spark, "bars", Period.hours(1), key_cols=["event_type"],
        path_prefix=bar_tables,
    )
    first = tb.to_list("error", limit=1)[0]
    exact = tb.read(["error"], first["bucket_start"])
    assert exact["bucket_start"] == first["bucket_start"]
    # a ts 1 bucket later with tolerance 1 resolves to the earlier bar
    later = first["bucket_start"] + dt.timedelta(hours=1)
    near = tb.read(["error"], later, tolerance_buckets=1)
    assert near is not None
    missing = tb.read(["error"], first["bucket_start"] - dt.timedelta(hours=2))
    assert missing is None or missing["bucket_start"] <= first["bucket_start"]


def test_timebucket_wait_timeout(spark, bar_tables):
    tb = TimeBucket.get(
        spark, "bars", Period.minutes(5), key_cols=["event_type"],
        path_prefix=bar_tables,
    )
    with pytest.raises(TimeoutError):
        tb.wait_for_bucket(["nosuch"], dt.datetime(2030, 1, 1),
                           timeout_seconds=1.0, poll_seconds=0.3)


def test_hopping_reader_range(spark, sf_dir, bar_tables):
    # hopping table: 15m windows advancing 5m over events
    ev = read_table(spark, sf_dir, "events")
    hop = (
        ev.groupBy("event_type", F.window("ts", "15 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("window.start").alias("window_start"), "n")
    )
    hop.write.mode("overwrite").parquet(f"{bar_tables}/hop_15m")
    rd = HoppingWindowReader(spark, f"{bar_tables}/hop_15m", key_cols=["event_type"])
    lo, hi = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1, 6)
    rows = rd.to_list(["view"], lo, hi, limit=100)
    assert rows
    assert all(lo <= r["window_start"] < hi for r in rows)


def _nan_safe(rows):
    """Rows as tuples with NaN made comparable (NaN != NaN in Python)."""
    return [tuple("NaN" if isinstance(v, float) and v != v else v for v in r)
            for r in rows]


def test_pull_reads_keep_spark_sort_order(spark, tmp_path):
    """Unlimited reads sort on the driver, limited reads in Spark: both
    must order rows as the plain ``orderBy`` does — NULL first, NaN after
    every number, ties in any order."""
    nan = float("nan")
    rows = [("a", None, 3), ("a", nan, 1), ("a", 2.0, 5), ("a", -1.5, 2),
            ("a", 2.0, 5), ("a", 2.0, 4), ("a", None, 1), ("a", nan, 0),
            ("b", 0.0, 1), ("b", -0.0, 0), ("b", None, None), (None, 1.0, 1),
            ("a", float("inf"), 9), ("a", float("-inf"), 9)]
    path = str(tmp_path / "t")
    spark.createDataFrame(rows, "k1 string, k2 double, b long").write.parquet(path)
    tb = TimeBucket(spark, path, Period.minutes(1), ["k1", "k2"], bucket_col="b")
    hop = HoppingWindowReader(spark, path, ["k1"], start_col="k2")
    ref = spark.read.parquet(path)

    def keys(rs, cols):
        return _nan_safe([tuple(r[c] for c in cols) for r in rs])

    cases = [
        (lambda lim: tb.to_list(limit=lim), ref, ["k1", "k2", "b"]),
        (lambda lim: tb.to_list("a", limit=lim), ref.filter("k1 = 'a'"), ["k1", "k2", "b"]),
        (lambda lim: hop.to_list(["a"], limit=lim), ref.filter("k1 = 'a'"), ["k2"]),
    ]
    for read, want_df, cols in cases:
        for lim in (None, 3, 100):
            want = want_df.orderBy(*cols)
            want = (want.limit(lim) if lim else want).collect()
            got = read(lim)
            assert keys(got, cols) == keys(want, cols), (cols, lim)
            if not lim or lim >= len(want):  # ties decide which rows a cut keeps
                assert sorted(_nan_safe(got), key=repr) == sorted(_nan_safe(want), key=repr)


def _jobs_per_call(spark, fn) -> int:
    """Spark jobs one call runs, counted through a status-tracker job group."""
    sc = spark.sparkContext
    group = f"pull-{id(fn)}-{dt.datetime.now().timestamp()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pull_reads_run_one_job_and_see_appends(spark, tmp_path):
    """After the first read pins the schema, every to_list, read and hop
    request is one Spark job; the same reader instances still see rows
    appended by write_bar_tables and by EventSet.add."""
    from ksql_linq_spark.context import SparkKsqlContext
    from ksql_linq_spark.entity import Column, Entity
    from ksql_linq_spark.operators.cascade import write_bar_tables

    schema = "sym string, bucket_start timestamp, close double"
    day1 = dt.datetime(2024, 1, 1, 10, 0)
    day2 = dt.datetime(2024, 1, 2, 10, 0)

    def bars(ts, px):
        return {"bars_1m_live": spark.createDataFrame(
            [("A", ts, px), ("B", ts, px + 1)], schema)}

    write_bar_tables(bars(day1, 1.0), str(tmp_path))
    tb = TimeBucket.get(spark, "bars", Period.minutes(1), ["sym"], path_prefix=str(tmp_path))
    assert [r["close"] for r in tb.to_list("A")] == [1.0]  # pins the schema
    write_bar_tables(bars(day2, 2.0), str(tmp_path), mode="append")
    assert [r["close"] for r in tb.to_list("A")] == [1.0, 2.0]
    assert tb.read(["B"], day2)["close"] == 3.0

    ctx = SparkKsqlContext(spark)
    ctx.register_entity(Entity("ticks", [Column("sym", "string"),
                                         Column("window_start", "timestamp"),
                                         Column("n", "long")]))
    es = ctx.entity_set("ticks", path=str(tmp_path / "ticks"))
    es.add([("A", day1, 1)])
    hop = HoppingWindowReader(spark, str(tmp_path / "ticks"), ["sym"])
    assert [r["n"] for r in hop.to_list(["A"])] == [1]
    es.add([("A", day2, 2)])
    assert [r["n"] for r in hop.to_list(["A"], day1, day2 + dt.timedelta(1))] == [1, 2]

    assert _jobs_per_call(spark, lambda: tb.to_list("A")) == 1
    assert _jobs_per_call(spark, lambda: tb.read(["A"], day2, 1)) == 1
    assert _jobs_per_call(spark, lambda: hop.to_list(["A"], day1, day2)) == 1


def test_wait_for_bucket_polls_until_the_tier_exists(spark, tmp_path):
    """A tier with no data files yet is "not ready": the wait times out
    instead of failing, then the same reader finds the bucket once the
    tier is written."""
    from ksql_linq_spark.operators.cascade import write_bar_tables

    tb = TimeBucket.get(spark, "bars", Period.minutes(1), ["sym"], path_prefix=str(tmp_path))
    ts = dt.datetime(2024, 1, 1, 10, 0)
    with pytest.raises(TimeoutError):  # missing path
        tb.wait_for_bucket(["A"], ts, timeout_seconds=1.0, poll_seconds=0.3)
    (tmp_path / "bars_1m_live").mkdir()
    with pytest.raises(TimeoutError):  # directory without data files
        tb.wait_for_bucket(["A"], ts, timeout_seconds=1.0, poll_seconds=0.3)
    write_bar_tables({"bars_1m_live": spark.createDataFrame(
        [("A", ts, 1.0)], "sym string, bucket_start timestamp, close double")},
        str(tmp_path), mode="append")
    assert tb.wait_for_bucket(["A"], ts, timeout_seconds=30.0)["close"] == 1.0


def test_streaming_cascade_end_to_end(spark, sf_dir, state_store):
    from ksql_linq_spark.operators.cascade import start_streaming_cascade
    from ksql_linq_spark.sources import read_stream_from_table, read_table

    tmp = tempfile.mkdtemp(prefix="casc_")
    stream = read_stream_from_table(spark, sf_dir, "events")
    plan = CascadePlan(
        base_name="sbar", keys=["event_type"], ts_col="ts",
        price_col="value", timeframes=["5m"],
    )
    queries = start_streaming_cascade(
        plan, stream, sink_dir=f"{tmp}/sink", checkpoint_dir=f"{tmp}/ckpt"
    )
    try:
        for q in queries:
            q.processAllAvailable()
        for q in queries:  # second pass lets tier-1 consume tier-0 output
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    hub = spark.read.parquet(f"{tmp}/sink/sbar_1s_rows")
    assert hub.count() > 0
    t5 = spark.read.parquet(f"{tmp}/sink/sbar_5m_live")
    assert t5.count() > 0
    # composed 5m bars match direct aggregation for closed windows
    ev = read_table(spark, sf_dir, "events")
    direct = (
        ev.groupBy("event_type", F.window("ts", "5 minutes").start.alias("b"))
        .agg(F.max("value").alias("high"))
    )
    exp = {(r["event_type"], r["b"]): r["high"] for r in direct.collect()}
    for r in t5.select("event_type", "bucket_start", "high").collect():
        assert abs(exp[(r["event_type"], r["bucket_start"])] - r["high"]) < 1e-9
    shutil.rmtree(tmp, ignore_errors=True)


def test_bar_table_partition_pruning(spark, sf_dir, tmp_path, monkeypatch):
    """write_bar_tables + a bucket-date filter must partition-prune:
    the scan's PartitionFilters must carry the date predicate, both for
    a hand-written filter and for TimeBucket.read."""
    from ksql_linq_spark.operators.cascade import CascadePlan, build_cascade, write_bar_tables
    from ksql_linq_spark.sources import read_table

    ev = read_table(spark, sf_dir, "events")
    plan = CascadePlan(
        base_name="bars", keys=["event_type"], ts_col="ts",
        price_col="value", timeframes=["1m"],
    )
    tiers = build_cascade(plan, ev)
    paths = write_bar_tables(
        {"bars_1m_live": tiers["bars_1m_live"]}, str(tmp_path)
    )
    df = spark.read.parquet(paths["bars_1m_live"])
    some_date = df.select(F.to_date("bucket_start").alias("d")).first()["d"]
    q = df.filter(F.col("bucket_date") == F.lit(some_date))
    plan_str = q._jdf.queryExecution().executedPlan().toString()
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan_str)
    assert pf and "bucket_date" in pf.group(1), plan_str[:800]
    # the pruned scan must read strictly fewer files than the full table
    assert q.count() > 0
    assert q.count() < df.count()

    # TimeBucket.read emits the same pruning on its own, widened by a day
    # each side, and still finds bars across midnight
    plans = []
    collect = type(df).collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(type(df), "collect", spy)
    tb = TimeBucket(spark, paths["bars_1m_live"], Period.minutes(1), ["event_type"])
    days = sorted({r["d"] for r in df.select(F.to_date("bucket_start").alias("d"))
                   .distinct().collect()})
    assert len(days) > 2
    first = df.filter(F.to_date("bucket_start") == F.lit(days[1])) \
        .orderBy("bucket_start").first()
    got = tb.read([first["event_type"]], first["bucket_start"])
    assert got["bucket_start"] == first["bucket_start"]
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plans[-1])
    assert pf and "bucket_date" in pf.group(1), plans[-1][:800]
    # the last bar of the previous day, reached from the next midnight
    # through the tolerance window
    prev = df.filter(F.col("event_type") == first["event_type"]) \
        .filter(F.col("bucket_start") < F.lit(dt.datetime.combine(days[1], dt.time()))) \
        .orderBy(F.col("bucket_start").desc()).first()
    midnight = dt.datetime.combine(days[1], dt.time())
    tol = int((midnight - prev["bucket_start"]).total_seconds() // 60)
    near = tb.read([first["event_type"]], midnight, tolerance_buckets=tol)
    exact_midnight = df.filter((F.col("event_type") == first["event_type"]) &
                               (F.col("bucket_start") == F.lit(midnight))).first()
    assert near["bucket_start"] == (exact_midnight or prev)["bucket_start"]


def test_streaming_cascade_publishes_late_drop_incident(spark):
    """start_streaming_cascade(incident_bus=...) wires the incident
    listener: an induced late tick (behind the hub watermark) surfaces
    as a late_drop incident NAMED with the hub tier's query name."""
    import time as _time

    from ksql_linq_spark.operators.cascade import start_streaming_cascade
    from ksql_linq_spark.streaming.incidents import IncidentBus

    tmp = tempfile.mkdtemp(prefix="casc_inc_")
    schema = "event_type string, ts timestamp, value double"

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/src")

    put([("a", dt.datetime(2024, 1, 1, 0, 0, 0), 1.0),
         ("a", dt.datetime(2024, 1, 1, 0, 30, 0), 2.0)])
    stream = spark.readStream.schema(schema).parquet(f"{tmp}/src")
    plan = CascadePlan(
        base_name="ibar", keys=["event_type"], ts_col="ts",
        price_col="value", timeframes=["5m"],
    )
    bus = IncidentBus()
    queries, shim = start_streaming_cascade(
        plan, stream, sink_dir=f"{tmp}/sink", checkpoint_dir=f"{tmp}/ckpt",
        incident_bus=bus,
    )
    try:
        for q in queries:
            q.processAllAvailable()
        # far behind the hub watermark (00:29:59) -> dropped late
        put([("a", dt.datetime(2024, 1, 1, 0, 0, 30), 9.0)])
        for q in queries:
            q.processAllAvailable()
        deadline = _time.time() + 20
        while _time.time() < deadline and not bus.recent("late_drop"):
            _time.sleep(0.2)
    finally:
        for q in queries:
            q.stop()
        spark.streams.removeListener(shim)
        shutil.rmtree(tmp, ignore_errors=True)
    drops = bus.recent("late_drop")
    assert drops, "no late_drop incident published"
    assert drops[0].query_name == plan.hub_name
    assert drops[0].details["n_rows"] == 1
