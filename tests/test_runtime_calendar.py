"""Market-calendar gating, TimeBucket read API, streaming cascade tests."""

from __future__ import annotations

import datetime as dt
import os
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


def _mixed_schedule_and_probes(spark):
    """A schedule of mixed session lengths, an inverted interval and a
    1970 sentinel, and probe rows at every session's bounds ±1 µs and
    midpoint plus one row of a market with no schedule."""
    sched_rows = [
        # mixed lengths: 10 s bursts and an 8 h session set the chunk
        # width from the LONGEST interval
        ("A", dt.datetime(2024, 1, 1, 0, 0, 0), dt.datetime(2024, 1, 1, 0, 0, 10)),
        ("A", dt.datetime(2024, 1, 1, 0, 0, 12), dt.datetime(2024, 1, 1, 0, 0, 22)),
        ("B", dt.datetime(2024, 1, 1, 9, 0, 0), dt.datetime(2024, 1, 1, 17, 0, 0)),
        # inverted interval: matches nothing, must not corrupt chunks
        ("C", dt.datetime(2024, 1, 2, 5, 0, 0), dt.datetime(2024, 1, 2, 4, 0, 0)),
        # DECADES-scale inverted sentinel (close = epoch 0, ~54 years
        # before open): exploded, it would be an unbounded descending
        # sequence of chunks on the broadcast side; it must be
        # filtered, not exploded
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
    return sched, df


def _range_join(df, sched, how):
    """The plain reference: equality on the market plus the range
    predicate, no time chunks."""
    s = sched.alias("s")
    return df.join(
        s,
        (df["market"] == F.col("s.market_key"))
        & (df["ts"] >= F.col("s.open_time"))
        & (df["ts"] < F.col("s.close_time")),
        how,
    )


def test_in_session_join_bucketed_parity(spark):
    """The chunk-bucketed gate (round 10: each fact row probes only the
    1-2 sessions overlapping its time chunk, not its market's whole
    schedule) must keep EXACT semantics vs a plain semi-join: open
    inclusive, close exclusive, sub-second timestamps, sessions of
    mixed lengths, markets with no schedule, inverted bounds matching
    nothing."""
    sched, df = _mixed_schedule_and_probes(spark)
    plain = {r["id"] for r in _range_join(df, sched, "leftsemi").collect()}
    fast_df = in_session_join(df, sched, "market", "ts")
    # the join runs on time chunks, so the inverted sentinels exercise
    # the explode-side filter for real
    assert "__chunk" in fast_df._jdf.queryExecution().analyzed().toString()
    assert fast_df.columns == df.columns
    fast = {r["id"] for r in fast_df.collect()}
    assert plain == fast and plain  # identical, and non-trivially so


def test_session_tag_join_matches_plain_inner_join(spark):
    """session_tag_join is the same chunk-bucketed join as the gate:
    its analyzed plan joins on ``__chunk``, and its rows equal a plain
    inner range join's on the mixed schedule, each probe row tagged with
    the bounds of the session that contains it."""
    sched, df = _mixed_schedule_and_probes(spark)
    want = sorted(
        (r["id"], r["open_time"], r["close_time"])
        for r in _range_join(df, sched, "inner").collect()
    )
    tagged = session_tag_join(df, sched, "market", "ts")
    assert "__chunk" in tagged._jdf.queryExecution().analyzed().toString()
    assert tagged.columns == df.columns + ["session_open", "session_close"]
    got = sorted(
        (r["id"], r["session_open"], r["session_close"]) for r in tagged.collect()
    )
    assert got == want and want


def test_streaming_in_session_join_plans_broadcast_semi_join(spark, tmp_path):
    """The gate over a parquet file stream is a stream-static
    BroadcastHashJoin LeftSemi, the same join as in batch."""
    sched = make_daily_schedule(spark, ["X"], "2024-01-01", "2024-01-02")
    schema = "market string, ts timestamp"
    spark.createDataFrame(
        [("X", dt.datetime(2024, 1, 1, 10, 0)), ("X", dt.datetime(2024, 1, 1, 20, 0))],
        schema,
    ).write.parquet(str(tmp_path / "in"))
    gated = in_session_join(
        spark.readStream.schema(schema).parquet(str(tmp_path / "in")),
        sched, "market", "ts",
    )
    q = (
        gated.writeStream.format("memory").queryName("gated_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(False)
    finally:
        q.stop()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    got = [r["ts"] for r in spark.table("gated_stream").collect()]
    assert got == [dt.datetime(2024, 1, 1, 10, 0)]


def test_schedule_provider_gate_runs_no_job(spark, tmp_path):
    """The provider collects its interval index at refresh, and gate()
    passes the index's longest session as the chunk width: building a
    micro-batch's gate runs no Spark job, and the gate still keeps
    exactly the rows inside a session."""
    from ksql_linq_spark.streaming.schedule import RefreshingScheduleProvider

    sched_dir = str(tmp_path / "sched")
    make_daily_schedule(spark, ["X"], "2024-01-01", "2024-01-05").write.parquet(sched_dir)
    prov = RefreshingScheduleProvider(
        spark, sched_dir, now_fn=lambda: dt.datetime(2024, 1, 1, 12, 0)
    )
    df = spark.createDataFrame(
        [("X", dt.datetime(2024, 1, 2, 10, 0)), ("X", dt.datetime(2024, 1, 2, 17, 0))],
        "market string, ts timestamp",
    )
    gated, jobs = _jobs_per_call(spark, lambda: prov.gate(df, "market", "ts"))
    assert jobs == 0
    assert [r["ts"] for r in gated.collect()] == [dt.datetime(2024, 1, 2, 10, 0)]


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


def _jobs_per_call(spark, fn):
    """``fn()`` and the Spark jobs it ran, counted through a
    status-tracker job group."""
    sc = spark.sparkContext
    group = f"pull-{id(fn)}-{dt.datetime.now().timestamp()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pull_reads_run_no_job_after_the_first_and_see_appends(spark, tmp_path):
    """A reader's first to_list, read and hop request runs Spark (the
    parity guard); every later one runs no Spark job, and the same reader
    instances still see rows appended by write_bar_tables and by
    EventSet.add, which runs no Spark job either."""
    from ksql_linq_spark.context import SparkKsqlContext
    from ksql_linq_spark.entity import Column, Entity
    from ksql_linq_spark.operators.cascade import write_bar_tables

    schema = "sym string, bucket_start timestamp, close double"
    day1 = dt.datetime(2024, 1, 1, 10, 0)
    day2 = dt.datetime(2024, 1, 2, 10, 0)

    def bars(ts, px):
        return {"bars_1m_live": spark.createDataFrame(
            [("A", ts, px), ("B", ts, px + 1)], schema)}

    def close(rows):
        return [r["close"] for r in rows]

    write_bar_tables(bars(day1, 1.0), str(tmp_path))
    tb = TimeBucket.get(spark, "bars", Period.minutes(1), ["sym"], path_prefix=str(tmp_path))
    rows, jobs = _jobs_per_call(spark, lambda: tb.to_list("A"))
    assert close(rows) == [1.0] and jobs >= 1
    row, jobs = _jobs_per_call(spark, lambda: tb.read(["B"], day1))
    assert row["close"] == 2.0 and jobs >= 1
    write_bar_tables(bars(day2, 2.0), str(tmp_path), mode="append")
    assert _jobs_per_call(spark, lambda: close(tb.to_list("A"))) == ([1.0, 2.0], 0)
    assert _jobs_per_call(spark, lambda: tb.read(["B"], day2)["close"]) == (3.0, 0)
    assert _jobs_per_call(spark, lambda: tb.read(["A"], day2, 1)["close"]) == (2.0, 0)

    ctx = SparkKsqlContext(spark)
    ctx.register_entity(Entity("ticks", [Column("sym", "string"),
                                         Column("window_start", "timestamp"),
                                         Column("n", "long")]))
    es = ctx.entity_set("ticks", path=str(tmp_path / "ticks"))
    assert _jobs_per_call(spark, lambda: es.add([("A", day1, 1)])) == (None, 0)
    hop = HoppingWindowReader(spark, str(tmp_path / "ticks"), ["sym"])
    rows, jobs = _jobs_per_call(spark, lambda: hop.to_list(["A"]))
    assert [r["n"] for r in rows] == [1] and jobs >= 1
    assert _jobs_per_call(spark, lambda: es.add([("A", day2, 2)])) == (None, 0)
    rows, jobs = _jobs_per_call(
        spark, lambda: hop.to_list(["A"], day1, day2 + dt.timedelta(1)))
    assert [r["n"] for r in rows] == [1, 2] and jobs == 0
    assert sorted(r["n"] for r in es.to_list()) == [1, 2]  # the catalog view


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


def _arrow_answer(read):
    """``read()`` twice: the first call runs the parity guard, the second
    is answered by Arrow alone."""
    read()
    return read()


@pytest.fixture
def session_zone(spark):
    """Set ``spark.sql.session.timeZone`` for one test, then restore it."""
    old = spark.conf.get("spark.sql.session.timeZone")
    yield lambda tz: spark.conf.set("spark.sql.session.timeZone", tz)
    spark.conf.set("spark.sql.session.timeZone", old)


def _same_answer(got, want, cols, lim):
    """Arrow's answer equals Spark's: the sort columns row by row, and the
    rows as a multiset, except the rows tied with the last one where the
    limit cut the answer (Spark keeps any of those)."""
    def keys(rs):
        return _nan_safe([tuple(r[c] for c in cols) for r in rs])

    assert keys(got) == keys(want), cols
    if lim and len(want) == lim:
        last = keys(want)[-1]
        got, want = ([r for r, k in zip(rs, keys(rs)) if k != last] for rs in (got, want))
    assert sorted(_nan_safe(got), key=repr) == sorted(_nan_safe(want), key=repr), cols


def test_arrow_pull_reads_match_spark(spark, tmp_path):
    """Fuzzed parity: after the guard, Arrow answers every request as
    Spark's plain filter + orderBy + limit does, over NULL, NaN, +-inf,
    -0.0 and tied keys, with limit None, 3 and 100, and over a NULL
    bucket_date partition (__HIVE_DEFAULT_PARTITION__)."""
    import random

    rng = random.Random(11)
    nan, inf = float("nan"), float("inf")
    vals = [None, nan, inf, -inf, 0.0, -0.0, 1.5, 1.5, -2.0]
    t0 = dt.datetime(2024, 1, 1, 23, 57)
    rows = [(rng.choice(["a", "b", None]), rng.choice(vals),
             rng.choice([None, t0 + dt.timedelta(minutes=rng.randrange(6))]),
             rng.choice(vals), i % 5) for i in range(80)]
    path = str(tmp_path / "t")
    (spark.createDataFrame(rows, "k1 string, k2 double, bucket_start timestamp, "
                                 "v double, b long")
     .withColumn("bucket_date", F.to_date("bucket_start"))
     .write.partitionBy("bucket_date").parquet(path))
    assert os.path.isdir(f"{path}/bucket_date=__HIVE_DEFAULT_PARTITION__")
    ref = spark.read.parquet(path)
    tb = TimeBucket(spark, path, Period.minutes(1), ["k1", "k2"])
    by_v = HoppingWindowReader(spark, path, ["k1"], start_col="v")
    by_ts = HoppingWindowReader(spark, path, ["k1"], start_col="bucket_start")

    def want(df, cols, lim):
        df = df.orderBy(*cols)
        return (df.limit(lim) if lim else df).collect()

    ts_cols = ["k1", "k2", "bucket_start"]
    a, a15 = F.col("k1") == "a", (F.col("k1") == "a") & (F.col("k2") == 1.5)
    t1, t4 = t0 + dt.timedelta(minutes=1), t0 + dt.timedelta(minutes=4)
    cases = [
        (lambda lim: tb.to_list(limit=lim), ref, ts_cols),
        (lambda lim: tb.to_list("a", limit=lim), ref.filter(a), ts_cols),
        (lambda lim: tb.to_list("a", 1.5, limit=lim), ref.filter(a15), ts_cols),
        (lambda lim: tb.to_list(None, limit=lim), ref.filter(F.lit(False)), ts_cols),
        (lambda lim: by_v.to_list(["b"], limit=lim), ref.filter("k1 = 'b'"), ["v"]),
        # Spark's NaN is equal to itself and above +inf, in filters too
        (lambda lim: by_v.to_list(["a"], -inf, 1.5, limit=lim),
         ref.filter(a & (F.col("v") >= -inf) & (F.col("v") < 1.5)), ["v"]),
        (lambda lim: by_v.to_list(["a"], 0.0, limit=lim),
         ref.filter(a & (F.col("v") >= 0.0)), ["v"]),
        (lambda lim: by_v.to_list(["b"], 1.5, nan, limit=lim),
         ref.filter((F.col("k1") == "b") & (F.col("v") >= 1.5) & (F.col("v") < nan)), ["v"]),
        (lambda lim: by_v.to_list(["b"], nan, limit=lim),
         ref.filter((F.col("k1") == "b") & (F.col("v") >= nan)), ["v"]),
        (lambda lim: by_ts.to_list(["a"], t1, t4, limit=lim),
         ref.filter(a & (F.col("bucket_start") >= t1) & (F.col("bucket_start") < t4)),
         ["bucket_start"]),
    ]
    for read, want_df, cols in cases:
        for lim in (None, 3, 100):
            _same_answer(_arrow_answer(lambda: read(lim)), want(want_df, cols, lim), cols, lim)
    for key in (["a", 1.5], ["b", nan], ["a", -0.0], [None, 1.5]):
        for tol in (0, 2, 10):
            got = _arrow_answer(lambda: tb.read(key, t0 + dt.timedelta(minutes=3), tol))
            lo = t0 + dt.timedelta(minutes=3 - tol)
            hit = ref.filter((F.col("k1") == key[0]) & (F.col("k2") == key[1]) &
                             F.col("bucket_start").between(lo, lo + dt.timedelta(minutes=tol)))
            top = hit.orderBy(F.col("bucket_start").desc()).first()
            assert (got and got["bucket_start"]) == (top and top["bucket_start"]), (key, tol)
            if got:
                assert _nan_safe([got])[0] in _nan_safe(
                    hit.filter(F.col("bucket_start") == got["bucket_start"]).collect())
    assert tb._source._checked == {"to_list", "read"}
    assert by_v._source._checked == by_ts._source._checked == {"hop"}


def test_arrow_reads_timestamps_stored_three_ways(spark, tmp_path, session_zone):
    """INT96 (Spark's write), INT64 adjusted to UTC (EventSet.add) and
    INT64 not adjusted to UTC (another writer) hold the same instants:
    Arrow reads each, and a directory mixing them, as Spark does, under
    a non-UTC session time zone."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    from ksql_linq_spark.context import SparkKsqlContext
    from ksql_linq_spark.entity import Column, Entity

    session_zone("America/New_York")
    stamps = [dt.datetime(2024, 3, 10, 6, 59, 59, 999999), dt.datetime(2024, 3, 10, 7),
              dt.datetime(1999, 12, 31, 23, 59, 59, 1), dt.datetime(1960, 6, 1, 12),
              dt.datetime(1970, 1, 1), None]
    rows = [("k", t, i) for i, t in enumerate(stamps)]
    spark.createDataFrame(rows, "sym string, window_start timestamp, n long") \
        .coalesce(1).write.parquet(str(tmp_path / "int96"))
    ctx = SparkKsqlContext(spark)
    ctx.register_entity(Entity("stamps", [Column("sym", "string"),
                                          Column("window_start", "timestamp"),
                                          Column("n", "long")]))
    ctx.entity_set("stamps", path=str(tmp_path / "utc")).add(rows)
    (tmp_path / "local").mkdir()
    micros = [None if t is None else TimestampType().toInternal(t) for t in stamps]
    pq.write_table(pa.table({"sym": ["k"] * len(rows),
                             "window_start": pa.array(micros, pa.timestamp("us")),
                             "n": pa.array(range(len(rows)), pa.int64())}),
                   str(tmp_path / "local" / "part-0.parquet"))
    (tmp_path / "mixed").mkdir()
    for i, d in enumerate(("int96", "utc", "local")):
        f = glob.glob(f"{tmp_path}/{d}/part-*")[0]
        shutil.copy(f, tmp_path / "mixed" / f"part-{i}.parquet")
        ts = pq.ParquetFile(f).schema.column(1)
        assert (ts.physical_type, str(ts.logical_type)) == {
            "int96": ("INT96", "None"),
            "utc": ("INT64", "Timestamp(isAdjustedToUTC=true, timeUnit=microseconds, "
                             "is_from_converted_type=false, force_set_converted_type=false)"),
            "local": ("INT64", "Timestamp(isAdjustedToUTC=false, timeUnit=microseconds, "
                               "is_from_converted_type=false, force_set_converted_type=false)"),
        }[d]
    lo, hi = dt.datetime(1999, 1, 1), dt.datetime(2024, 3, 10, 7)
    for d in ("int96", "utc", "local", "mixed"):
        hop = HoppingWindowReader(spark, str(tmp_path / d), ["sym"])
        ref = spark.read.parquet(str(tmp_path / d)).filter("sym = 'k'")
        for args, want in (
                ((["k"],), ref),
                ((["k"], lo, hi), ref.filter((F.col("window_start") >= lo) &
                                             (F.col("window_start") < hi)))):
            got = _arrow_answer(lambda: hop.to_list(*args))
            assert got == want.orderBy("window_start", "n").collect(), (d, args)
            assert all(type(r["window_start"]) in (dt.datetime, type(None)) for r in got)
        if d != "mixed":
            assert [r["window_start"] for r in hop.to_list(["k"]) if r["n"] < 5] == \
                sorted(t for t in stamps if t)


def test_read_prunes_bucket_date_in_the_session_time_zone(spark, tmp_path, session_zone):
    """read's bucket_date range is computed from the session time zone as
    to_date computes it: bars written under one zone are found across
    local midnight, read under that zone and under another one."""
    from ksql_linq_spark.operators.cascade import write_bar_tables

    session_zone("Asia/Tokyo")
    start = dt.datetime(2024, 1, 1, 12, 0)  # Tokyo midnight is 15:00 UTC
    bars = [("A", start + dt.timedelta(minutes=30 * i), float(i)) for i in range(40)
            if not 4 <= i < 8]  # a gap around Tokyo midnight
    write_bar_tables({"bars_10m_live": spark.createDataFrame(
        bars, "sym string, bucket_start timestamp, close double")}, str(tmp_path))
    path = str(tmp_path / "bars_10m_live")
    assert len(os.listdir(path)) >= 3  # _SUCCESS and two dates
    ref = spark.read.parquet(path)
    for zone in ("Asia/Tokyo", "America/New_York"):
        session_zone(zone)
        tb = TimeBucket(spark, path, Period.minutes(10), ["sym"])
        for k in range(0, 130, 7):
            t = start + dt.timedelta(minutes=10 * k)
            for tol in (0, 3, 12, 200):
                got = _arrow_answer(lambda: tb.read(["A"], t, tol))
                want = (ref.filter(F.col("bucket_start").between(
                    t - dt.timedelta(minutes=10 * tol), t))
                    .orderBy(F.col("bucket_start").desc()).first())
                assert (got and got["close"]) == (want and want["close"]), (zone, t, tol)
        assert "read" in tb._source._checked


def test_eventset_add_reads_back_like_create_dataframe(spark, tmp_path):
    """int, long, decimal, date, boolean and timestamp columns written by
    EventSet.add read back, through Spark and through the Arrow reader,
    exactly as ``createDataFrame(rows, schema)`` gives them."""
    import decimal

    from ksql_linq_spark.context import SparkKsqlContext
    from ksql_linq_spark.entity import Column, Entity

    ent = Entity("typed", [Column("l", "long", key_order=0), Column("i", "int"),
                           Column("d", "decimal(12,3)"), Column("day", "date"),
                           Column("ok", "boolean"), Column("ts", "timestamp")])
    ctx = SparkKsqlContext(spark)
    ctx.register_entity(ent)
    path = str(tmp_path / "typed")
    rows = [
        (1, -2**31, decimal.Decimal("-123456789.123"), dt.date(1900, 1, 1), True,
         dt.datetime(1960, 1, 1, 0, 0, 0, 1)),
        (2**63 - 1, 2**31 - 1, decimal.Decimal("0.001"), dt.date(2024, 2, 29), False,
         dt.datetime(2038, 1, 19, 3, 14, 8)),
        (-2**63, 0, decimal.Decimal("0"), dt.date(1970, 1, 1), None, None),
        (3, None, None, None, True, dt.datetime(2024, 1, 1, 23, 59, 59, 999999)),
    ]
    es = ctx.entity_set("typed", path=path)
    es.add(rows[:2])
    es.add(rows[2:])
    want = sorted(spark.createDataFrame(rows, ent.schema).collect())
    assert sorted(spark.read.parquet(path).collect()) == want
    assert sorted(es.to_list()) == want
    tb = TimeBucket(spark, path, Period.minutes(1), [], bucket_col="l")
    assert _arrow_answer(tb.to_list) == want
    assert spark.read.parquet(path).schema == spark.createDataFrame(rows, ent.schema).schema


def test_arrow_reads_a_streaming_sink_through_its_log(spark, tmp_path):
    """A file sink's directory is read through _spark_metadata: a part
    file the log does not list (a batch that never committed) stays
    invisible to Arrow as to Spark, and the guard passes."""
    schema = "sym string, window_start timestamp, n long"
    src, sink = str(tmp_path / "src"), str(tmp_path / "sink")
    spark.createDataFrame([("A", dt.datetime(2024, 1, 1, 0, i), i) for i in range(5)],
                          schema).coalesce(1).write.parquet(src)
    q = (spark.readStream.schema(schema).parquet(src).writeStream.format("parquet")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start(sink))
    q.awaitTermination()
    part = next(f for f in os.listdir(sink) if f.startswith("part-"))
    shutil.copy(os.path.join(sink, part), os.path.join(sink, "part-orphan.snappy.parquet"))
    hop = HoppingWindowReader(spark, sink, ["sym"])
    assert [r["n"] for r in _arrow_answer(lambda: hop.to_list(["A"]))] == list(range(5))
    assert hop._source._checked == {"hop"}


def test_sink_log_takes_the_latest_compaction_and_later_deltas(tmp_path):
    import json

    from ksql_linq_spark.runtime import _sink_files

    log = tmp_path / "_spark_metadata"
    log.mkdir()

    def entries(*names, action="add"):
        return "".join("\n" + json.dumps({
            "path": f"file://{tmp_path}/{n}", "size": 1, "isDir": False,
            "modificationTime": 0, "blockReplication": 1, "blockSize": 1,
            "action": action}) for n in names)

    (log / "8").write_text("v1" + entries("dropped", "a"))
    (log / "9.compact").write_text("v1" + entries("a", "b", "c"))
    (log / "10").write_text("v1" + entries("d") + entries("b", action="delete"))
    (log / ".11.tmp").write_text("v1" + entries("uncommitted"))
    assert sorted(_sink_files(str(log))) == [f"{tmp_path}/{n}" for n in "acd"]
    for f in ("8", "9.compact"):  # no compaction yet: every delta counts
        (log / f).unlink()
    (log / "0").write_text("v1" + entries("x"))
    assert sorted(_sink_files(str(log))) == [f"{tmp_path}/d", f"{tmp_path}/x"]


def test_wait_for_bucket_is_not_ready_when_the_arrow_path_finds_nothing(spark, tmp_path):
    """After the guard, a missing tier directory (FileNotFoundError from
    the Arrow scan) or one without data files is "not ready", not an
    error; the same reader finds the bucket once it is written again."""
    from ksql_linq_spark.operators.cascade import write_bar_tables

    ts = dt.datetime(2024, 1, 1, 10, 0)

    def write():
        write_bar_tables({"bars_1m_live": spark.createDataFrame(
            [("A", ts, 1.0)], "sym string, bucket_start timestamp, close double")},
            str(tmp_path), mode="append")

    write()
    tb = TimeBucket.get(spark, "bars", Period.minutes(1), ["sym"], path_prefix=str(tmp_path))
    assert tb.read(["A"], ts)["close"] == 1.0
    assert "read" in tb._source._checked
    shutil.rmtree(tmp_path / "bars_1m_live")
    with pytest.raises(FileNotFoundError):
        tb.read(["A"], ts)
    with pytest.raises(TimeoutError):
        tb.wait_for_bucket(["A"], ts, timeout_seconds=1.0, poll_seconds=0.3)
    (tmp_path / "bars_1m_live").mkdir()
    assert tb.read(["A"], ts) is None
    with pytest.raises(TimeoutError):
        tb.wait_for_bucket(["A"], ts, timeout_seconds=1.0, poll_seconds=0.3)
    write()
    assert tb.wait_for_bucket(["A"], ts, timeout_seconds=30.0)["close"] == 1.0


def test_parity_guard_raises_on_a_wrong_arrow_answer(spark, tmp_path, monkeypatch):
    """A corrupted Arrow answer fails the first request, and the error
    names the reader and the column; the request kind stays unchecked."""
    from pyspark.sql import Row

    from ksql_linq_spark import runtime

    path = str(tmp_path / "t")
    spark.createDataFrame([("A", dt.datetime(2024, 1, 1, 0, i), float(i)) for i in range(4)],
                          "sym string, bucket_start timestamp, close double").write.parquet(path)
    arrow = runtime._Source._arrow
    corrupt = {
        "close": lambda rs: [Row(**{**rs[0].asDict(), "close": -1.0}), *rs[1:]],
        "bucket_start": lambda rs: rs[::-1],
        "row count": lambda rs: rs[1:],
    }
    for what, bad in corrupt.items():
        monkeypatch.setattr(runtime._Source, "_arrow",
                            lambda self, *a, bad=bad: bad(arrow(self, *a)))
        tb = TimeBucket(spark, path, Period.minutes(1), ["sym"])
        with pytest.raises(RuntimeError, match=f"to_list on {path}.*{what}"):
            tb.to_list("A")
        assert not tb._source._checked
    monkeypatch.setattr(runtime._Source, "_arrow", arrow)
    assert [r["close"] for r in tb.to_list("A")] == [0.0, 1.0, 2.0, 3.0]


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
    """write_bar_tables + a bucket-date filter must partition-prune: a
    hand-written Spark filter's PartitionFilters carry the date
    predicate, and TimeBucket.read's Arrow scan selects only the
    bucket_date directories of its one-day-widened range."""
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

    # TimeBucket.read prunes on its own, widened by a day each side, and
    # still finds bars across midnight
    from ksql_linq_spark import runtime

    scans = []
    dataset = runtime._Source._dataset

    class ScanSpy:
        def __init__(self, d):
            self.d = d

        def to_table(self, filter):
            scans.append((self.d, filter))
            return self.d.to_table(filter=filter)

    monkeypatch.setattr(runtime._Source, "_dataset",
                        lambda self, types: ScanSpy(dataset(self, types)))
    tb = TimeBucket(spark, paths["bars_1m_live"], Period.minutes(1), ["event_type"])
    days = sorted({r["d"] for r in df.select(F.to_date("bucket_start").alias("d"))
                   .distinct().collect()})
    assert len(days) > 3
    first = df.filter(F.to_date("bucket_start") == F.lit(days[1])) \
        .orderBy("bucket_start").first()
    for _ in range(2):  # the guard's request, then one Arrow answers alone
        got = tb.read([first["event_type"]], first["bucket_start"])
        assert got["bucket_start"] == first["bucket_start"]
    assert "read" in tb._source._checked
    d, flt = scans[-1]
    read_dirs = {os.path.basename(os.path.dirname(f.path)) for f in d.get_fragments(filter=flt)}
    all_dirs = {os.path.basename(os.path.dirname(f.path)) for f in d.get_fragments()}
    assert read_dirs == {f"bucket_date={x}" for x in days
                         if abs((x - days[1]).days) <= 1} < all_dirs
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
