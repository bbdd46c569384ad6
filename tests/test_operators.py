"""Operator unit tests: OHLC, calendar windows, entity layer."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ksql_linq_spark.entity import Column, Entity
from ksql_linq_spark.operators.ohlc import ohlc_bars
from ksql_linq_spark.operators.windows import (
    bucket_end,
    bucket_start,
    parse_timeframe,
    timeframe_seconds,
)
from ksql_linq_spark.sources import read_table


def test_ohlc_semantics(spark):
    rows = [
        ("A", dt.datetime(2024, 1, 1, 0, 0, 5), 10.0),
        ("A", dt.datetime(2024, 1, 1, 0, 0, 30), 30.0),
        ("A", dt.datetime(2024, 1, 1, 0, 0, 55), 20.0),
        ("A", dt.datetime(2024, 1, 1, 0, 1, 10), 99.0),
        ("B", dt.datetime(2024, 1, 1, 0, 0, 10), 5.0),
    ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, price double")
    out = {
        (r["symbol"], r["bucket_start"]): r
        for r in ohlc_bars(df, ["symbol"], "ts", "price", "1m").collect()
    }
    a = out[("A", dt.datetime(2024, 1, 1, 0, 0))]
    assert (a["open"], a["high"], a["low"], a["close"]) == (10.0, 30.0, 10.0, 20.0)
    b = out[("B", dt.datetime(2024, 1, 1, 0, 0))]
    assert (b["open"], b["close"]) == (5.0, 5.0)
    assert ("A", dt.datetime(2024, 1, 1, 0, 1)) in out


def test_timeframe_parsing():
    assert parse_timeframe("5m") == (5, "m")
    assert parse_timeframe("1wk") == (1, "wk")
    assert timeframe_seconds("1h") == 3600
    assert timeframe_seconds("1mo") is None
    with pytest.raises(ValueError):
        parse_timeframe("5x")


def test_bucket_start_fixed_matches_window(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    cmp = ev.select(
        bucket_start("ts", "5m").alias("b"),
        F.window("ts", "5 minutes").start.alias("w"),
    ).filter(F.col("b") != F.col("w"))
    assert cmp.count() == 0


def test_bucket_week_anchor(spark):
    # 2024-01-03 is a Wednesday
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 3, 12, 0),)], "ts timestamp"
    )
    monday = df.select(bucket_start("ts", "1wk").alias("b")).first()["b"]
    assert monday == dt.datetime(2024, 1, 1)  # Monday anchor (default)
    sunday = df.select(bucket_start("ts", "1wk", week_anchor="sunday").alias("b")).first()["b"]
    assert sunday == dt.datetime(2023, 12, 31)  # preceding Sunday


def test_bucket_month(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 15, 7, 30),)], "ts timestamp"
    )
    r = df.select(
        bucket_start("ts", "1mo").alias("s"), bucket_end("ts", "1mo").alias("e")
    ).first()
    assert r["s"] == dt.datetime(2024, 3, 1)
    assert r["e"] == dt.datetime(2024, 4, 1)


def test_entity_schema_and_keys():
    e = Entity(
        "ticks",
        [
            Column("symbol", "string", key_order=0),
            Column("broker", "string", key_order=1),
            Column("ts", "timestamp", timestamp=True),
            Column("price", "decimal(18,2)"),
        ],
        topic="ticks_topic",
    )
    assert e.key_columns == ["symbol", "broker"]
    assert e.timestamp_column == "ts"
    assert e.schema.fieldNames() == ["symbol", "broker", "ts", "price"]
    assert e.schema["price"].dataType.simpleString() == "decimal(18,2)"


def test_entity_rejects_duplicate_timestamp():
    with pytest.raises(ValueError):
        Entity(
            "bad",
            [
                Column("a", "timestamp", timestamp=True),
                Column("b", "timestamp", timestamp=True),
            ],
        )


def test_session_window_agg(spark):
    from ksql_linq_spark.operators.windows import session_window_agg

    rows = [
        ("A", dt.datetime(2024, 1, 1, 0, 0, 0)),
        ("A", dt.datetime(2024, 1, 1, 0, 0, 50)),   # merges (< 90s gap)
        ("A", dt.datetime(2024, 1, 1, 0, 2, 21)),   # 91s -> new session
        ("B", dt.datetime(2024, 1, 1, 0, 0, 0)),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    out = session_window_agg(
        df, keys=["k"], ts_col="ts", gap="90 seconds",
        aggs=[F.count(F.lit(1)).alias("cnt")],
    ).collect()
    sessions = {(r["k"], r["session_start"]): r for r in out}
    s1 = sessions[("A", dt.datetime(2024, 1, 1, 0, 0, 0))]
    assert s1["cnt"] == 2
    assert s1["session_end"] == dt.datetime(2024, 1, 1, 0, 2, 20)  # last+gap
    assert ("A", dt.datetime(2024, 1, 1, 0, 2, 21)) in sessions
    assert sessions[("B", dt.datetime(2024, 1, 1, 0, 0, 0))]["cnt"] == 1


def test_limit_retention(spark):
    from ksql_linq_spark.runtime import limit_retention

    rows = [
        ("A", dt.datetime(2024, 1, 1, 0, 0, i), i) for i in range(10)
    ] + [("B", dt.datetime(2024, 1, 1), 0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long")
    out = limit_retention(df, keys=["k"], ts_col="ts", n=3, tiebreakers=["id"])
    kept = sorted(r["id"] for r in out.filter(F.col("k") == "A").collect())
    assert kept == [7, 8, 9]
    assert out.filter(F.col("k") == "B").count() == 1


def test_salted_agg_matches_plain(spark):
    from ksql_linq_spark.operators.skew import salted_agg

    rows = [("hot", float(i), i) for i in range(100)] + [("cold", 1.0, 1000)]
    df = spark.createDataFrame(rows, "k string, v double, id long")
    out = {
        r["k"]: r
        for r in salted_agg(
            df,
            keys=["k"],
            aggs={
                "n": (F.count, F.sum, F.lit(1)),
                "hi": (F.max, F.max, F.col("v")),
                "lo": (F.min, F.min, F.col("v")),
            },
            salt_col="id",
            salt_buckets=8,
        ).collect()
    }
    assert out["hot"]["n"] == 100 and out["hot"]["hi"] == 99.0 and out["hot"]["lo"] == 0.0
    assert out["cold"]["n"] == 1


def test_salted_join_matches_plain(spark):
    from ksql_linq_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [("a", i) for i in range(50)] + [("b", 99)], "k string, id long"
    )
    right = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, tag long")
    out = salted_join(left, right, on="k", salt_buckets=4, left_salt_col="id")
    plain = left.join(right, on="k")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))


def test_json_functions(spark):
    import ksql_linq_spark.functions as KF

    df = spark.createDataFrame(
        [('{"a":"1","b":"2"}', '{"b":"9","c":"3"}')], "j1 string, j2 string"
    )
    row = df.select(
        KF.JsonArrayContains(F.lit('["x","y"]'), "y").alias("has"),
        KF.JsonConcat("j1", "j2").alias("merged"),
        KF.JsonRecords("j1").alias("rec"),
    ).first()
    assert row["has"] is True
    import json

    assert json.loads(row["merged"]) == {"a": "1", "b": "9", "c": "3"}
    assert row["rec"] == {"a": "1", "b": "2"}


def test_salted_join_default_salt_spreads_hot_key(spark):
    from ksql_linq_spark.operators.skew import salted_join

    # one pathological key carrying every left row
    left = spark.createDataFrame(
        [("hot", i) for i in range(200)], "k string, id long"
    )
    right = spark.createDataFrame([("hot", "dim")], "k string, name string")
    out = salted_join(left, right, on="k", salt_buckets=8)
    assert out.count() == 200  # correctness: same as the plain join
    # the default (full-row hash) must actually SPREAD the hot key
    spread = left.select(
        F.pmod(F.hash("k", "id"), F.lit(8)).alias("s")
    ).distinct().count()
    assert spread > 1


def test_interpolate_linear_fills_between_observations(spark):
    from datetime import datetime

    from ksql_linq_spark.operators.gapfill import interpolate_linear

    rows = [
        ("a", datetime(2024, 1, 1, 0, 0), 10.0),
        ("a", datetime(2024, 1, 1, 0, 45), 40.0),  # 2 missing 15m buckets
        ("b", datetime(2024, 1, 1, 0, 0), 5.0),
        ("b", datetime(2024, 1, 1, 0, 15), 7.0),   # dense: nothing to fill
        (None, datetime(2024, 1, 1, 0, 0), 1.0),   # a NULL key is a key
        (None, datetime(2024, 1, 1, 0, 30), 3.0),
    ]
    df = spark.createDataFrame(rows, "k string, b timestamp, v double")
    out = {
        (r.k, r.b.isoformat()): (r.v, r.is_synthetic)
        for r in interpolate_linear(df, ["k"], "b", "v", "15m").collect()
    }
    assert out[("a", "2024-01-01T00:00:00")] == (10.0, False)
    assert out[("a", "2024-01-01T00:15:00")] == (20.0, True)
    assert out[("a", "2024-01-01T00:30:00")] == (30.0, True)
    assert out[("a", "2024-01-01T00:45:00")] == (40.0, False)
    assert out[("b", "2024-01-01T00:15:00")] == (7.0, False)
    assert out[(None, "2024-01-01T00:00:00")] == (1.0, False)
    assert out[(None, "2024-01-01T00:15:00")] == (2.0, True)
    assert out[(None, "2024-01-01T00:30:00")] == (3.0, False)
    assert len(out) == 9


def test_scd2_history_versions_and_intervals(spark):
    from datetime import datetime

    from ksql_linq_spark.operators.scd import scd2_history

    rows = [
        (1, datetime(2024, 1, 1), 100, "gold"),
        (1, datetime(2024, 1, 2), 101, "gold"),    # same run
        (1, datetime(2024, 1, 3), 102, "silver"),  # new version
        (1, datetime(2024, 1, 4), 103, "gold"),    # back again -> 3rd version
        (2, datetime(2024, 1, 1), 104, None),      # null attr opens v1
        (2, datetime(2024, 1, 2), 105, None),      # null == null: same run
        (2, datetime(2024, 1, 3), 106, "bronze"),
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, eid long, tier string")
    out = scd2_history(df, ["uid"], "ts", ["tier"], tiebreak_cols=["eid"]).collect()
    byk = sorted(
        [(r.uid, r.tier, r.valid_from.day, r.valid_to.day if r.valid_to else None,
          r.is_current, r.n_events) for r in out],
        key=lambda t: (t[0], t[1] or "", t[2]),
    )
    assert byk == [
        (1, "gold", 1, 3, False, 2),
        (1, "gold", 4, None, True, 1),
        (1, "silver", 3, 4, False, 1),
        (2, None, 1, 3, False, 2),
        (2, "bronze", 3, None, True, 1),
    ]


def test_point_in_time_join_picks_version_in_effect(spark):
    from datetime import datetime

    from ksql_linq_spark.operators.scd import point_in_time_join

    hist = spark.createDataFrame(
        [
            (1, "gold", datetime(2024, 1, 1), datetime(2024, 1, 10)),
            (1, "silver", datetime(2024, 1, 10), None),
        ],
        "uid long, tier string, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, datetime(2024, 1, 5)),    # inside v1
            (101, 1, datetime(2024, 1, 10)),   # boundary: belongs to v2
            (102, 1, datetime(2024, 2, 1)),    # open-ended current
            (103, 2, datetime(2024, 1, 5)),    # unknown key -> nulls
        ],
        "fid long, uid long, ts timestamp",
    )
    out = {r.fid: r.tier for r in point_in_time_join(facts, hist, ["uid"], "ts").collect()}
    assert out == {100: "gold", 101: "silver", 102: "silver", 103: None}


def test_scd2_apply_batch_equals_full_rebuild(spark, sf_dir):
    """Incremental SCD2 invariant: folding batch 2 into the history of
    batch 1 reproduces the full rebuild bit-for-bit (versions, validity
    intervals, open flags AND accumulated n_events)."""
    from ksql_linq_spark.operators.scd import scd2_apply_batch, scd2_history

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        (F.col("value") > 50.0).alias("hi"),
    )
    cut = ev.agg(F.expr("percentile(unix_micros(ts), 0.5)")).first()[0]
    b1 = ev.filter(F.unix_micros("ts") <= cut)
    b2 = ev.filter(F.unix_micros("ts") > cut)
    full = scd2_history(ev, ["user_id"], "ts", ["hi"], ["event_id"])
    h1 = scd2_history(b1, ["user_id"], "ts", ["hi"], ["event_id"])
    inc = scd2_apply_batch(h1, b2, ["user_id"], "ts", ["hi"], ["event_id"])
    a = sorted(map(tuple, full.collect()))
    b = sorted(map(tuple, inc.collect()))
    assert a == b


def test_repair_late_buckets_matches_full_rebuild(spark, tmp_path, sf_dir):
    """Late-data repair: materialize bars from on-time ticks, then
    repair with the late slice — the merged table must equal the bars
    of ALL ticks, and the repair recomputes only touched cells."""
    from ksql_linq_spark.operators.incremental import repair_late_buckets
    from ksql_linq_spark.operators.ohlc import ohlc_bars

    ev = read_table(spark, sf_dir, "events")
    # deterministic split: ~5% of rows are "late"
    late = ev.filter(F.crc32(F.col("event_id").cast("string")) % 20 == 0)
    ontime = ev.exceptAll(late)
    path = str(tmp_path / "bars")
    ohlc_bars(ontime, ["event_type"], "ts", "value", "5m").write.parquet(path)

    repair_late_buckets(
        spark, path, ev, late, ["event_type"], "ts", "value", "5m"
    )
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    want = sorted(
        map(tuple, ohlc_bars(ev, ["event_type"], "ts", "value", "5m").collect())
    )
    assert got == want


def test_scd2_apply_batch_empty_batch_is_identity(spark):
    from datetime import datetime

    from ksql_linq_spark.operators.scd import scd2_apply_batch, scd2_history

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, "a"), (1, datetime(2024, 1, 2), 2, "b")],
        "uid long, ts timestamp, eid long, tier string",
    )
    hist = scd2_history(ev, ["uid"], "ts", ["tier"], ["eid"])
    empty = spark.createDataFrame([], ev.schema)
    out = scd2_apply_batch(hist, empty, ["uid"], "ts", ["tier"], ["eid"])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, hist.collect()))


def test_interpolate_single_observation_passthrough(spark):
    from datetime import datetime

    from ksql_linq_spark.operators.gapfill import interpolate_linear

    df = spark.createDataFrame(
        [("k", datetime(2024, 1, 1), 5.0)], "k string, b timestamp, v double"
    )
    out = interpolate_linear(df, ["k"], "b", "v", "15m").collect()
    assert len(out) == 1 and out[0].v == 5.0 and not out[0].is_synthetic


def test_pattern_a_then_b_without_c_semantics(spark):
    from datetime import datetime, timedelta

    from ksql_linq_spark.operators.funnel import pattern_a_then_b_without_c

    t0 = datetime(2024, 1, 1)

    def e(i, u, typ, secs):
        return (i, u, typ, t0 + timedelta(seconds=secs))

    rows = [
        e(1, 1, "view", 0), e(2, 1, "purchase", 60),            # fired
        e(3, 2, "view", 0), e(4, 2, "error", 30), e(5, 2, "purchase", 60),  # blocked
        e(6, 3, "view", 0), e(7, 3, "purchase", 4000),          # outside 30min
        e(8, 4, "view", 0),                                     # no B at all
        e(9, 5, "view", 0), e(10, 5, "purchase", 1800),         # boundary: exactly T
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts timestamp")
    out = {r.event_id: r for r in pattern_a_then_b_without_c(
        df, "view", "purchase", "error", 1800).collect()}
    assert out[1].fired and not out[1].blocked and out[1].gap_s == 60.0
    assert out[3].matched and out[3].blocked and not out[3].fired
    assert not out[6].matched and not out[6].fired
    assert not out[8].matched
    assert out[9].matched and out[9].gap_s == 1800.0  # tolerance inclusive


def test_session_funnel_does_not_convert_across_sessions(spark):
    from datetime import datetime, timedelta

    from ksql_linq_spark.operators.funnel import session_funnel

    t0 = datetime(2024, 1, 1)
    rows = [
        # session 1: view only; purchase happens hours later (new session)
        (1, 1, "view", t0),
        (2, 1, "click", t0 + timedelta(hours=5)),          # session 2
        (3, 1, "purchase", t0 + timedelta(hours=5, minutes=1)),
        # user 2: full chain inside one session
        (4, 2, "view", t0),
        (5, 2, "click", t0 + timedelta(minutes=1)),
        (6, 2, "purchase", t0 + timedelta(minutes=2)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    out = {r.step: r for r in session_funnel(df, ["view", "click", "purchase"], 1800).collect()}
    # sessions with a view: user1-s1 and user2-s1 (user1-s2 has no view)
    assert out["view"].n_sessions == 2
    assert out["click"].n_sessions == 1    # only user 2 converts in-session
    assert out["purchase"].n_sessions == 1
    assert out["purchase"].conversion == 0.5


def test_release_lineage_cuts_unpersists_checkpoint_blocks(spark):
    """The lazy-localCheckpoint lineage cuts leave persisted RDD blocks
    behind (SCALING.md storage-lifetime caveat); release_lineage_cuts is
    the long-lived-session reclamation hook."""
    from ksql_linq_spark.session import release_lineage_cuts

    release_lineage_cuts(spark)  # start from a clean slate
    df = spark.range(1000).localCheckpoint(eager=False)
    assert df.count() == 1000  # materializes + persists the blocks

    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    assert persisted() >= 1
    assert release_lineage_cuts(spark) >= 1
    assert persisted() == 0
