"""Structured Streaming semantics tests (memory sink, synchronous drain)."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ksql_linq_spark.sources import read_stream_from_table
from ksql_linq_spark.streaming.consume import Consumer, ErrorAction, RetryPolicy
from ksql_linq_spark.streaming.windows import (
    EmitMode,
    start_memory_sink,
    stream_static_join,
    stream_stream_join,
    windowed_aggregate,
)


@pytest.fixture()
def event_stream(spark, sf_dir):
    return read_stream_from_table(spark, sf_dir, "events")


def _drain(query):
    query.processAllAvailable()
    query.stop()


def test_tumbling_final_matches_batch(spark, sf_dir, event_stream):
    agg, mode = windowed_aggregate(
        event_stream,
        keys=["event_type"],
        ts_col="ts",
        aggs=[F.count(F.lit(1)).alias("n")],
        size="1 hour",
        grace="1 seconds",
        emit=EmitMode.FINAL,
    )
    assert mode == "append"
    q = start_memory_sink(agg, "t_final", mode)
    _drain(q)
    got = {
        (r["event_type"], r["window_start"]): r["n"]
        for r in spark.sql("SELECT * FROM t_final").collect()
    }
    from ksql_linq_spark.sources import read_table

    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type", F.window("ts", "1 hour").start.alias("ws"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exp = {(r["event_type"], r["ws"]): r["n"] for r in batch.collect()}
    # EMIT FINAL drops windows still open at watermark; everything emitted
    # must match the batch answer exactly
    assert got, "no windows closed"
    for k, v in got.items():
        assert exp[k] == v


def test_update_mode_emits_changes(spark, event_stream):
    agg, mode = windowed_aggregate(
        event_stream,
        keys=["event_type"],
        ts_col="ts",
        aggs=[F.count(F.lit(1)).alias("n")],
        size="1 hour",
        emit=EmitMode.CHANGES,
    )
    assert mode == "update"
    q = start_memory_sink(agg, "t_changes", mode)
    _drain(q)
    assert spark.sql("SELECT count(*) FROM t_changes").first()[0] > 0


def test_dedup_within_watermark(spark, state_store):
    rows = [
        (1, "a", dt.datetime(2024, 1, 1, 0, 0, 1)),
        (1, "a", dt.datetime(2024, 1, 1, 0, 0, 2)),  # dup key
        (2, "b", dt.datetime(2024, 1, 1, 0, 0, 3)),
    ]
    src = spark.createDataFrame(rows, "k long, v string, ts timestamp")
    tmp = tempfile.mkdtemp()
    src.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(src.schema).parquet(f"{tmp}/in")
    agg, mode = windowed_aggregate(
        stream,
        keys=["k"],
        ts_col="ts",
        aggs=[F.count(F.lit(1)).alias("n")],
        size="1 minute",
        emit=EmitMode.CHANGES,
        dedup_keys=["k"],
    )
    q = start_memory_sink(agg, "t_dedup", mode)
    _drain(q)
    got = {r["k"]: r["n"] for r in spark.sql("SELECT * FROM t_dedup").collect()}
    assert got == {1: 1, 2: 1}
    shutil.rmtree(tmp, ignore_errors=True)


def test_stream_stream_join_within(spark):
    left = [(1, dt.datetime(2024, 1, 1, 0, 0, 0)), (2, dt.datetime(2024, 1, 1, 1, 0, 0))]
    right = [
        (1, dt.datetime(2024, 1, 1, 0, 2, 0)),   # within 300s
        (2, dt.datetime(2024, 1, 1, 1, 10, 0)),  # outside 300s
    ]
    tmp = tempfile.mkdtemp()
    ldf = spark.createDataFrame(left, "k long, lts timestamp")
    rdf = spark.createDataFrame(right, "k long, rts timestamp")
    ldf.write.mode("overwrite").parquet(f"{tmp}/l")
    rdf.write.mode("overwrite").parquet(f"{tmp}/r")
    ls = spark.readStream.schema(ldf.schema).parquet(f"{tmp}/l")
    rs = spark.readStream.schema(rdf.schema).parquet(f"{tmp}/r")
    joined = stream_stream_join(ls, rs, on=["k"], left_ts="lts", right_ts="rts")
    q = start_memory_sink(joined, "t_ssj", "append")
    _drain(q)
    ks = [r["k"] for r in spark.sql("SELECT * FROM t_ssj").collect()]
    assert ks == [1]  # default WITHIN 300 s keeps only the close pair
    shutil.rmtree(tmp, ignore_errors=True)


def test_stream_stream_join_require_explicit_within(spark):
    """RequireExplicitWithin parity (KsqlQueryable2.cs:120-124; golden
    twins join_within_default.sql / join_within_explicit_300s.sql): the
    implicit default and an explicit Within(300) build the SAME join
    bound, and forbidding the default turns an unspecified Δ into the
    reference's statement-builder error."""
    import pytest

    from ksql_linq_spark.query.builder import StreamProcessingException

    ldf = spark.createDataFrame([], "k long, lts timestamp")
    rdf = spark.createDataFrame([], "k long, rts timestamp")

    # golden pair: no Within -> WITHIN 300 SECONDS == explicit Within(300)
    default_plan = stream_stream_join(
        ldf, rdf, on=["k"], left_ts="lts", right_ts="rts"
    )._jdf.queryExecution().analyzed().toString()
    explicit_plan = stream_stream_join(
        ldf, rdf, on=["k"], left_ts="lts", right_ts="rts", within_seconds=300
    )._jdf.queryExecution().analyzed().toString()
    assert default_plan == explicit_plan
    assert "300" in default_plan

    # RequireExplicitWithin: default disabled + no Within -> raise
    with pytest.raises(StreamProcessingException, match="explicit Within"):
        stream_stream_join(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
            forbid_default_within=True,
        )
    # an explicit Δ satisfies strict mode
    stream_stream_join(
        ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
        within_seconds=60, forbid_default_within=True,
    )
    with pytest.raises(ValueError, match="> 0"):
        stream_stream_join(
            ldf, rdf, on=["k"], left_ts="lts", right_ts="rts", within_seconds=0
        )


def test_stream_static_join(spark, sf_dir, event_stream):
    from ksql_linq_spark.sources import read_table

    dim = spark.createDataFrame(
        [("click", "web"), ("purchase", "commerce")], "event_type string, cat string"
    )
    joined = stream_static_join(event_stream, dim, on="event_type")
    q = start_memory_sink(joined.groupBy("cat").count(), "t_sst", "complete")
    _drain(q)
    got = {r["cat"]: r["count"] for r in spark.sql("SELECT * FROM t_sst").collect()}
    batch = read_table(spark, sf_dir, "events")
    exp_click = batch.filter(F.col("event_type") == "click").count()
    assert got["web"] == exp_click


def test_consumer_retry_and_dlq(spark):
    tmp = tempfile.mkdtemp()
    src = spark.createDataFrame([(1, "ok"), (2, "boom"), (3, "ok")], "id long, v string")
    src.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(src.schema).parquet(f"{tmp}/in")

    seen: list[int] = []
    attempts: dict[int, int] = {}

    def action(row):
        attempts[row["id"]] = attempts.get(row["id"], 0) + 1
        if row["v"] == "boom":
            raise ValueError("poison record")
        seen.append(row["id"])

    consumer = Consumer(
        "events",
        on_error=ErrorAction.DLQ,
        retry=RetryPolicy(max_attempts=2, backoff_seconds=0.01),
        dlq_path=f"{tmp}/dlq",
    )
    q = consumer.start(stream, action, checkpoint=f"{tmp}/ckpt")
    q.processAllAvailable()
    q.stop()
    assert sorted(seen) == [1, 3]
    assert attempts[2] == 2  # retried then dead-lettered
    dlq = spark.read.parquet(f"{tmp}/dlq")
    rows = dlq.collect()
    assert len(rows) == 1
    assert rows[0]["error_type"] == "ValueError"
    assert rows[0]["source"] == "events"
    assert len(rows[0]["error_fingerprint"]) == 16
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_gap_fill(spark, state_store):
    from ksql_linq_spark.operators.gapfill import streaming_gap_fill

    tmp = tempfile.mkdtemp()
    rows = [
        ("A", dt.datetime(2024, 1, 1, 0, 0), 10.0),
        ("A", dt.datetime(2024, 1, 1, 0, 3), 13.0),  # 2-bucket gap
        ("B", dt.datetime(2024, 1, 1, 0, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, bucket timestamp, close double")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/in")
    filled = streaming_gap_fill(stream, "k", "bucket", "close", "1m")
    q = start_memory_sink(filled, "t_gap", "append")
    _drain(q)
    got = sorted(
        (r["k"], r["bucket"], r["close"], r["is_synthetic"])
        for r in spark.sql("SELECT * FROM t_gap").collect()
    )
    assert got == [
        ("A", dt.datetime(2024, 1, 1, 0, 0), 10.0, False),
        ("A", dt.datetime(2024, 1, 1, 0, 1), 10.0, True),
        ("A", dt.datetime(2024, 1, 1, 0, 2), 10.0, True),
        ("A", dt.datetime(2024, 1, 1, 0, 3), 13.0, False),
        ("B", dt.datetime(2024, 1, 1, 0, 0), 5.0, False),
    ]
    shutil.rmtree(tmp, ignore_errors=True)


def test_keyed_table_sink_upserts(spark, sf_dir, event_stream):
    """Update-mode aggregate materialized as a keyed TABLE must converge
    to the batch answer (the reference's table-cache read semantics)."""
    from ksql_linq_spark.sources import read_table
    from ksql_linq_spark.streaming.windows import keyed_table_sink

    out_dir = tempfile.mkdtemp(prefix="keyed_tbl_")
    ckpt = tempfile.mkdtemp(prefix="keyed_ckpt_")
    try:
        agg = event_stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.max("value").alias("hi")
        )
        q = keyed_table_sink(agg, f"{out_dir}/t", ["event_type"], ckpt)
        _drain(q)
        got = {
            r["event_type"]: (r["n"], r["hi"])
            for r in spark.read.parquet(f"{out_dir}/t").collect()
        }
        want = {
            r["event_type"]: (r["n"], r["hi"])
            for r in read_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("hi"))
            .collect()
        }
        assert got == want
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_keyed_table_sink_tombstone_deletes_key(spark):
    """Tombstone contract (TombstoneSafeSerDes.cs:1-111): a changelog row
    whose non-key columns are all NULL deletes its key from the keyed
    table — upsert A,B then tombstone A → only B remains."""
    import os

    from pyspark.sql import types as T

    from ksql_linq_spark.streaming.windows import keyed_table_sink

    src = tempfile.mkdtemp(prefix="tomb_src_")
    out_dir = tempfile.mkdtemp(prefix="tomb_tbl_")
    ckpt = tempfile.mkdtemp(prefix="tomb_ckpt_")
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    try:
        spark.createDataFrame([("A", 1.0), ("B", 2.0)], schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = keyed_table_sink(stream, f"{out_dir}/t", ["k"], ckpt)
        q.processAllAvailable()
        got = {r["k"]: r["v"] for r in spark.read.parquet(f"{out_dir}/t").collect()}
        assert got == {"A": 1.0, "B": 2.0}
        # tombstone A (null value), update B
        spark.createDataFrame([("A", None), ("B", 3.0)], schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        q.stop()
        got = {r["k"]: r["v"] for r in spark.read.parquet(f"{out_dir}/t").collect()}
        assert got == {"B": 3.0}, f"tombstoned key must be deleted, got {got}"
    finally:
        for d in (src, out_dir, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_hopping_window_final(spark):
    """W3 hopping + EMIT FINAL: each event counted in size/advance windows."""
    rows = [
        ("A", dt.datetime(2024, 1, 1, 0, 0, 10)),
        ("A", dt.datetime(2024, 1, 1, 0, 0, 40)),
        ("A", dt.datetime(2024, 1, 1, 0, 10, 0)),  # advances watermark far
    ]
    src = spark.createDataFrame(rows, "k string, ts timestamp")
    import os

    d = tempfile.mkdtemp(prefix="hop_src_")
    try:
        src.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(src.schema).parquet(d)
        agg, mode = windowed_aggregate(
            stream,
            keys=["k"],
            ts_col="ts",
            aggs=[F.count(F.lit(1)).alias("n")],
            size="60 seconds",
            advance="30 seconds",
            grace="1 seconds",
            emit=EmitMode.FINAL,
        )
        q = start_memory_sink(agg, "hop_final", mode)
        _drain(q)
        got = {
            (r["window_start"].minute, r["window_start"].second): r["n"]
            for r in spark.sql("SELECT * FROM hop_final").collect()
            if r["window_start"].minute == 0 or (r["window_start"].minute == 59)
        }
        # event at :10 lands in [59:30,0:30) and [0:00,1:00); :40 in [0:00,1:00) and [0:30,1:30)
        assert got.get((59, 30)) == 1
        assert got.get((0, 0)) == 2
        assert got.get((0, 30)) == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_session_window(spark):
    """Session windows in streaming mode: watermark-closed sessions land
    in append mode with last_event + gap as the end."""
    rows = [
        ("A", dt.datetime(2024, 1, 1, 0, 0, 0)),
        ("A", dt.datetime(2024, 1, 1, 0, 0, 20)),
        ("A", dt.datetime(2024, 1, 1, 1, 0, 0)),  # far ahead: closes session 1
    ]
    src = spark.createDataFrame(rows, "k string, ts timestamp")
    d = tempfile.mkdtemp(prefix="sess_src_")
    try:
        src.coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(src.schema).parquet(d)
        agg = (
            stream.withWatermark("ts", "5 seconds")
            .groupBy("k", F.session_window("ts", "30 seconds"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "k",
                F.col("session_window.start").alias("s"),
                F.col("session_window.end").alias("e"),
                "n",
            )
        )
        q = start_memory_sink(agg, "sess_final", "append")
        _drain(q)
        got = {
            (r["s"], r["e"]): r["n"]
            for r in spark.sql("SELECT * FROM sess_final").collect()
        }
        s1 = (dt.datetime(2024, 1, 1, 0, 0, 0), dt.datetime(2024, 1, 1, 0, 0, 50))
        assert got.get(s1) == 2  # merged pair, end = last + gap
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_left_outer_join_emits_nulls(spark):
    """LEFT OUTER stream-stream join (reference contract: INNER, LEFT
    OUTER): unmatched left rows must emit with null right columns once
    the watermark passes their join window.  Files feed one-per-batch so
    the watermark actually advances across micro-batches."""
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    tmp = tempfile.mkdtemp()

    def put(side, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{tmp}/{side}")

    # batch 1: k=1 matches within 300s, k=2 has no right row at all
    put("l", [(1, t0), (2, t0)], "k long, lts timestamp")
    put("r", [(1, t0 + dt.timedelta(seconds=60))], "k long, rts timestamp")
    # batches 2-3: far-future rows push the watermark past k=2's window
    for h in (2, 4):
        ts = t0 + dt.timedelta(hours=h)
        put("l", [(100 + h, ts)], "k long, lts timestamp")
        put("r", [(100 + h, ts)], "k long, rts timestamp")

    ls = (
        spark.readStream.schema("k long, lts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/l")
    )
    rs = (
        spark.readStream.schema("k long, rts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/r")
    )
    joined = stream_stream_join(
        ls, rs, on=["k"], left_ts="lts", right_ts="rts", how="leftOuter"
    )
    assert joined.columns == ["k", "lts", "rts"]  # right key dropped
    q = start_memory_sink(joined, "t_ssj_lo", "append")
    _drain(q)
    got = {r["k"]: r["rts"] for r in spark.sql("SELECT * FROM t_ssj_lo").collect()}
    assert got[1] == t0 + dt.timedelta(seconds=60)  # matched pair
    assert 2 in got and got[2] is None  # unmatched left row emitted with null
    assert got[102] is not None and got[104] is not None
    shutil.rmtree(tmp, ignore_errors=True)


def test_idempotent_append_sink_survives_restart_and_replay(spark, sf_dir):
    """Exactly-once append: restarting from the same checkpoint (which
    replays any in-flight batch with the same batchId) must not
    duplicate rows, and a simulated replay of an already-committed
    batch is a no-op."""
    from ksql_linq_spark.sources import read_stream_from_table, read_table
    from ksql_linq_spark.streaming.windows import idempotent_append_sink

    out = tempfile.mkdtemp(prefix="idem_out_")
    ckpt = tempfile.mkdtemp(prefix="idem_ckpt_")
    try:
        src = read_stream_from_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        q = idempotent_append_sink(src, f"{out}/t", ckpt)
        _drain(q)
        n_events = read_table(spark, sf_dir, "events").count()
        first = spark.read.parquet(f"{out}/t")
        assert first.count() == n_events
        assert first.select("event_id").distinct().count() == n_events

        # simulate the crash-replay path: re-deliver batch 0 by hand
        import os

        batches = sorted(os.listdir(f"{out}/t"))
        assert batches, "sink wrote no batch directories"
        replay = read_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        from ksql_linq_spark.streaming import windows as W

        # same body foreachBatch runs: existing dir -> no-op
        target0 = int(batches[0].split("=")[1])
        before = spark.read.parquet(f"{out}/t").count()
        # invoke the guard exactly as foreachBatch would
        sink_fn_holder = {}

        def capture(df, path, checkpoint):
            pass

        # re-create the guard closure
        import ksql_linq_spark.streaming.windows as wmod

        target = os.path.join(f"{out}/t", f"batch_id={target0}")
        assert os.path.exists(target)
        # write path refuses: errorifexists would throw if the guard missed
        # (direct call mirrors foreachBatch's replay delivery)
        def append_once(batch_df, batch_id):
            t = os.path.join(f"{out}/t", f"batch_id={batch_id}")
            if os.path.exists(t):
                return
            batch_df.write.mode("errorifexists").parquet(t)

        append_once(replay, target0)
        assert spark.read.parquet(f"{out}/t").count() == before

        # restart from the same checkpoint with no new data: nothing appends
        q2 = idempotent_append_sink(src, f"{out}/t", ckpt)
        _drain(q2)
        assert spark.read.parquet(f"{out}/t").count() == n_events
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_jsonl_csv_roundtrip_with_corrupt_routing(spark, sf_dir):
    """Explicit-schema JSONL/CSV readers round-trip the events table and
    route malformed lines to _corrupt instead of failing (DLQ policy)."""
    from pyspark.sql import types as T

    from ksql_linq_spark.sources import (
        read_csv,
        read_jsonl,
        read_table,
        write_csv,
        write_jsonl,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    d = tempfile.mkdtemp(prefix="fmt_")
    try:
        write_jsonl(ev, f"{d}/j")
        back_j = read_jsonl(spark, f"{d}/j", schema).cache()
        assert back_j.where(F.col("_corrupt").isNotNull()).count() == 0
        assert back_j.count() == ev.count()
        # timestamps round-trip to the microsecond
        a = ev.agg(F.max("ts")).collect()[0][0]
        b = back_j.agg(F.max("ts")).collect()[0][0]
        assert a == b

        write_csv(ev, f"{d}/c")
        back_c = read_csv(spark, f"{d}/c", schema).cache()
        assert back_c.count() == ev.count()
        assert back_c.where(F.col("_corrupt").isNotNull()).count() == 0

        # malformed JSON line routes to _corrupt, job survives
        import os

        back_j.unpersist()  # same path+schema plan would hit the cache
        with open(f"{d}/j/zz_bad.json", "w") as f:
            f.write('{"event_id": "not-a-number", "event_type": 3.7.1}\n')
        bad = read_jsonl(spark, f"{d}/j", schema).cache()
        assert bad.where(F.col("_corrupt").isNotNull()).count() == 1
        assert bad.count() == ev.count() + 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_tws_first_seen_dedup(spark, sf_dir):
    """transformWithState first-seen dedup equals batch distinct on the
    key.  Skips where the TWS Python runner can't start (this container
    ships a broken google.protobuf — see streaming/stateful.py)."""
    from ksql_linq_spark.streaming.stateful import (
        streaming_first_seen_dedup,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf unavailable: TWS runner cannot start")

    from ksql_linq_spark.sources import read_stream_from_table, read_table

    ck = tempfile.mkdtemp(prefix="tws_ckpt_")
    try:
        src = read_stream_from_table(spark, sf_dir, "events").select(
            "event_type", "event_id"
        )
        out = streaming_first_seen_dedup(src, ["event_type"])
        q = start_memory_sink(out, "tws_dedup", "append")
        _drain(q)
        got = spark.sql("SELECT count(*) AS n FROM tws_dedup").collect()[0]["n"]
        want = (
            read_table(spark, sf_dir, "events")
            .select("event_type")
            .distinct()
            .count()
        )
        assert got == want
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def test_streaming_trend_fit_matches_batch(spark, sf_dir):
    """trend_fit is one map-side-combinable aggregation, so it streams
    unchanged in update mode: the final micro-batch state equals the
    batch answer bit-for-bit (the exact-moment claim, streamed)."""
    from ksql_linq_spark.operators.stats import trend_fit
    from ksql_linq_spark.sources import read_stream_from_table, read_table

    src = read_stream_from_table(spark, sf_dir, "events")
    out = trend_fit(src, ["event_type"], "ts", "value",
                    t0="2024-01-01", y_scale=2)
    q = start_memory_sink(out, "trend_stream", "complete")
    _drain(q)
    got = {
        r["event_type"]: (r["n"], r["slope"], r["intercept"], r["r2"])
        for r in spark.sql(
            "SELECT * FROM trend_stream"
        ).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["slope"], r["intercept"], r["r2"])
        for r in trend_fit(
            read_table(spark, sf_dir, "events"),
            ["event_type"], "ts", "value", t0="2024-01-01", y_scale=2,
        ).collect()
    }
    assert got == want  # bit-identical, not approximately


def test_streaming_quality_gate_quarantine(spark):
    """Quality gate under Structured Streaming: one foreachBatch pass
    routes clean rows to the good sink and violation-stamped rows to
    quarantine (the S8 DLQ topology with rule names as the error
    reasons) — no row lost, no row duplicated."""
    from pyspark.sql import types as T

    from ksql_linq_spark.operators.quality import expression, quality_gate

    src = tempfile.mkdtemp(prefix="qg_src_")
    good_dir = tempfile.mkdtemp(prefix="qg_good_")
    quar_dir = tempfile.mkdtemp(prefix="qg_quar_")
    ckpt = tempfile.mkdtemp(prefix="qg_ckpt_")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    rules = [
        expression("v_positive", F.col("v") > 0),
        expression("v_small", F.col("v") < 100),
    ]

    def route(batch, batch_id):
        good, bad = quality_gate(batch, rules)
        good.write.mode("append").parquet(good_dir)
        bad.withColumn("_violations", F.to_json("_violations")).write.mode(
            "append"
        ).parquet(quar_dir)

    try:
        spark.createDataFrame(
            [(1, 5.0), (2, -1.0), (3, 500.0), (4, 99.0)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(route)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        good_ids = sorted(r["id"] for r in spark.read.parquet(good_dir).collect())
        quar = {
            r["id"]: r["_violations"]
            for r in spark.read.parquet(quar_dir).collect()
        }
        assert good_ids == [1, 4]
        assert set(quar) == {2, 3}
        assert "v_positive" in quar[2] and "v_small" in quar[3]
    finally:
        for d in (src, good_dir, quar_dir, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_changelog_join_latest_value_and_tombstone(spark, state_store):
    """True stream-TABLE join: probes see the newest upsert for their
    key at their event time, a later upsert changes subsequent probes
    (cross-batch state), and a null upsert tombstones the key."""
    from pyspark.sql import types as T

    from ksql_linq_spark.streaming.changelog_join import stream_changelog_join

    lsrc = tempfile.mkdtemp(prefix="clj_l_")
    rsrc = tempfile.mkdtemp(prefix="clj_r_")
    lschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("probe_id", T.LongType()),
        ]
    )
    rschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    try:
        # batch 1: upsert A=10 at t1, probes at t0 (before) and t2 (after)
        spark.createDataFrame(
            [("A", t(0), 1), ("A", t(2), 2)], lschema
        ).coalesce(1).write.mode("append").parquet(lsrc)
        spark.createDataFrame([("A", t(1), 10.0)], rschema).coalesce(
            1
        ).write.mode("append").parquet(rsrc)

        ls = spark.readStream.schema(lschema).parquet(lsrc)
        rs = spark.readStream.schema(rschema).parquet(rsrc)
        joined = stream_changelog_join(ls, rs, key="k", left_ts="ts", value_col="price")
        q = start_memory_sink(joined, "t_clj", "append")
        q.processAllAvailable()
        # batch 2: upsert A=20, probe sees 20; tombstone then probe sees null
        spark.createDataFrame(
            [("A", t(10), 20.0), ("A", t(12), None)], rschema
        ).coalesce(1).write.mode("append").parquet(rsrc)
        q.processAllAvailable()
        spark.createDataFrame(
            [("A", t(11), 3)], lschema
        ).coalesce(1).write.mode("append").parquet(lsrc)
        q.processAllAvailable()
        spark.createDataFrame(
            [("A", t(13), 4)], lschema
        ).coalesce(1).write.mode("append").parquet(lsrc)
        q.processAllAvailable()
        q.stop()
        got = {
            r["probe_id"]: r["latest_price"]
            for r in spark.sql("SELECT * FROM t_clj").collect()
        }
        assert got[1] is None  # probe before any upsert
        assert got[2] == 10.0  # sees batch-1 upsert
        # batch 2 applied BOTH the upsert to 20 and the tombstone before
        # batch 3's probe ran: probe 3 and 4 both see the tombstoned key
        assert got[3] is None and got[4] is None
    finally:
        for d in (lsrc, rsrc):
            shutil.rmtree(d, ignore_errors=True)


def test_streaming_incremental_rollup_maintenance(spark):
    """The incremental-merge operator doing its real job: a foreachBatch
    loop maintains a materialized rollup by merging each micro-batch's
    partials with the stored partial table — after all batches the
    finalized rollup equals a direct aggregation of everything ever
    ingested, without any batch re-reading prior facts."""
    import os

    from pyspark.sql import types as T

    from ksql_linq_spark.operators.incremental import (
        AggSpec,
        agg_delta,
        finalize,
        merge_partials,
    )

    src = tempfile.mkdtemp(prefix="incr_src_")
    store = tempfile.mkdtemp(prefix="incr_store_") + "/partials"
    ckpt = tempfile.mkdtemp(prefix="incr_ckpt_")
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("oid", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    specs = [
        AggSpec("count", alias="n"),
        AggSpec("sum", "v", alias="s"),
        AggSpec("max_by", "v", ord_col="oid", alias="last_v"),
    ]

    def upsert(batch, batch_id):
        delta = agg_delta(batch, ["k"], specs)
        if os.path.exists(store):
            prior = spark.read.parquet(store)
            merged = merge_partials([prior, delta], ["k"], specs)
        else:
            merged = delta
        staged = store + ".staged"
        merged.write.mode("overwrite").parquet(staged)
        spark.read.parquet(staged).write.mode("overwrite").parquet(store)

    batches = [
        [("A", 1, 10.0), ("B", 2, 5.0)],
        [("A", 3, 30.0)],
        [("B", 4, -2.0), ("A", 5, 20.0)],
    ]
    try:
        spark.createDataFrame(batches[0], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .start()
        )
        for extra in batches[1:]:
            q.processAllAvailable()
            spark.createDataFrame(extra, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        q.processAllAvailable()
        q.stop()

        got = {
            r["k"]: (r["n"], float(r["s"]), r["last_v"])
            for r in finalize(spark.read.parquet(store), specs).collect()
        }
        assert got == {"A": (3, 60.0, 20.0), "B": (2, 3.0, -2.0)}
    finally:
        for d in (src, os.path.dirname(store), ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_changelog_join_state_survives_restart(spark):
    """Crash-recovery contract: the changelog join's per-key state lives
    in the checkpointed state store, so a stopped-and-restarted query
    (same checkpoint) still enriches probes with upserts ingested before
    the restart — the reference's RocksDB-table recovery semantics."""
    from pyspark.sql import types as T

    from ksql_linq_spark.streaming.changelog_join import stream_changelog_join

    lsrc = tempfile.mkdtemp(prefix="cljr_l_")
    rsrc = tempfile.mkdtemp(prefix="cljr_r_")
    ckpt = tempfile.mkdtemp(prefix="cljr_ck_")
    out_dir = tempfile.mkdtemp(prefix="cljr_out_")
    lschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("probe_id", T.LongType()),
        ]
    )
    rschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)

    def start():
        ls = spark.readStream.schema(lschema).parquet(lsrc)
        rs = spark.readStream.schema(rschema).parquet(rsrc)
        j = stream_changelog_join(ls, rs, key="k", left_ts="ts", value_col="price")
        return (
            j.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    try:
        # run 1: ingest the upsert only, then stop
        spark.createDataFrame([("A", t(1), 42.0)], rschema).coalesce(1).write.mode(
            "append"
        ).parquet(rsrc)
        spark.createDataFrame([("A", t(2), 1)], lschema).coalesce(1).write.mode(
            "append"
        ).parquet(lsrc)
        q = start()
        q.processAllAvailable()
        q.stop()
        # run 2 (fresh query object, same checkpoint): probe must see the
        # pre-restart upsert from recovered state
        spark.createDataFrame([("A", t(5), 2)], lschema).coalesce(1).write.mode(
            "append"
        ).parquet(lsrc)
        q2 = start()
        q2.processAllAvailable()
        q2.stop()
        got = {
            r["probe_id"]: r["latest_price"]
            for r in spark.read.parquet(out_dir).collect()
        }
        assert got[1] == 42.0  # same-batch upsert visible pre-restart
        assert got[2] == 42.0, "state must survive the restart"
    finally:
        for d in (lsrc, rsrc, ckpt, out_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_changelog_join_string_values_native_type(spark):
    """The changelog value keeps its NATIVE type end-to-end: a STRING
    changelog must enrich with strings (round 2 hardwired a double cast,
    which would null every value into a spurious tombstone)."""
    from pyspark.sql import types as T

    from ksql_linq_spark.streaming.changelog_join import stream_changelog_join

    lsrc = tempfile.mkdtemp(prefix="cljs_l_")
    rsrc = tempfile.mkdtemp(prefix="cljs_r_")
    lschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("probe_id", T.LongType()),
        ]
    )
    rschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("status", T.StringType()),
        ]
    )
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    try:
        spark.createDataFrame([("A", t(1), "open")], rschema).coalesce(
            1
        ).write.mode("append").parquet(rsrc)
        spark.createDataFrame([("A", t(2), 1)], lschema).coalesce(
            1
        ).write.mode("append").parquet(lsrc)
        ls = spark.readStream.schema(lschema).parquet(lsrc)
        rs = spark.readStream.schema(rschema).parquet(rsrc)
        joined = stream_changelog_join(
            ls, rs, key="k", left_ts="ts", value_col="status"
        )
        assert joined.schema["latest_status"].dataType == T.StringType()
        q = start_memory_sink(joined, "t_cljs", "append")
        q.processAllAvailable()
        # tombstone then probe: NULL means deleted, not a cast artifact
        spark.createDataFrame([("A", t(3), None)], rschema).coalesce(
            1
        ).write.mode("append").parquet(rsrc)
        q.processAllAvailable()
        spark.createDataFrame([("A", t(4), 2)], lschema).coalesce(
            1
        ).write.mode("append").parquet(lsrc)
        q.processAllAvailable()
        q.stop()
        got = {
            r["probe_id"]: r["latest_status"]
            for r in spark.sql("SELECT * FROM t_cljs").collect()
        }
        assert got[1] == "open"
        assert got[2] is None
    finally:
        for d in (lsrc, rsrc):
            shutil.rmtree(d, ignore_errors=True)


def test_stream_changelog_join_rejects_nested_value(spark):
    from pyspark.sql import types as T

    from ksql_linq_spark.streaming.changelog_join import stream_changelog_join

    l = spark.createDataFrame([], "k string, ts timestamp, probe_id long")
    r = spark.createDataFrame(
        [], "k string, ts timestamp, payload struct<a:int>"
    )
    with pytest.raises(TypeError, match="nested"):
        stream_changelog_join(l, r, key="k", left_ts="ts", value_col="payload")


def test_keyed_table_sink_same_batch_upsert_and_tombstone_deterministic(spark):
    """A single micro-batch carrying BOTH an upsert and a tombstone for
    one key must resolve deterministically.  With order_col the newest
    row wins; here the tombstone is newest → key deleted, while the
    value-order fallback (no order_col) keeps the upsert.  Round 2's
    bare dropDuplicates picked an arbitrary row."""
    from pyspark.sql import types as T

    from ksql_linq_spark.streaming.windows import keyed_table_sink

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    for use_order, expect in ((True, {}), (False, {"A": 1.0})):
        src = tempfile.mkdtemp(prefix="tomb2_src_")
        out_dir = tempfile.mkdtemp(prefix="tomb2_tbl_")
        ckpt = tempfile.mkdtemp(prefix="tomb2_ckpt_")
        try:
            # one file -> one batch: upsert (seq 1) AND tombstone (seq 2)
            spark.createDataFrame(
                [("A", 1, 1.0), ("A", 2, None)], schema
            ).coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(schema).parquet(src)
            # drop seq from the value columns on the fallback leg so the
            # tombstone row is truly all-NULL there
            s = stream if use_order else stream.select(
                "k", F.col("v")
            )
            q = keyed_table_sink(
                s,
                f"{out_dir}/t",
                ["k"],
                ckpt,
                order_col="seq" if use_order else None,
            )
            q.processAllAvailable()
            q.stop()
            got = {
                r["k"]: r["v"]
                for r in spark.read.parquet(f"{out_dir}/t").collect()
            }
            assert got == expect, (use_order, got)
        finally:
            for d in (src, out_dir, ckpt):
                shutil.rmtree(d, ignore_errors=True)


def test_stream_stream_left_outer_join_emits_unmatched(spark):
    """J5 LEFT OUTER under streaming: the unmatched left row must emit
    with null right columns once the watermark passes its join window —
    driven here by a later flush batch (maxFilesPerTrigger=1 forces
    multiple micro-batches so the watermark actually advances)."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    flush = dt.datetime(2024, 1, 1, 6, 0, 0)
    tmp = tempfile.mkdtemp()
    ldf1 = spark.createDataFrame(
        [(1, base, "m"), (3, base, "u")], "k long, lts timestamp, lv string"
    )
    rdf1 = spark.createDataFrame(
        [(1, base + dt.timedelta(seconds=60), "r1")], "k long, rts timestamp, rv string"
    )
    ldf2 = spark.createDataFrame([(99, flush, "f")], "k long, lts timestamp, lv string")
    rdf2 = spark.createDataFrame([(99, flush, "rf")], "k long, rts timestamp, rv string")
    ldf1.write.parquet(f"{tmp}/l/1")
    rdf1.write.parquet(f"{tmp}/r/1")
    ldf2.write.parquet(f"{tmp}/l/2")
    rdf2.write.parquet(f"{tmp}/r/2")
    ls = (
        spark.readStream.schema(ldf1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/l/*")
    )
    rs = (
        spark.readStream.schema(rdf1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{tmp}/r/*")
    )
    joined = stream_stream_join(
        ls, rs, on=["k"], left_ts="lts", right_ts="rts", how="leftOuter"
    )
    q = start_memory_sink(joined, "t_ssj_lo", "append")
    _drain(q)
    rows = {r["k"]: r for r in spark.sql("SELECT * FROM t_ssj_lo").collect()}
    assert rows[1]["rv"] == "r1"           # matched pair joins
    assert 3 in rows and rows[3]["rv"] is None  # unmatched left emits nulls
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_scd2_maintenance_matches_batch(spark, tmp_path):
    """foreachBatch + scd2_apply_batch maintains the SCD2 table across
    micro-batches; after the stream drains, the maintained history
    equals the batch rebuild over all events (the incremental.py
    pattern applied to dimension history)."""
    import datetime as dtm

    from ksql_linq_spark.operators.scd import scd2_apply_batch, scd2_history

    rows = [
        (1, dtm.datetime(2024, 1, 1, 0, 0, i), i, ("gold" if i < 3 else "silver"))
        for i in range(6)
    ] + [
        (2, dtm.datetime(2024, 1, 1, 0, 0, i), 100 + i, "bronze") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, eid long, tier string")
    # two event-time-ordered files -> two micro-batches
    df.filter(F.col("ts") < dtm.datetime(2024, 1, 1, 0, 0, 3)).coalesce(1).write.parquet(
        str(tmp_path / "in" / "1")
    )
    df.filter(F.col("ts") >= dtm.datetime(2024, 1, 1, 0, 0, 3)).coalesce(1).write.parquet(
        str(tmp_path / "in" / "2")
    )
    hist_path = str(tmp_path / "hist")
    empty = spark.createDataFrame(
        [],
        "uid long, tier string, valid_from timestamp, valid_to timestamp,"
        " is_current boolean, n_events bigint",
    )
    empty.write.mode("overwrite").parquet(hist_path)

    def upd(batch_df, batch_id):
        hist = spark.read.parquet(hist_path)
        new_hist = scd2_apply_batch(
            hist, batch_df, ["uid"], "ts", ["tier"], ["eid"]
        )
        # rewrite via temp dir (read side and write side share the path)
        new_hist.cache().count()
        new_hist.write.mode("overwrite").parquet(hist_path + "_tmp")
        spark.read.parquet(hist_path + "_tmp").write.mode("overwrite").parquet(hist_path)

    src = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = src.writeStream.foreachBatch(upd).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).start()
    q.processAllAvailable()
    q.stop()

    maintained = sorted(map(tuple, spark.read.parquet(hist_path).collect()))
    rebuilt = sorted(
        map(tuple, scd2_history(df, ["uid"], "ts", ["tier"], ["eid"]).collect())
    )
    assert maintained == rebuilt


def test_streaming_session_window_matches_batch(spark, sf_dir, event_stream):
    """W-superset: native session windows under Structured Streaming —
    append-mode emission after watermark close matches the batch
    session_window aggregation on the same data."""
    agg = (
        event_stream.withWatermark("ts", "1 second")
        .groupBy("event_type", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.col("session_window.start").alias("s"),
            "n",
        )
    )
    q = start_memory_sink(agg, "t_sess_stream", "append")
    _drain(q)
    got = {
        (r["event_type"], r["s"]): r["n"]
        for r in spark.sql("SELECT * FROM t_sess_stream").collect()
    }
    from ksql_linq_spark.sources import read_table

    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("session_window.start").alias("s"), "n")
    )
    want = {(r["event_type"], r["s"]): r["n"] for r in batch.collect()}
    # streaming emits every session whose close precedes the final
    # watermark; with a 1s grace all but the tail sessions emit
    assert got
    for k, v in got.items():
        assert want.get(k) == v
    assert len(got) >= len(want) - 5 * 2  # at most the open tail missing


def test_streaming_curation_pipeline_end_to_end(spark, tmp_path):
    """Flagship streaming composition: document stream -> quality gate
    (fused rules, violation reasons) -> exact-dedup within watermark ->
    clean sink, with rejects routed to a quarantine table carrying
    their reasons.  Every stage is the already-tested operator; this
    pins that they COMPOSE under Structured Streaming."""
    import datetime as dtm

    from ksql_linq_spark.operators.quality import in_range, not_null, validate
    from ksql_linq_spark.operators.text import fingerprint

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        (1, "good doc body with plenty of text", 34, t0),
        (2, "good doc body with plenty of text", 34, t0),   # dup of 1
        (3, None, 0, t0),                                    # null text
        (4, "x", 1, t0),                                     # too short
        (5, "another clean document entirely", 31, t0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long, ts timestamp")
    df.coalesce(1).write.parquet(str(tmp_path / "in" / "1"))
    src = spark.readStream.schema(df.schema).parquet(str(tmp_path / "in" / "*"))

    validated = validate(
        src, [not_null("text"), in_range("n_chars", 10, 100000)]
    )
    clean = (
        validated.where(F.size("_violations") == 0)
        .withColumn("fp", fingerprint(F.col("text")))
        .withWatermark("ts", "1 minute")
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("_violations")
    )
    quarantine = validated.where(F.size("_violations") > 0).select(
        "doc_id", F.col("_violations").alias("reasons")
    )
    q1 = start_memory_sink(clean, "t_cur_clean", "append")
    q2 = start_memory_sink(quarantine, "t_cur_quar", "append")
    _drain(q1)
    _drain(q2)
    kept = {r.doc_id for r in spark.sql("SELECT * FROM t_cur_clean").collect()}
    quar = {r.doc_id: r.reasons for r in spark.sql("SELECT * FROM t_cur_quar").collect()}
    assert kept in ({1, 5}, {2, 5})  # one of the dups survives
    assert set(quar) == {3, 4}
    assert quar[3] == ["text_not_null", "n_chars_in_range"]  # n_chars=0 fails both
    assert quar[4] == ["n_chars_in_range"]


def test_incremental_read_manifest_contract(spark, tmp_path):
    from ksql_linq_spark.sources import incremental_read

    d1 = spark.createDataFrame([(1,), (2,)], "id long")
    d1.coalesce(1).write.parquet(str(tmp_path / "f1"))
    glob_pat = str(tmp_path / "f*" / "*.parquet")
    man = str(tmp_path / "manifest.jsonl")

    df, files, commit = incremental_read(spark, glob_pat, man)
    assert df is not None and df.count() == 2 and len(files) == 1
    # crash-before-commit: a re-read sees the same batch again
    df2, files2, commit2 = incremental_read(spark, glob_pat, man)
    assert {r.id for r in df2.collect()} == {1, 2}
    commit2()
    # after commit: nothing new
    df3, files3, _ = incremental_read(spark, glob_pat, man)
    assert df3 is None and files3 == []
    # new file arrives: only its rows are read
    spark.createDataFrame([(3,)], "id long").coalesce(1).write.parquet(
        str(tmp_path / "f2")
    )
    df4, files4, commit4 = incremental_read(spark, glob_pat, man)
    assert [r.id for r in df4.collect()] == [3] and len(files4) == 1
    commit4()
    df5, _, _ = incremental_read(spark, glob_pat, man)
    assert df5 is None


def test_streaming_incremental_corpus_dedup(spark, tmp_path):
    """Day-2 corpus ingestion as a STREAM: each micro-batch dedups
    against the persisted corpus via incremental_dedup inside
    foreachBatch, appends its survivors, and the final corpus equals
    the batch exact_dedup of everything — exactly-once growth with no
    full re-dedup per ingest."""
    from ksql_linq_spark.operators.dedup import exact_dedup, incremental_dedup

    rows1 = [(1, "alpha doc body"), (2, "beta doc body"), (3, "alpha doc body")]
    rows2 = [(4, "alpha doc body"), (5, "gamma doc body"), (6, "beta doc body")]
    schema = "doc_id long, text string"
    df1 = spark.createDataFrame(rows1, schema)
    df2 = spark.createDataFrame(rows2, schema)
    df1.coalesce(1).write.parquet(str(tmp_path / "in" / "1"))
    df2.coalesce(1).write.parquet(str(tmp_path / "in" / "2"))

    corpus = str(tmp_path / "corpus")
    spark.createDataFrame([], schema).write.parquet(corpus)

    def ingest(batch_df, batch_id):
        cur = spark.read.schema(df1.schema).parquet(corpus)
        kept = incremental_dedup(batch_df, cur)
        kept.select("doc_id", "text").write.mode("append").parquet(corpus)

    src = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = src.writeStream.foreachBatch(ingest).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).start()
    q.processAllAvailable()
    q.stop()

    got = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    want = sorted(
        r.doc_id
        for r in exact_dedup(df1.unionByName(df2)).collect()
    )
    assert got == want == [1, 2, 5]


def test_cascade_soak_restart_midstream_exactly_once(spark, sf_dir):
    """Stabilize-and-recover soak (reference Lifecycle.cs:300-341): the
    hub tier of a streaming OHLC cascade is killed mid-stream after
    consuming only half the input, restarted from its checkpoint over
    the remaining chunks, then restarted once more with no new data
    (pure replay).  Asserts the three exactly-once properties the
    reference's stabilization story promises:

    1. no (key, bucket) bar is ever emitted twice across restarts;
    2. every emitted bar is value-identical to the batch hub built from
       the raw table — including bars whose window SPANS the restart
       (state restored from the checkpoint, not re-derived);
    3. a tier rollup composed from the streamed hub matches the batch
       cascade's rollup over the same closed buckets.

    Composes idempotent_append_sink (exactly-once append) with the
    cascade's partial-agg carriers (operators/cascade.py build_hub).
    """
    import os

    from ksql_linq_spark.operators.cascade import CascadePlan, build_hub, rollup_tier
    from ksql_linq_spark.sources import read_table
    from ksql_linq_spark.streaming.windows import idempotent_append_sink

    tmp = tempfile.mkdtemp(prefix="soak_")
    src_dir, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    try:
        ev = read_table(spark, sf_dir, "events").select("ts", "event_type", "value")
        # 4 time-contiguous chunks (no cross-chunk late data beyond grace)
        qrow = ev.select(
            F.percentile(F.col("ts").cast("double"), F.lit(0.25)).alias("q1"),
            F.percentile(F.col("ts").cast("double"), F.lit(0.5)).alias("q2"),
            F.percentile(F.col("ts").cast("double"), F.lit(0.75)).alias("q3"),
        ).first()
        b1, b2, b3 = (
            dt.datetime.utcfromtimestamp(qrow["q1"]),
            dt.datetime.utcfromtimestamp(qrow["q2"]),
            dt.datetime.utcfromtimestamp(qrow["q3"]),
        )
        chunks = [
            ev.filter(F.col("ts") < b1),
            ev.filter((F.col("ts") >= b1) & (F.col("ts") < b2)),
            ev.filter((F.col("ts") >= b2) & (F.col("ts") < b3)),
            ev.filter(F.col("ts") >= b3),
        ]

        def write_chunk(i):
            chunks[i].coalesce(1).write.mode("overwrite").parquet(
                f"{src_dir}/c{i}"
            )
            # file source discovers files recursively under a glob path
            for f in os.listdir(f"{src_dir}/c{i}"):
                if f.endswith(".parquet"):
                    os.rename(f"{src_dir}/c{i}/{f}", f"{src_dir}/chunk_{i}.parquet")
            shutil.rmtree(f"{src_dir}/c{i}", ignore_errors=True)

        os.makedirs(src_dir, exist_ok=True)
        ts, price = F.col("ts"), F.col("value")

        def start_hub():
            stream = (
                spark.readStream.schema("ts timestamp, event_type string, value double")
                .option("maxFilesPerTrigger", 1)
                .parquet(src_dir)
            )
            hub = (
                stream.withWatermark("ts", "1 second")
                .groupBy(F.col("event_type"), F.window("ts", "1 hour").alias("w"))
                .agg(
                    F.min_by(price, ts).alias("open"),
                    F.max(price).alias("high"),
                    F.min(price).alias("low"),
                    F.max_by(price, ts).alias("close"),
                    F.sum(price).alias("sum_v"),
                    F.count(F.lit(1)).alias("cnt"),
                    F.min(ts).alias("first_ts"),
                    F.max(ts).alias("last_ts"),
                )
                .select(F.col("w.start").alias("bucket_start"), "*")
                .drop("w")
            )
            return idempotent_append_sink(hub, f"{out}/hub", ckpt)

        # phase 1: half the input, then a hard stop (induced crash)
        write_chunk(0)
        write_chunk(1)
        q = start_hub()
        q.processAllAvailable()
        q.stop()
        mid_count = spark.read.parquet(f"{out}/hub").count()
        assert mid_count > 0, "no closed bars after phase 1"

        # phase 2: remaining chunks arrive; restart from the checkpoint
        write_chunk(2)
        write_chunk(3)
        q = start_hub()
        q.processAllAvailable()
        q.stop()

        # phase 3: pure replay restart — no new data, no new rows
        n_after = spark.read.parquet(f"{out}/hub").count()
        q = start_hub()
        q.processAllAvailable()
        q.stop()
        got = spark.read.parquet(f"{out}/hub")
        assert got.count() == n_after, "replay restart appended rows"

        # 1. exactly-once: no (key, bucket) emitted twice
        assert (
            got.groupBy("event_type", "bucket_start").count().filter("count > 1").count()
            == 0
        ), "duplicate bars across restarts"

        # 2. every emitted bar matches the batch hub bit-for-bit,
        #    including restart-spanning windows
        plan = CascadePlan(
            base_name="soak", keys=["event_type"], ts_col="ts",
            price_col="value", timeframes=["1h"],
        )
        batch_hub = rollup_tier(plan, build_hub(plan, ev), "1h")
        exp = {
            (r["event_type"], r["bucket_start"]): r
            for r in batch_hub.collect()
        }
        emitted = got.select(
            "event_type", "bucket_start", "open", "high", "low", "close",
            "sum_v", "cnt",
        ).collect()
        assert emitted
        spanning = 0
        for r in emitted:
            e = exp[(r["event_type"], r["bucket_start"])]
            for c in ("open", "high", "low", "close", "sum_v"):
                assert abs(r[c] - e[c]) < 1e-9, (r, e[c], c)
            assert r["cnt"] == e["cnt"], (r, e["cnt"])
            end = r["bucket_start"] + dt.timedelta(hours=1)
            if r["bucket_start"] < b2 <= end:
                spanning += 1
        assert spanning > 0, "no bar spanned the restart boundary"

        # 3. day rollup composed from the streamed hub == batch cascade's
        #    rollup over the same closed hour buckets
        closed = got.select(
            "event_type", "bucket_start", "open", "high", "low", "close",
            "sum_v", "cnt", "first_ts", "last_ts",
        )
        keys_closed = {(r["event_type"], r["bucket_start"]) for r in emitted}
        # filter batch hub down to the streamed buckets driver-side —
        # tiny dim, avoids an isin over thousands of struct literals
        b_pdf = batch_hub.toPandas()
        b_pdf = b_pdf[
            b_pdf.apply(
                lambda x: (x["event_type"], x["bucket_start"].to_pydatetime())
                in keys_closed,
                axis=1,
            )
        ]
        stream_day = rollup_tier(plan, closed, "1d").toPandas()
        batch_day = rollup_tier(
            plan, spark.createDataFrame(b_pdf, schema=closed.schema), "1d"
        ).toPandas()
        key = ["event_type", "bucket_start"]
        sd = stream_day.sort_values(key).reset_index(drop=True)
        bd = batch_day.sort_values(key).reset_index(drop=True)
        assert len(sd) == len(bd) and len(sd) > 0
        for c in ("open", "high", "low", "close", "sum_v", "cnt"):
            assert (abs(sd[c] - bd[c]) < 1e-9).all(), c
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_changelog_join_tombstone_restart_soak(spark, state_store):
    """r5 soak (cascade-soak template, commit 7f43a91 lineage): a key
    tombstoned mid-stream must STAY tombstoned across a kill/restart
    (the delete lives in the checkpointed state store, reference
    RocksDB-table recovery), a post-restart re-upsert re-enriches, and
    a pure-replay restart emits nothing twice."""
    from pyspark.sql import types as T

    from ksql_linq_spark.streaming.changelog_join import stream_changelog_join

    lsrc = tempfile.mkdtemp(prefix="cljs_l_")
    rsrc = tempfile.mkdtemp(prefix="cljs_r_")
    ckpt = tempfile.mkdtemp(prefix="cljs_ck_")
    out_dir = tempfile.mkdtemp(prefix="cljs_out_")
    lschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("probe_id", T.LongType()),
        ]
    )
    rschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("price", T.DoubleType()),
        ]
    )
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)

    def start():
        ls = spark.readStream.schema(lschema).parquet(lsrc)
        rs = spark.readStream.schema(rschema).parquet(rsrc)
        j = stream_changelog_join(ls, rs, key="k", left_ts="ts", value_col="price")
        return (
            j.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    def put(d, rows, schema):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)

    try:
        # run 1: upsert 42, probe sees it, then TOMBSTONE; kill
        put(rsrc, [("A", t(1), 42.0)], rschema)
        put(lsrc, [("A", t(2), 1)], lschema)
        q = start()
        q.processAllAvailable()
        put(rsrc, [("A", t(3), None)], rschema)   # tombstone mid-stream
        q.processAllAvailable()
        q.stop()

        # run 2 (same checkpoint): probe must see the TOMBSTONE, not 42;
        # then a fresh upsert re-enriches a later probe
        put(lsrc, [("A", t(5), 2)], lschema)
        q2 = start()
        q2.processAllAvailable()
        put(rsrc, [("A", t(6), 99.0)], rschema)
        q2.processAllAvailable()
        put(lsrc, [("A", t(7), 3)], lschema)
        q2.processAllAvailable()
        q2.stop()

        # run 3: pure replay — nothing may re-emit
        q3 = start()
        q3.processAllAvailable()
        q3.stop()

        rows = spark.read.parquet(out_dir).collect()
        got = {r["probe_id"]: r["latest_price"] for r in rows}
        assert len(rows) == 3, rows              # exactly-once across restarts
        assert got[1] == 42.0
        assert got[2] is None, "tombstone must survive the restart"
        assert got[3] == 99.0
    finally:
        for d in (lsrc, rsrc, ckpt, out_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_streaming_gap_fill_restart_across_gap_soak(spark, state_store):
    """r5 soak: the gap-fill continuation state (last bucket + close)
    must survive a kill/restart so a gap that SPANS the restart is
    synthesized from the pre-restart close — and a pure replay emits no
    duplicate bars.  About 200 keys spread over the state shards, and
    ``spark.sql.shuffle.partitions`` differs between runs: the shard a
    key's state lives in must not depend on it."""
    from ksql_linq_spark.operators.gapfill import streaming_gap_fill

    src = tempfile.mkdtemp(prefix="gfs_src_")
    ckpt = tempfile.mkdtemp(prefix="gfs_ck_")
    out_dir = tempfile.mkdtemp(prefix="gfs_out_")
    schema = "k string, bucket timestamp, close double"
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    t0 = dt.datetime(2024, 1, 1)
    keys = ["A", *(f"s{i:03d}" for i in range(200))]

    def at(minute):
        return t0 + dt.timedelta(minutes=minute)

    def start(partitions):
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        stream = spark.readStream.schema(schema).parquet(src)
        filled = streaming_gap_fill(stream, "k", "bucket", "close", "1m")
        return (
            filled.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    try:
        # run 1: one real bar per key, then kill
        put([(k, at(0), 10.0 + i) for i, k in enumerate(keys)])
        q = start(3)
        q.processAllAvailable()
        q.stop()

        # run 2: each key's next bar arrives 1-3 buckets later; a gap
        # spans the restart and must carry the PRE-restart close.  B is
        # a new key with no state.
        put([(k, at(1 + (i + 2) % 3), 13.0 + i) for i, k in enumerate(keys)]
            + [("B", at(3), 5.0)])
        q2 = start(7)
        q2.processAllAvailable()
        q2.stop()

        # run 3: pure replay — no new bars
        q3 = start(5)
        q3.processAllAvailable()
        q3.stop()

        got = sorted(
            (r["k"], r["bucket"], r["close"], r["is_synthetic"])
            for r in spark.read.parquet(out_dir).collect()
        )
        assert [g for g in got if g[0] in ("A", "B")] == [
            ("A", at(0), 10.0, False),
            ("A", at(1), 10.0, True),
            ("A", at(2), 10.0, True),
            ("A", at(3), 13.0, False),
            ("B", at(3), 5.0, False),
        ], got
        want = [("B", at(3), 5.0, False)]
        for i, k in enumerate(keys):
            want.append((k, at(0), 10.0 + i, False))
            want += [(k, at(m), 10.0 + i, True) for m in range(1, 1 + (i + 2) % 3)]
            want.append((k, at(1 + (i + 2) % 3), 13.0 + i, False))
        assert got == sorted(want), [g for g in got if g not in want][:5]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        for d in (src, ckpt, out_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_hopping_final_late_data_matches_batch_twin(spark):
    """W3/W4: hopping EMIT FINAL under late arrivals — a late row INSIDE
    the grace joins its windows, a row arriving after the watermark
    passed its windows is dropped, and every closed window is
    value-identical to the batch twin over the ACCEPTED rows."""
    schema = "k string, ts timestamp"
    d = tempfile.mkdtemp(prefix="hopl_")

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{d}/in")

    try:
        put([("A", dt.datetime(2024, 1, 1, 0, 0, 10)),
             ("A", dt.datetime(2024, 1, 1, 0, 0, 40))])
        stream = spark.readStream.schema(schema).parquet(f"{d}/in")
        agg, mode = windowed_aggregate(
            stream,
            keys=["k"],
            ts_col="ts",
            aggs=[F.count(F.lit(1)).alias("n")],
            size="60 seconds",
            advance="30 seconds",
            grace="30 seconds",
            emit=EmitMode.FINAL,
        )
        q = (
            agg.writeStream.format("memory").queryName("hop_late")
            .outputMode(mode)
            .option("checkpointLocation", f"{d}/ck")
            .start()
        )
        q.processAllAvailable()   # watermark -> 00:00:10
        # late row INSIDE grace (00:00:20 > watermark) + an advancer
        # that pushes the watermark to 00:09:30, closing the early windows
        put([("A", dt.datetime(2024, 1, 1, 0, 0, 20)),
             ("A", dt.datetime(2024, 1, 1, 0, 10, 0))])
        q.processAllAvailable()
        # beyond grace: its windows all closed at 00:09:30 -> dropped
        put([("A", dt.datetime(2024, 1, 1, 0, 0, 25))])
        q.processAllAvailable()
        q.stop()

        got = {
            (r["k"], r["window_start"]): r["n"]
            for r in spark.sql("SELECT * FROM hop_late").collect()
        }
        accepted = spark.createDataFrame(
            [("A", dt.datetime(2024, 1, 1, 0, 0, 10)),
             ("A", dt.datetime(2024, 1, 1, 0, 0, 40)),
             ("A", dt.datetime(2024, 1, 1, 0, 0, 20)),
             ("A", dt.datetime(2024, 1, 1, 0, 10, 0))], schema
        )
        exp = {
            (r["k"], r["ws"]): r["n"]
            for r in accepted.groupBy(
                "k", F.window("ts", "60 seconds", "30 seconds").start.alias("ws")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert got, "no closed hopping windows"
        # the within-grace row made it into both of its windows
        assert got[("A", dt.datetime(2024, 1, 1, 0, 0, 0))] == 3
        # the beyond-grace row (00:00:25) made it into neither
        for kk, v in got.items():
            assert exp[kk] == v, (kk, v, exp.get(kk))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_session_final_late_data_matches_batch_twin(spark):
    """Session windows under late arrivals: a within-grace late row
    merges into its session before the watermark closes it; a
    beyond-grace row neither extends nor reopens the closed session;
    closed sessions equal the batch twin over the accepted rows."""
    schema = "k string, ts timestamp"
    d = tempfile.mkdtemp(prefix="sessl_")

    def put(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(f"{d}/in")

    def session_agg(df_or_stream):
        return (
            df_or_stream.groupBy("k", F.session_window("ts", "30 seconds"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "k",
                F.col("session_window.start").alias("s"),
                F.col("session_window.end").alias("e"),
                "n",
            )
        )

    try:
        put([("A", dt.datetime(2024, 1, 1, 0, 0, 0)),
             ("A", dt.datetime(2024, 1, 1, 0, 0, 20))])
        stream = spark.readStream.schema(schema).parquet(f"{d}/in")
        agg = session_agg(stream.withWatermark("ts", "30 seconds"))
        q = (
            agg.writeStream.format("memory").queryName("sess_late")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ck")
            .start()
        )
        q.processAllAvailable()
        # within grace: merges into the open session; advancer closes it
        put([("A", dt.datetime(2024, 1, 1, 0, 0, 10)),
             ("A", dt.datetime(2024, 1, 1, 1, 0, 0))])
        q.processAllAvailable()
        # beyond grace: session [0:00, 0:50) closed at watermark 0:59:30
        put([("A", dt.datetime(2024, 1, 1, 0, 0, 25))])
        q.processAllAvailable()
        q.stop()

        got = {
            (r["k"], r["s"], r["e"]): r["n"]
            for r in spark.sql("SELECT * FROM sess_late").collect()
        }
        # merged session includes the within-grace row (n=3), end =
        # last event + gap — NOT extended by the dropped 0:00:25 row
        s1 = ("A", dt.datetime(2024, 1, 1, 0, 0, 0),
              dt.datetime(2024, 1, 1, 0, 0, 50))
        assert got.get(s1) == 3, got
        accepted = spark.createDataFrame(
            [("A", dt.datetime(2024, 1, 1, 0, 0, 0)),
             ("A", dt.datetime(2024, 1, 1, 0, 0, 20)),
             ("A", dt.datetime(2024, 1, 1, 0, 0, 10)),
             ("A", dt.datetime(2024, 1, 1, 1, 0, 0))], schema
        )
        exp = {
            (r["k"], r["s"], r["e"]): r["n"]
            for r in session_agg(accepted).collect()
        }
        for kk, v in got.items():
            assert exp[kk] == v, (kk, v, exp.get(kk))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_schedule_provider_day_rollover_gates_next_batch(spark):
    """Market-schedule daily refresh (Lifecycle.cs:777-804 /
    MarketScheduleProvider.cs:40-59): a schedule change published
    before the daily UTC 00:05 refresh deadline must gate the NEXT
    micro-batch — batch 1 is gated by schedule v1, the clock rolls
    past the deadline, and batch 2 is gated by the re-read v2 (whose
    session hours differ), with no query restart."""
    from ksql_linq_spark.streaming.schedule import RefreshingScheduleProvider

    tmp = tempfile.mkdtemp()
    sched_dir, in_dir, got = f"{tmp}/sched", f"{tmp}/in", []

    def sched(day, open_h, close_h):
        return spark.createDataFrame(
            [("NYSE",
              dt.datetime.fromisoformat(f"{day}T{open_h:02d}:00:00"),
              dt.datetime.fromisoformat(f"{day}T{close_h:02d}:00:00"))],
            "market_key string, open_time timestamp, close_time timestamp",
        )

    # v1: Jan 1 sessions 09:00-17:00
    sched("2024-01-01", 9, 17).write.mode("overwrite").parquet(sched_dir)
    clock = [dt.datetime(2024, 1, 1, 12, 0)]
    prov = RefreshingScheduleProvider(
        spark, sched_dir, now_fn=lambda: clock[0]
    )
    assert prov.refresh_count == 1
    assert prov.is_in_session(["NYSE"], dt.datetime(2024, 1, 1, 10, 0))

    rows1 = [
        ("NYSE", dt.datetime(2024, 1, 1, 10, 0), 1),   # in v1 session
        ("NYSE", dt.datetime(2024, 1, 1, 20, 0), 2),   # after close
    ]
    schema = "market string, ts timestamp, event_id int"
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        stream.writeStream.foreachBatch(
            prov.foreach_batch_gate(
                "market", "ts",
                lambda df, bid: got.extend(r.event_id for r in df.collect()),
            )
        )
        .option("checkpointLocation", f"{tmp}/ck")
        .start()
    )
    q.processAllAvailable()
    assert sorted(got) == [1]
    assert prov.refresh_count == 1  # deadline not reached

    # day rollover: v2 published with DIFFERENT hours (10:00-12:00),
    # clock passes the UTC 00:05 refresh deadline
    sched("2024-01-02", 10, 12).write.mode("overwrite").parquet(sched_dir)
    clock[0] = dt.datetime(2024, 1, 2, 0, 10)
    rows2 = [
        ("NYSE", dt.datetime(2024, 1, 2, 9, 30), 3),   # v1 hours, OUT in v2
        ("NYSE", dt.datetime(2024, 1, 2, 10, 30), 4),  # in v2 session
    ]
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(in_dir)
    q.processAllAvailable()
    q.stop()
    assert sorted(got) == [1, 4]
    assert prov.refresh_count == 2  # exactly one re-read at the rollover
    # pull twin agrees with the refreshed index
    assert prov.is_in_session(["NYSE"], dt.datetime(2024, 1, 2, 10, 30))
    assert not prov.is_in_session(["NYSE"], dt.datetime(2024, 1, 2, 9, 30))
    shutil.rmtree(tmp, ignore_errors=True)


def test_stream_stream_join_state_rows_plateau_under_watermark(spark):
    """J2 scale-risk class: stream-stream join state must be BOUNDED by
    the WITHIN watermark, not grow with stream length.  Soak: 18
    micro-batches, each advancing event time by one minute past a 60 s
    join window.  A row at event time T is evictable once the other
    side's watermark passes T + Δ, so steady-state state holds ~2-3
    batches of rows; without eviction it would hold all 18.  Asserted
    from the progress listener's stateOperators numRowsTotal: the
    second half of the run never exceeds the early plateau."""
    tmp = tempfile.mkdtemp()
    ldir, rdir = f"{tmp}/l", f"{tmp}/r"
    t0 = dt.datetime(2024, 1, 1)
    lschema = "k long, lts timestamp"
    rschema = "k long, rts timestamp"

    def emit(batch):
        ts = t0 + dt.timedelta(minutes=batch)
        lrows = [(batch * 10 + i, ts) for i in range(4)]
        rrows = [(batch * 10 + i, ts + dt.timedelta(seconds=10)) for i in range(4)]
        spark.createDataFrame(lrows, lschema).write.mode("append").parquet(ldir)
        spark.createDataFrame(rrows, rschema).write.mode("append").parquet(rdir)

    emit(0)
    ls = spark.readStream.schema(lschema).parquet(ldir)
    rs = spark.readStream.schema(rschema).parquet(rdir)
    joined = stream_stream_join(
        ls, rs, on=["k"], left_ts="lts", right_ts="rts", within_seconds=60
    )
    q = (
        joined.writeStream.format("noop")
        .option("checkpointLocation", f"{tmp}/ck")
        .start()
    )
    totals = []
    for b in range(1, 18):
        emit(b)
        q.processAllAvailable()
        prog = q.lastProgress
        ops = prog["stateOperators"]
        assert ops, f"no state operator in progress: {prog}"
        totals.append(ops[0]["numRowsTotal"])
    q.stop()

    ingested = 18 * 8  # rows written across both sides
    plateau_early = max(totals[4:8])
    plateau_late = max(totals[-5:])
    assert plateau_late <= plateau_early, (
        f"state still growing: early plateau {plateau_early}, "
        f"late {plateau_late}, series {totals}"
    )
    # steady state is a small multiple of one batch (8 rows), far below
    # the unbounded-accumulation line
    assert plateau_late <= 4 * 8, f"state not bounded: {totals}"
    assert plateau_late < ingested / 3


def test_is_in_session_composite_key_raises(spark, tmp_path):
    """ADVICE r6: the interval index is keyed by the single schedule-key
    column — a composite key_parts call must fail loudly instead of
    silently returning False."""
    import datetime as dt

    import pytest as _pytest

    from ksql_linq_spark.streaming.schedule import RefreshingScheduleProvider

    sched_dir = str(tmp_path / "sched")
    spark.createDataFrame(
        [("NYSE",
          dt.datetime(2024, 1, 1, 9, 0),
          dt.datetime(2024, 1, 1, 17, 0))],
        "market_key string, open_time timestamp, close_time timestamp",
    ).write.mode("overwrite").parquet(sched_dir)
    prov = RefreshingScheduleProvider(
        spark, sched_dir, now_fn=lambda: dt.datetime(2024, 1, 1, 12, 0)
    )
    assert prov.is_in_session(["NYSE"], dt.datetime(2024, 1, 1, 10, 0))
    with _pytest.raises(ValueError, match="exactly one key part"):
        prov.is_in_session(["NYSE", "US"], dt.datetime(2024, 1, 1, 10, 0))


def test_rocksdb_provider_always_pairs_changelog_checkpointing(spark):
    """r9 ladder (SCALING.md round-9): snapshot-default RocksDB is NOT
    sustained even at 1k keys; the engine must never select the provider
    without changelog checkpointing, and must warn when a user session
    already did."""
    import warnings as _warnings

    from ksql_linq_spark.streaming.stateful import (
        ROCKSDB_CHANGELOG_CONF,
        ROCKSDB_PROVIDER,
        ensure_rocksdb_provider,
    )

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    saved_prov = spark.conf.get(prov_key, None)
    saved_flag = spark.conf.get(ROCKSDB_CHANGELOG_CONF, None)
    try:
        # engine-selected: provider and changelog flag set as a PAIR
        spark.conf.unset(prov_key)
        spark.conf.unset(ROCKSDB_CHANGELOG_CONF)
        ensure_rocksdb_provider(spark)
        assert spark.conf.get(prov_key) == ROCKSDB_PROVIDER
        assert spark.conf.get(ROCKSDB_CHANGELOG_CONF) == "true"

        # user-selected provider WITHOUT the flag: warn, don't override
        spark.conf.unset(ROCKSDB_CHANGELOG_CONF)
        with _warnings.catch_warnings(record=True) as w:
            _warnings.simplefilter("always")
            ensure_rocksdb_provider(spark)
        assert any("changelogCheckpointing" in str(x.message) for x in w)
        # a correctly-paired user config passes silently
        spark.conf.set(ROCKSDB_CHANGELOG_CONF, "true")
        with _warnings.catch_warnings(record=True) as w:
            _warnings.simplefilter("always")
            ensure_rocksdb_provider(spark)
        assert not w
    finally:
        for k, v in ((prov_key, saved_prov), (ROCKSDB_CHANGELOG_CONF, saved_flag)):
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stream_changelog_join_timestamp_values(spark):
    """ADVICE r9 (medium): a TIMESTAMP changelog value must arrive as a
    timestamp, not raw epoch nanoseconds — numpy extraction of a
    datetime64 column + .item() yields an int that corrupts both the
    state field and the output column.  Covers same-batch enrichment
    AND the carried-state (cross-restart of the loop, next-batch) path."""
    from pyspark.sql import types as T

    from ksql_linq_spark.streaming.changelog_join import stream_changelog_join

    lsrc = tempfile.mkdtemp(prefix="cljt_l_")
    rsrc = tempfile.mkdtemp(prefix="cljt_r_")
    lschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("probe_id", T.LongType()),
        ]
    )
    rschema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("expires_at", T.TimestampType()),
        ]
    )
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    exp = dt.datetime(2025, 6, 30, 12, 34, 56, 789000)  # sub-second too
    try:
        spark.createDataFrame([("A", t(1), exp)], rschema).coalesce(
            1
        ).write.mode("append").parquet(rsrc)
        spark.createDataFrame([("A", t(2), 1)], lschema).coalesce(
            1
        ).write.mode("append").parquet(lsrc)
        ls = spark.readStream.schema(lschema).parquet(lsrc)
        rs = spark.readStream.schema(rschema).parquet(rsrc)
        joined = stream_changelog_join(
            ls, rs, key="k", left_ts="ts", value_col="expires_at"
        )
        assert joined.schema["latest_expires_at"].dataType == T.TimestampType()
        q = start_memory_sink(joined, "t_cljt", "append")
        q.processAllAvailable()
        # next batch: probe reads the value from CARRIED STATE
        spark.createDataFrame([("A", t(3), 2)], lschema).coalesce(
            1
        ).write.mode("append").parquet(lsrc)
        q.processAllAvailable()
        q.stop()
        got = {
            r["probe_id"]: r["latest_expires_at"]
            for r in spark.sql("SELECT * FROM t_cljt").collect()
        }
        assert got[1] == exp, f"same-batch value corrupted: {got[1]!r}"
        assert got[2] == exp, f"state-carried value corrupted: {got[2]!r}"
    finally:
        for d in (lsrc, rsrc):
            shutil.rmtree(d, ignore_errors=True)


def test_streaming_gap_fill_subsecond_and_misaligned(spark):
    """ADVICE r9 (low ×2): real bucket values pass through BIT-EXACT
    (no whole-second truncation of observed data) and a gap distance
    that is not a step multiple synthesizes ceil(d/step)-1 fillers —
    every filler strictly before the observed bar."""
    from ksql_linq_spark.operators.gapfill import streaming_gap_fill

    tmp = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 250000)  # .25 s offset
    rows = [
        ("A", t0, 10.0),
        # +150 s = 2.5 steps of 1m: ceil(2.5)-1 = 2 fillers (+60, +120)
        ("A", t0 + dt.timedelta(seconds=150), 13.0),
    ]
    df = spark.createDataFrame(rows, "k string, bucket timestamp, close double")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/in")
    filled = streaming_gap_fill(stream, "k", "bucket", "close", "1m")
    q = start_memory_sink(filled, "t_gap_sub", "append")
    _drain(q)
    got = sorted(
        (r["bucket"], r["close"], r["is_synthetic"])
        for r in spark.sql("SELECT * FROM t_gap_sub").collect()
    )
    assert got == [
        (t0, 10.0, False),
        (t0 + dt.timedelta(seconds=60), 10.0, True),
        (t0 + dt.timedelta(seconds=120), 10.0, True),
        (t0 + dt.timedelta(seconds=150), 13.0, False),
    ]
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_gap_fill_null_bucket_raises(spark):
    """ADVICE r9: a NaT bucket must fail loudly — int64-viewed it is
    INT64_MIN and would synthesize an astronomical gap run."""
    from ksql_linq_spark.operators.gapfill import streaming_gap_fill

    tmp = tempfile.mkdtemp()
    df = spark.createDataFrame(
        [("A", None, 10.0)], "k string, bucket timestamp, close double"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/in")
    filled = streaming_gap_fill(stream, "k", "bucket", "close", "1m")
    q = start_memory_sink(filled, "t_gap_nat", "append")
    try:
        with pytest.raises(Exception, match="must be non-null"):
            q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def _gap_fill_rows(df):
    return df.select("k", "bucket", "close", "is_synthetic")


def _batch_gap_fill(df):
    from ksql_linq_spark.operators.gapfill import gap_fill_bars

    return gap_fill_bars(df, ["k"], "bucket", "1m", ohlc=("close",) * 4)


def test_streaming_gap_fill_key_split_across_arrow_chunks(spark):
    """One key's rows split over several Arrow chunks of one batch, out
    of bucket order: the gaps are measured over the whole batch sorted
    by bucket, so the output equals batch ``gap_fill_bars`` — no
    bucket emitted twice, fillers carry the close of the bar before."""
    from ksql_linq_spark.operators.gapfill import streaming_gap_fill

    tmp = tempfile.mkdtemp()
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("A", t0, 1.0),
        ("A", t0 + dt.timedelta(minutes=5), 6.0),
        ("A", t0 + dt.timedelta(minutes=3), 4.0),
    ]
    df = spark.createDataFrame(rows, "k string, bucket timestamp, close double")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    try:
        spark.conf.set(conf, "1")
        stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/in")
        filled = streaming_gap_fill(stream, "k", "bucket", "close", "1m")
        _drain(start_memory_sink(filled, "t_gap_chunks", "append"))
    finally:
        spark.conf.set(conf, old)
    got = _gap_fill_rows(spark.table("t_gap_chunks"))
    want = _gap_fill_rows(_batch_gap_fill(df))
    assert got.count() == want.count() == 6
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    shutil.rmtree(tmp, ignore_errors=True)


def test_gap_fill_null_key_streaming_matches_batch(spark):
    """A NULL key is a key: its real bars stay real and its gaps are
    filled from its own closes, in the batch and the streaming form
    alike (the batch spine joins back null-safely)."""
    from ksql_linq_spark.operators.gapfill import streaming_gap_fill

    tmp = tempfile.mkdtemp()
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (None, t0, 7.0),
        (None, t0 + dt.timedelta(minutes=2), 8.0),
        ("A", t0, 1.0),
        ("A", t0 + dt.timedelta(minutes=1), 2.0),
    ]
    df = spark.createDataFrame(rows, "k string, bucket timestamp, close double")
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = spark.readStream.schema(df.schema).parquet(f"{tmp}/in")
    filled = streaming_gap_fill(stream, "k", "bucket", "close", "1m")
    _drain(start_memory_sink(filled, "t_gap_null_key", "append"))
    got = _gap_fill_rows(spark.table("t_gap_null_key"))
    want = _gap_fill_rows(_batch_gap_fill(df))
    assert sorted(
        (r["bucket"], r["close"], r["is_synthetic"])
        for r in want.where(F.col("k").isNull()).collect()
    ) == [
        (t0, 7.0, False),
        (t0 + dt.timedelta(minutes=1), 7.0, True),
        (t0 + dt.timedelta(minutes=2), 8.0, False),
    ]
    assert got.count() == want.count() == 5
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_gap_fill_sharded_parity(spark, state_store):
    """500 keys over 3 batches with random gaps, rows shuffled within
    each batch: the streamed output equals batch ``gap_fill_bars`` over
    all input, and the state holds one row per shard (at most 64), not
    one per key."""
    import random

    from ksql_linq_spark.operators.gapfill import streaming_gap_fill

    rng = random.Random(5)
    tmp = tempfile.mkdtemp(prefix="gfp_")
    schema = "k string, bucket timestamp, close double"
    t0 = dt.datetime(2024, 1, 1)
    batches = []
    for b in range(3):
        rows = [
            (f"k{i:03d}", t0 + dt.timedelta(minutes=m), float(rng.randint(1, 999)))
            for i in range(500)
            for m in range(b * 20, (b + 1) * 20)
            if rng.random() < 0.3
        ]
        rng.shuffle(rows)
        batches.append(rows)
    try:
        spark.createDataFrame(batches[0], schema).coalesce(1).write.parquet(f"{tmp}/in")
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/in")
        filled = streaming_gap_fill(stream, "k", "bucket", "close", "1m")
        q = (
            filled.writeStream.format("memory").queryName("t_gap_shards")
            .option("checkpointLocation", f"{tmp}/ck").outputMode("append").start()
        )
        q.processAllAvailable()
        for rows in batches[1:]:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(f"{tmp}/in")
            q.processAllAvailable()
        ops = [p["stateOperators"] for p in q.recentProgress if p["stateOperators"]][-1]
        q.stop()
        assert 0 < ops[0]["numRowsTotal"] <= 64, ops
        got = _gap_fill_rows(spark.table("t_gap_shards"))
        want = _gap_fill_rows(_batch_gap_fill(spark.read.parquet(f"{tmp}/in")))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        assert got.where("is_synthetic").count() > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
