from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from ksql_linq_spark.operators.asof import asof_join


def _frames(spark):
    left = spark.createDataFrame(
        [Row(k=1, ts=10.0, lv="a"), Row(k=1, ts=20.0, lv="b"), Row(k=2, ts=15.0, lv="c")]
    )
    right = spark.createDataFrame(
        [Row(k=1, rts=10.0, rv=100.0), Row(k=1, rts=18.0, rv=200.0), Row(k=2, rts=99.0, rv=300.0)]
    )
    return left, right


def _by_left(rows):
    return {(r.k, r.ts): (r.rv, r.rts) for r in rows}


def test_asof_backward_inclusive(spark):
    left, right = _frames(spark)
    got = _by_left(asof_join(left, right, ["k"], "ts", "rts").collect())
    # matches DuckDB `ASOF LEFT JOIN ... ON l.k=r.k AND l.ts >= r.rts`
    assert got == {(1, 10.0): (100.0, 10.0), (1, 20.0): (200.0, 18.0), (2, 15.0): (None, None)}


def test_asof_backward_strict(spark):
    left, right = _frames(spark)
    got = _by_left(asof_join(left, right, ["k"], "ts", "rts", strict=True).collect())
    assert got == {(1, 10.0): (None, None), (1, 20.0): (200.0, 18.0), (2, 15.0): (None, None)}


def test_asof_forward(spark):
    left, right = _frames(spark)
    got = _by_left(asof_join(left, right, ["k"], "ts", "rts", direction="forward").collect())
    assert got == {(1, 10.0): (100.0, 10.0), (1, 20.0): (None, None), (2, 15.0): (300.0, 99.0)}


def test_asof_tolerance_and_inner(spark):
    left, right = _frames(spark)
    rows = asof_join(
        left, right, ["k"], "ts", "rts", direction="forward", tolerance=5.0, how="inner"
    ).collect()
    # k=2 nearest-forward match is 84s away -> dropped under tolerance+inner
    assert _by_left(rows) == {(1, 10.0): (100.0, 10.0)}


def test_asof_null_payload_is_still_a_match(spark):
    # row-level semantics: a matched right row whose payload is NULL must not
    # fall through to an earlier non-null row (struct carry, not per-column)
    left = spark.createDataFrame([Row(k=1, ts=30.0, lv="x")])
    right = spark.createDataFrame(
        [Row(k=1, rts=10.0, rv=1.0), Row(k=1, rts=25.0, rv=None)],
        schema="k long, rts double, rv double",
    )
    [row] = asof_join(left, right, ["k"], "ts", "rts").collect()
    assert row.rts == 25.0 and row.rv is None


def test_asof_timestamp_tolerance_boundary(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    left = spark.createDataFrame([Row(k=1, ts=t0 + dt.timedelta(seconds=600))])
    right = spark.createDataFrame(
        [Row(k=1, rts=t0, rv=1.0), Row(k=1, rts=t0 - dt.timedelta(microseconds=1), rv=2.0)]
    )
    # exactly-600s match survives an inclusive 600s tolerance (µs-exact compare)
    [row] = asof_join(left, right, ["k"], "ts", "rts", tolerance=600.0).collect()
    assert row.rv == 1.0
    [row] = asof_join(left, right, ["k"], "ts", "rts", tolerance=599.999999).collect()
    assert row.rv is None


def test_asof_rejects_colliding_columns(spark):
    left, right = _frames(spark)
    try:
        asof_join(left, right.withColumnRenamed("rv", "lv"), ["k"], "ts", "rts")
    except ValueError as e:
        assert "collide" in str(e)
    else:
        raise AssertionError("expected ValueError")


def test_point_in_interval_join_boundaries(spark):
    """Chunk-bucketed range join: intervals spanning chunks match points
    in every chunk they touch exactly once, the end bound is exclusive,
    a left join keeps unmatched points, a left-semi join returns the
    matching points alone, and the probed chunk width gives the same
    rows as a fixed one."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ksql_linq_spark.operators.interval import point_in_interval_join

    t = lambda m, s=0: dt.datetime(2024, 1, 1, 0, m, s)
    points = spark.createDataFrame(
        [
            (1, t(0, 30)),   # inside iv A (chunk 0)
            (2, t(1, 30)),   # inside iv A (chunk 1 — spans chunks)
            (3, t(2, 0)),    # == A's end -> exclusive, no match
            (4, t(10, 0)),   # matches nothing
        ],
        "pid long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [("A", t(0, 10), t(2, 0))], "iv string, s timestamp, e timestamp"
    )
    out = point_in_interval_join(
        points, ivs, "ts", "s", "e", chunk_seconds=60, how="left"
    )
    got = {r["pid"]: r["iv"] for r in out.collect()}
    assert got == {1: "A", 2: "A", 3: None, 4: None}
    assert out.count() == 4  # no duplicate pairs from multi-chunk intervals

    inner = point_in_interval_join(points, ivs, "ts", "s", "e", chunk_seconds=60)
    assert sorted(r["pid"] for r in inner.collect()) == [1, 2]

    # left_semi: each matching point once, with the point side's columns
    # only — an interval column named like a point column is no clash
    semi = point_in_interval_join(
        points, ivs.withColumn("pid", F.lit(0)), "ts", "s", "e",
        chunk_seconds=60, how="left_semi",
    )
    assert semi.columns == points.columns
    assert sorted(r["pid"] for r in semi.collect()) == [1, 2]

    # chunk_seconds=None sizes the chunk from the longest interval (110 s
    # here): same rows as any fixed width
    auto = point_in_interval_join(points, ivs, "ts", "s", "e", how="left")
    assert {r["pid"]: r["iv"] for r in auto.collect()} == got
