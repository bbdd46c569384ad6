"""Point-in-interval (range) join at scale via time-chunk bucketing.

The reference rejects non-equality JOIN ON outright
(src/Query/Builders/Statements/KsqlCreateStatementBuilder.cs:392-394);
Spark accepts a raw theta join but plans it as BroadcastNestedLoop — a
candidate product that dies at scale.  This operator turns the range
predicate into an EQUI join: time is cut into fixed chunks, each
interval explodes into one row per chunk it touches, points map to
their single chunk, and the join runs on (keys..., chunk) with the
exact range predicate left as a residual filter.

Cost model: expansion factor = avg interval length / chunk + 1 rows per
interval — pick ``chunk`` ≈ the typical interval length so the factor
is ~2.  Candidates per point are bounded by intervals alive in its
chunk (never the whole table), the shuffle is an ordinary hash
repartition on (keys, chunk), and AQE handles skewed chunks like any
other key.  This is the standard interval-bucketing rewrite databases
use for range joins, expressed in DataFrame ops.

It is the package's one keyed point-in-interval join: the market
calendar gate (operators/calendar.py ``in_session_join``, a left-semi
call, and ``session_tag_join``, an inner call) runs through it, so a
broadcast schedule of many sessions per market is probed on
(market, chunk) — each row meets only the 1-2 sessions alive in its
chunk, not its market's whole schedule (SCALING.md round 10).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def point_in_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    start_col: str,
    end_col: str,
    on: list[str] | None = None,
    chunk_seconds: float | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join each point row to every interval row with
    ``start <= point_ts < end`` (plus equality on ``on`` keys).

    Column names must not collide between the two sides apart from the
    ``on`` keys — rename first (same explicit-rename policy as
    operators/asof.py).  ``how``: inner | left (left keeps unmatched
    points with NULL interval columns) | left_semi (the matching points,
    once each, with no interval columns).

    ``chunk_seconds=None`` sizes the chunk to the longest valid interval
    (rounded up to whole seconds, at least 1 s), so every interval
    touches at most 2 chunks; that costs one small Spark job over the
    interval side at build time.  A caller that knows the width passes
    it and runs no job.  The width is a granularity only: the residual
    re-checks the exact bounds, so any value gives the same rows.
    """
    if how not in ("inner", "left", "left_semi"):
        raise ValueError(f"how must be inner|left|left_semi, got {how!r}")
    on = on or []
    semi = how == "left_semi"
    # a semi join outputs no interval column, so none can collide
    clash = [] if semi else [
        c for c in intervals.columns if c in points.columns and c not in on
    ]
    if clash:
        raise ValueError(f"interval columns collide with point side: {clash}")

    # Malformed intervals (end <= start, or a NULL bound) can never match
    # the residual start <= ts < end, but left unfiltered they would make
    # F.sequence(start_chunk, end_chunk) run BACKWARDS (Spark emits a
    # descending sequence when start > stop), exploding one row per
    # chunk across the whole gap — an unbounded candidate blow-up on bad
    # data.  Drop them before the explode (and before the width probe).
    valid = intervals.filter(F.col(end_col) > F.col(start_col))
    if chunk_seconds is None:
        longest_us = valid.agg(
            F.max(F.unix_micros(F.col(end_col)) - F.unix_micros(F.col(start_col)))
        ).first()[0]
        chunk_seconds = (longest_us or 0) / 1_000_000
    # python-side µs constant: a 3600 * 1_000_000 int32 literal product
    # overflows under ANSI constant folding
    chunk_us = F.lit(max(math.ceil(chunk_seconds), 1) * 1_000_000)
    p = points.withColumn(
        "__chunk", F.floor(F.unix_micros(F.col(point_ts)) / chunk_us)
    )
    iv = valid.withColumn(
        "__chunk",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_col)) / chunk_us),
                # end is EXCLUSIVE: an interval ending exactly on a chunk
                # boundary does not touch that chunk
                F.floor((F.unix_micros(F.col(end_col)) - 1) / chunk_us),
            )
        ),
    )
    cond = p["__chunk"] == iv["__chunk"]
    for k in on:
        cond = cond & (p[k] == iv[k])
    residual = (p[point_ts] >= iv[start_col]) & (p[point_ts] < iv[end_col])
    joined = p.join(iv, cond & residual, how)
    if semi:
        return joined.drop(p["__chunk"])
    for k in on:
        joined = joined.drop(iv[k])
    return joined.drop(p["__chunk"]).drop(iv["__chunk"])
