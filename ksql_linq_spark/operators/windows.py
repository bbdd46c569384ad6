"""Time-bucketing expressions: tumbling/hopping + calendar timeframes.

The reference's timeframe tokens are ``1m 5m 15m 1h 1d 1wk 1mo``
(normalize+sort: /root/reference/src/Query/Dsl/KsqlQueryModel.cs:126-135).
Fixed-duration frames map to ``F.window``; week/month are *calendar*
buckets, which ``window()`` (fixed duration) cannot express — implemented
with ``date_trunc`` + anchor arithmetic per SURVEY.md §4 "custom Spark
work" item (3).  All pure Column expressions — JVM-side, codegen-friendly,
and usable as streaming group keys.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_FIXED_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400}

# Week anchor default Monday (KsqlQueryModel.cs:41; DerivedEntity.cs:25).
# date_trunc('week') in Spark is ISO — Monday-anchored already; other
# anchors shift by whole days before/after truncation.
_DOW_OFFSET = {"monday": 0, "tuesday": 1, "wednesday": 2, "thursday": 3,
               "friday": 4, "saturday": 5, "sunday": 6}


def parse_timeframe(tf: str) -> tuple[int, str]:
    """'5m' -> (5, 'm'); '1wk' -> (1, 'wk'); '1mo' -> (1, 'mo')."""
    m = re.fullmatch(r"(\d+)(s|m|h|d|wk|mo)", tf.strip().lower())
    if not m:
        raise ValueError(f"bad timeframe token {tf!r}; expected e.g. 1m 5m 1h 1d 1wk 1mo")
    return int(m.group(1)), m.group(2)


def timeframe_seconds(tf: str) -> int | None:
    n, unit = parse_timeframe(tf)
    if unit in _FIXED_UNITS:
        return n * _FIXED_UNITS[unit]
    return None  # calendar frame


def bucket_start(ts: Column | str, tf: str, week_anchor: str = "monday") -> Column:
    """Floor ``ts`` to its timeframe bucket start (WindowingMath.cs:7-16).

    Returns a TIMESTAMP column: fixed frames via epoch floor-div (exactly
    ``F.window(ts, size).start`` but usable outside groupBy), week/month
    via calendar truncation.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    n, unit = parse_timeframe(tf)
    if unit in _FIXED_UNITS:
        size = n * _FIXED_UNITS[unit]
        epoch = F.unix_timestamp(c)
        return F.timestamp_seconds((epoch - (epoch % F.lit(size))).cast("long"))
    if unit == "wk":
        off = _DOW_OFFSET[week_anchor.lower()]
        if n != 1:
            raise ValueError("only 1wk supported (reference has no n-week frames)")
        if off == 0:
            return F.date_trunc("week", c)
        shifted = F.date_trunc("week", c - F.expr(f"INTERVAL {off} DAYS"))
        return shifted + F.expr(f"INTERVAL {off} DAYS")
    if unit == "mo":
        if n == 1:
            return F.date_trunc("month", c)
        # n-month buckets anchored at year start
        months = (F.year(c) - 1970) * 12 + F.month(c) - 1
        base = months - (months % F.lit(n))
        return F.make_timestamp(
            (F.lit(1970) + (base / 12).cast("int")),
            (base % 12 + 1).cast("int"),
            F.lit(1), F.lit(0), F.lit(0), F.lit(0),
        )
    raise AssertionError(unit)


def bucket_end(ts: Column | str, tf: str, week_anchor: str = "monday") -> Column:
    """Exclusive bucket end (WINDOWEND pseudo-column, SURVEY.md §2.5 W6)."""
    start = bucket_start(ts, tf, week_anchor)
    n, unit = parse_timeframe(tf)
    if unit in _FIXED_UNITS:
        return start + F.expr(f"INTERVAL {n * _FIXED_UNITS[unit]} SECONDS")
    if unit == "wk":
        return start + F.expr("INTERVAL 7 DAYS")
    return start + F.expr(f"INTERVAL {n} MONTHS")


def session_window_agg(df, keys: list, ts_col: str, gap: str, aggs: list):
    """Session windows (SURVEY.md §2.5 "superset" row: the reference emits
    only TUMBLING/HOPPING; Spark has native sessionization).

    Two events merge into one session when they are strictly closer than
    ``gap``; the window ends ``gap`` after the last event.  Works in batch
    and streaming (with a watermark) — F.session_window is a dynamic-gap
    merge the engine executes with a single shuffle on the session keys.
    """
    w = F.session_window(F.col(ts_col), gap)
    return (
        df.groupBy(*keys, w)
        .agg(*aggs)
        .withColumn("session_start", F.col("session_window.start"))
        .withColumn("session_end", F.col("session_window.end"))
        .drop("session_window")
    )
