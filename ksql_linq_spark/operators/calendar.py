"""Market-schedule gating (TimeFrame) — SURVEY.md §2.5 W9/W10.

Reference semantics: ``TimeFrame<TSchedule>((r, s) => r.Broker == s.Broker
&& s.Open <= r.Ts && r.Ts < s.Close, dayKey)`` joins each row against a
schedule table and keeps rows inside a trading session
(/root/reference/src/Query/Dsl/KsqlQueryable.cs:127-184); at runtime
``IsInSession`` binary-searches sorted intervals refreshed daily
(/root/reference/src/Runtime/Heartbeat/MarketScheduleProvider.cs:40-59).

Spark-first design: the schedule is a small dimension → **broadcast
range join** (no shuffle of the fact side, the 100 TB-safe plan); session
alignment for bars = gate first, bucket after.  Inclusivity of the
open/close bounds mirrors the reference's boundary-prop parsing
(open inclusive, close exclusive by default).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCHEDULE_COLUMNS = ("market_key", "open_time", "close_time")


@dataclass
class SessionBounds:
    open_inclusive: bool = True
    close_inclusive: bool = False  # s.Open <= r.Ts && r.Ts < s.Close


def in_session_join(
    rows: DataFrame,
    schedule: DataFrame,
    row_key: str,
    ts_col: str,
    schedule_key: str = "market_key",
    open_col: str = "open_time",
    close_col: str = "close_time",
    bounds: SessionBounds = SessionBounds(),
    bucketed: bool = True,
    bucket_width: float | None = None,
) -> DataFrame:
    """Keep rows whose ts falls inside any session of their market.

    Broadcast the schedule (tiny: markets × days) and semi-join, so each
    fact row is tested against its market's intervals executor-side —
    the Spark twin of the reference's in-process interval search.

    By default the broadcast side is INTERVAL-BUCKETED (the Spark twin
    of the reference's binary-searched interval index,
    MarketScheduleProvider.cs:40-59): a plain equality-on-market hash
    join puts ALL of a market's sessions in one hash bucket, so every
    fact row range-scans every session — measured ~200 ns/row at 150
    sessions/market, which DOUBLED the composed streaming hub's CPU
    (SCALING.md round-10).  Bucketing by a coarse time grid (width =
    the longest session, so each interval lands in ≤ 2 buckets) makes
    the hash probe land each row on only the 1-2 sessions that can
    contain it.  Falls back to the plain join when the schedule is
    itself a stream (width needs one driver-side agg over the dim) or
    has NULL bounds.
    """
    ts = rows[ts_col]
    lo = (
        (ts >= F.col(f"__s.{open_col}"))
        if bounds.open_inclusive
        else (ts > F.col(f"__s.{open_col}"))
    )
    hi = (
        (ts <= F.col(f"__s.{close_col}"))
        if bounds.close_inclusive
        else (ts < F.col(f"__s.{close_col}"))
    )
    if bucketed and not schedule.isStreaming:
        # ``bucket_width``: callers that KNOW the longest session length
        # (seconds) pass it and skip the probe job below — a width is a
        # bucketing granularity only, never a correctness input (the
        # join re-checks lo & hi), so a caller-supplied value is
        # semantically free; the probe job is one full Spark job at
        # query BUILD time (~0.3-0.5 s of per-build latency, guide §7.3)
        if bucket_width is not None:
            width = max(float(bucket_width), 1.0)
        else:
            # one tiny driver-side agg over the dim (markets × days rows)
            stats = schedule.agg(
                F.max(
                    F.col(close_col).cast("double") - F.col(open_col).cast("double")
                ).alias("max_len"),
                F.sum(
                    (F.col(open_col).isNull() | F.col(close_col).isNull())
                    .cast("long")
                ).alias("nulls"),
            ).collect()[0]
            width = (
                max(float(stats["max_len"]), 1.0)
                if stats["max_len"] is not None and not stats["nulls"]
                else None
            )
        if width is not None:
            b_lo = F.floor(F.col(open_col).cast("double") / width)
            b_hi = F.floor(F.col(close_col).cast("double") / width)
            # Inverted intervals (close < open) can never satisfy the
            # lo & hi predicate, so dropping them here is semantically
            # free — and REQUIRED: `max_len` is the max over sessions,
            # so one garbage row with close far before open passes the
            # guard with b_hi << b_lo, and sequence(b_lo, b_hi) would
            # explode an unbounded DESCENDING sequence into the
            # broadcast side (a decades-scale sentinel date is millions
            # of buckets).  With inversions removed, every remaining
            # interval spans <= 2 buckets by construction (width is the
            # max non-inverted length).
            exploded = schedule.filter(
                F.col(close_col) >= F.col(open_col)
            ).select(
                schedule_key,
                open_col,
                close_col,
                F.explode(F.sequence(b_lo, b_hi)).alias("__bucket"),
            )
            s = F.broadcast(exploded).alias("__s")
            return rows.join(
                s,
                on=(rows[row_key] == F.col(f"__s.{schedule_key}"))
                & (
                    F.floor(ts.cast("double") / F.lit(width))
                    == F.col("__s.__bucket")
                )
                & lo
                & hi,
                how="leftsemi",
            )
    s = F.broadcast(schedule).alias("__s")
    return rows.join(
        s,
        on=(rows[row_key] == F.col(f"__s.{schedule_key}")) & lo & hi,
        how="leftsemi",
    )


def session_tag_join(
    rows: DataFrame,
    schedule: DataFrame,
    row_key: str,
    ts_col: str,
    schedule_key: str = "market_key",
    open_col: str = "open_time",
    close_col: str = "close_time",
) -> DataFrame:
    """Inner-join variant that carries the matched session's columns
    (for session-anchored bars: group by session_open instead of a fixed
    bucket — W10 'bars aligned to exchange sessions')."""
    s = F.broadcast(schedule).alias("__s")
    out = rows.join(
        s,
        on=(rows[row_key] == F.col(f"__s.{schedule_key}"))
        & (rows[ts_col] >= F.col(f"__s.{open_col}"))
        & (rows[ts_col] < F.col(f"__s.{close_col}")),
        how="inner",
    )
    keep = [rows[c] for c in rows.columns] + [
        F.col(f"__s.{open_col}").alias("session_open"),
        F.col(f"__s.{close_col}").alias("session_close"),
    ]
    return out.select(*keep)


def make_daily_schedule(
    spark,
    markets: list[str],
    start_date: str,
    end_date: str,
    open_hour: int = 9,
    close_hour: int = 17,
    trading_days: tuple[int, ...] = (1, 2, 3, 4, 5),  # ISO Mon..Fri
) -> DataFrame:
    """Helper: synthesize a weekday-sessions schedule dim (the reference's
    daily-refresh provider analog, for tests and examples)."""
    days = (
        spark.sql(
            f"SELECT explode(sequence(to_date('{start_date}'), to_date('{end_date}'), "
            "interval 1 day)) AS d"
        )
        .filter(F.dayofweek(F.col("d")).isin([(x % 7) + 1 for x in trading_days]))
    )
    mk = spark.createDataFrame([(m,) for m in markets], "market_key string")
    return mk.crossJoin(days).select(
        "market_key",
        (F.col("d").cast("timestamp") + F.expr(f"INTERVAL {open_hour} HOURS")).alias(
            "open_time"
        ),
        (F.col("d").cast("timestamp") + F.expr(f"INTERVAL {close_hour} HOURS")).alias(
            "close_time"
        ),
    )
