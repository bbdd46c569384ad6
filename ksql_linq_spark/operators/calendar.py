"""Market-schedule gating (TimeFrame) — SURVEY.md §2.5 W9/W10.

Reference semantics: ``TimeFrame<TSchedule>((r, s) => r.Broker == s.Broker
&& s.Open <= r.Ts && r.Ts < s.Close, dayKey)`` joins each row against a
schedule table and keeps rows inside a trading session
(/root/reference/src/Query/Dsl/KsqlQueryable.cs:127-184); at runtime
``IsInSession`` binary-searches sorted intervals refreshed daily
(/root/reference/src/Runtime/Heartbeat/MarketScheduleProvider.cs:40-59).

Spark-first design: the schedule is a small dimension, broadcast and
joined through operators/interval.point_in_interval_join — the gate is
its ``left_semi`` call, the session tag its ``inner`` call.  Each
session explodes into the time chunks it touches and the join keys on
(market, chunk), the Spark twin of the reference's binary-searched
interval index: a fact row meets only the 1-2 sessions alive in its
chunk, never its market's whole schedule (SCALING.md round 10).  No
shuffle of the fact side, in batch and in a stream-static micro-batch
plan alike; session alignment for bars = gate first, bucket after.
Sessions are ``[open, close)``, the reference's default bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .interval import point_in_interval_join


def in_session_join(
    rows: DataFrame,
    schedule: DataFrame,
    row_key: str,
    ts_col: str,
    schedule_key: str = "market_key",
    open_col: str = "open_time",
    close_col: str = "close_time",
    bucket_width: float | None = None,
) -> DataFrame:
    """Keep rows whose ts falls inside any session ``[open, close)`` of
    their market; the output has the columns of ``rows``.

    ``bucket_width`` is the time-chunk width in seconds (see
    :func:`point_in_interval_join`'s ``chunk_seconds``).  Callers that
    know the longest session pass it; left ``None``, one small Spark
    job over the schedule measures it at build time.
    """
    s = schedule.select(
        F.col(schedule_key).alias(row_key), open_col, close_col
    )
    return point_in_interval_join(
        rows, F.broadcast(s), ts_col, open_col, close_col,
        on=[row_key], chunk_seconds=bucket_width, how="left_semi",
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
    """Inner-join variant that carries the matched session's bounds as
    ``session_open``/``session_close`` (for session-anchored bars: group
    by session_open instead of a fixed bucket — W10 'bars aligned to
    exchange sessions')."""
    s = schedule.select(
        F.col(schedule_key).alias(row_key),
        F.col(open_col).alias("session_open"),
        F.col(close_col).alias("session_close"),
    )
    return point_in_interval_join(
        rows, F.broadcast(s), ts_col, "session_open", "session_close",
        on=[row_key], how="inner",
    )


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
