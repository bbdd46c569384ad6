"""OHLC bar aggregation — the reference's flagship domain feature.

Reference semantics (golden /root/reference/tests/Query/Golden/bars_5m_live.sql;
example /root/reference/examples/designtime-ksql-tumbling/Program.cs:50-63):

    open  = EARLIEST_BY_OFFSET(price)
    high  = MAX(price)
    low   = MIN(price)
    close = LATEST_BY_OFFSET(price)
    GROUP BY keys, WINDOW TUMBLING (SIZE tf)

Batch has no Kafka offset, so "offset order" is defined as
(event_time, price) — ``functions.EarliestByOffset``/``LatestByOffset``.
That order is total for the value that comes out: two ticks that tie
on both carry the same price, so open/close never depend on the order
rows arrive in.  :func:`ohlc_aggs` is the one list that turns raw ticks
into a bar; the batch bars, the cascade's batch hub and its streaming
hub all apply it.  All built-in aggregates: partial-agg (map-side
combine) applies, single shuffle on (keys, bucket), survives any scale;
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import functions as KF
from .windows import bucket_start


def ohlc_aggs(ts_col: str, price_col: str) -> list[Column]:
    """Raw ticks -> one bar: open, high, low, close, then the
    re-aggregable partials sum_v, cnt, first_ts and last_ts.

    first/last_ts carry open/close through a cascade's rollups
    (cascade.py); sum_v + cnt stand in for avg, which does not compose
    (HubSelectPolicy AVG decomposition).  A query that selects fewer
    columns pays for none of the others: Catalyst prunes unused
    aggregates."""
    ts, price = F.col(ts_col), F.col(price_col)
    return [
        KF.EarliestByOffset(price, ts).alias("open"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        KF.LatestByOffset(price, ts).alias("close"),
        F.sum(price).alias("sum_v"),
        F.count(F.lit(1)).alias("cnt"),
        F.min(ts).alias("first_ts"),
        F.max(ts).alias("last_ts"),
    ]


def ohlc_bars(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    price_col: str,
    timeframe: str,
) -> DataFrame:
    """Aggregate ticks into OHLC bars for one timeframe.

    Output: keys..., bucket_start TIMESTAMP, then :func:`ohlc_aggs`
    (open, high, low, close, sum_v, cnt, first_ts, last_ts).  One
    shuffle on (keys, bucket).
    """
    return df.groupBy(
        *[F.col(k) for k in keys],
        bucket_start(ts_col, timeframe).alias("bucket_start"),
    ).agg(*ohlc_aggs(ts_col, price_col))
