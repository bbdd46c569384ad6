"""Refreshing market-schedule provider for streaming session gating.

Reference behavior being mirrored
(/root/reference/src/Context/KsqlContext.Lifecycle.cs:777-804,
/root/reference/src/Runtime/Heartbeat/MarketScheduleProvider.cs:40-59):
the context starts a background task that sleeps until the next
UTC 00:05, re-pulls the schedule table, and atomically swaps the
in-process interval index that ``IsInSession`` binary-searches; the
streaming pipeline keeps gating rows against whichever index is
current.

Spark-first translation: the schedule is a tiny slowly-changing
dimension stored at a path (parquet — the "schedule topic" analog).
A micro-batch pipeline gates inside ``foreachBatch``: on every batch
the provider first checks whether its refresh deadline (daily at UTC
00:05 by default) has passed and, if so, re-reads the dimension —
a fresh file index, so schedule changes published since the last
refresh become visible — then broadcast-semi-joins the batch against
the current schedule (operators/calendar.in_session_join: no shuffle
of the fact side at any scale).  There is no background thread to
manage: micro-batches arrive continuously, so piggybacking the
deadline check on batch arrival refreshes within one trigger interval
of the reference's wall-clock schedule while staying
restart-safe (the provider is rebuilt from the path on recovery).

The clock is injectable (the reference's ``_now()``/``_delay`` seam)
so tests can roll the day over deterministically.

Production note on the storage layer: swapping the schedule by
overwriting the parquet dir in place can race an in-flight read of
the OLD file index; publish new versions transactionally (Delta /
write-new-dir-then-swap-symlink) when the schedule writer and the
streaming job share storage.  The provider itself only ever re-reads
at refresh points, matching the reference's swap-on-refresh index.
"""

from __future__ import annotations

import datetime as dt
from bisect import bisect_right
from itertools import accumulate
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from ..operators.calendar import in_session_join

# Lifecycle.cs:785 — refresh fires at 00:05 UTC each day
DEFAULT_REFRESH_TIME = dt.time(0, 5)


def _utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


class RefreshingScheduleProvider:
    """Daily-refreshing schedule dimension + session gate.

    ``read()`` defaults to reading ``path`` as parquet; pass a custom
    reader to source the schedule from any table/format.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schedule_key: str = "market_key",
        open_col: str = "open_time",
        close_col: str = "close_time",
        refresh_time: dt.time = DEFAULT_REFRESH_TIME,
        now_fn: Callable[[], dt.datetime] = _utcnow,
        reader: Callable[[SparkSession, str], DataFrame] | None = None,
    ):
        self._spark = spark
        self._path = path
        self._key = schedule_key
        self._open = open_col
        self._close = close_col
        self._refresh_time = refresh_time
        self._now = now_fn
        self._read = reader or (lambda s, p: s.read.parquet(p))
        self._df: DataFrame | None = None
        self._index: dict[str, tuple[list[dt.datetime], list[dt.datetime]]] = {}
        self._loaded_at: dt.datetime | None = None
        self.refresh_count = 0
        self.refresh()  # InitializeAsync analog — load eagerly

    # -- refresh lifecycle (Lifecycle.cs StartDailyRefresh) -------------
    def _next_deadline(self, after: dt.datetime) -> dt.datetime:
        nxt = dt.datetime.combine(after.date(), self._refresh_time)
        if after >= nxt:
            nxt += dt.timedelta(days=1)
        return nxt

    def refresh(self) -> None:
        """Re-read the schedule dimension (RefreshAsync analog) and
        rebuild the interval index from it: one collect of the tiny dim
        (markets x days), so neither :meth:`gate` nor
        :meth:`is_in_session` runs a Spark job of its own.  Sessions
        with a NULL bound or ``close <= open`` contain no instant and
        are left out, as the gate's join drops them."""
        self._df = self._read(self._spark, self._path)
        idx: dict[str, list[tuple[dt.datetime, dt.datetime]]] = {}
        for key, open_t, close_t in self._df.select(
            self._key, self._open, self._close
        ).collect():
            if open_t is not None and close_t is not None and close_t > open_t:
                idx.setdefault(str(key), []).append((open_t, close_t))
        for v in idx.values():
            v.sort()
        # the gate's time-chunk width: the longest session, so the join
        # needs no width probe per micro-batch
        self._longest_s = max(
            ((c - o).total_seconds() for v in idx.values() for o, c in v),
            default=1.0,
        )
        # per key: the session opens in order, and beside each the
        # latest close among the sessions opened so far — sessions may
        # overlap, so the one opened last before t need not contain it
        self._index = {
            k: ([o for o, _ in v], list(accumulate((c for _, c in v), max)))
            for k, v in idx.items()
        }
        self._loaded_at = self._now()
        self.refresh_count += 1

    def refresh_if_due(self) -> bool:
        """Refresh when the daily deadline has passed since the last
        load; returns whether a refresh happened.  Called implicitly by
        :meth:`gate` — piggybacked on micro-batch arrival instead of a
        background sleeper thread."""
        assert self._loaded_at is not None
        if self._now() >= self._next_deadline(self._loaded_at):
            self.refresh()
            return True
        return False

    @property
    def schedule(self) -> DataFrame:
        assert self._df is not None
        return self._df

    # -- streaming gate --------------------------------------------------
    def gate(self, batch_df: DataFrame, row_key: str, ts_col: str) -> DataFrame:
        """Keep batch rows inside a current session of their market —
        the body of a ``foreachBatch`` gating stage."""
        self.refresh_if_due()
        return in_session_join(
            batch_df,
            self.schedule,
            row_key=row_key,
            ts_col=ts_col,
            schedule_key=self._key,
            open_col=self._open,
            close_col=self._close,
            bucket_width=self._longest_s,
        )

    def foreach_batch_gate(
        self,
        row_key: str,
        ts_col: str,
        sink: Callable[[DataFrame, int], None],
    ) -> Callable[[DataFrame, int], None]:
        """Wrap ``sink`` so every micro-batch is session-gated against
        the freshest schedule: ``writeStream.foreachBatch(provider.
        foreach_batch_gate("broker", "ts", sink))``."""

        def _fb(batch_df: DataFrame, batch_id: int) -> None:
            sink(self.gate(batch_df, row_key, ts_col), batch_id)

        return _fb

    # -- pull twin (MarketScheduleProvider.IsInSession) ------------------
    def is_in_session(self, key_parts: Iterable[str], utc_ts: dt.datetime) -> bool:
        """Driver-side point check over the interval index
        :meth:`refresh` collected — binary search per the reference
        (:40-59; open inclusive, close exclusive): True when some
        session of the key contains ``utc_ts``, as in :meth:`gate`."""
        parts = [str(p) for p in key_parts]
        if len(parts) != 1:
            # the index is keyed by the provider's single schedule-key
            # column; a composite key would silently never match, so
            # fail loudly (reference composes multi-part keys with \0,
            # but this provider is constructed over one key column)
            raise ValueError(
                f"is_in_session expects exactly one key part for "
                f"schedule key column {self._key!r}, got {len(parts)}: "
                f"{parts!r}"
            )
        key = parts[0]
        opens, reach = self._index.get(key, ([], []))
        i = bisect_right(opens, utc_ts) - 1
        return i >= 0 and utc_ts < reach[i]
