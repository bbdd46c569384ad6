"""Gap-fill / continuation: synthesize missing time buckets per key,
carrying the last close forward.

Reference semantics (W8, /root/reference/src/Runtime/RowMonitor.cs:749-787
+ synthetic row builder :1280-1330): with ``continuation: true`` the 1 s
hub emits, for every key, filler rows for each bucket between the last
observed bucket and the current one, with open=high=low=close = previous
close and volume 0.

Batch form (:func:`gap_fill_bars`): per-key time spine via
``sequence(min_bucket, max_bucket)`` + explode + ``last(close)
ignorenulls`` carry-forward window.  One shuffle (the window partition),
spine generation is a flatMap — scales linearly with keys × buckets.
The spine joins back null-safely, so a NULL key is a key like any other.

Streaming form (:func:`streaming_gap_fill`): ``applyInPandasWithState``
keeping (last_bucket, last_close) per key — state is O(keys), exactly the
reference's RowMonitor memory bound — packed into ``GAP_FILL_SHARDS``
state rows, one per hash shard of the key.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sketch import _fresh
from .windows import timeframe_seconds

# Streaming gap-fill state shards.  The shard id is the state key, so
# this must map keys the same way across restarts: a constant, never
# derived from spark.sql.shuffle.partitions.  16, 64 and 256 shards
# measured alike on a 3.2k-key batch (SCALING.md).
GAP_FILL_SHARDS = 64


def _on_spine(
    df: DataFrame, keys: list[str], bucket_col: str, timeframe: str, what: str
) -> DataFrame:
    """``df`` left-joined onto its per-key time spine: every bucket from
    each key's min to max ``bucket_col``, one ``timeframe`` step apart
    (``sequence`` + explode — a flatMap, spine size = keys × buckets)."""
    step = timeframe_seconds(timeframe)
    if step is None:
        raise ValueError(f"{what} needs a fixed-duration timeframe")
    # the spine's columns get fresh names so the join can be null-safe
    # (a USING join is `=`, and would turn a NULL key's real bars into
    # synthetic NULL-close rows)
    taken = set(df.columns)
    spine_cols = {c: _fresh(f"_spine_{c}", taken) for c in (*keys, bucket_col)}
    spine = (
        df.groupBy(*keys)
        .agg(F.min(bucket_col).alias("_lo"), F.max(bucket_col).alias("_hi"))
        .select(
            *[F.col(k).alias(spine_cols[k]) for k in keys],
            F.explode(
                F.sequence("_lo", "_hi", F.expr(f"INTERVAL {step} SECONDS"))
            ).alias(spine_cols[bucket_col]),
        )
    )
    joined = spine.join(
        df, [F.col(s).eqNullSafe(F.col(c)) for c, s in spine_cols.items()], "left"
    )
    return joined.select(
        *[F.col(s).alias(c) for c, s in spine_cols.items()],
        *[c for c in df.columns if c not in spine_cols],
    )


def gap_fill_bars(
    bars: DataFrame,
    keys: list[str],
    bucket_col: str,
    timeframe: str,
    ohlc: tuple[str, str, str, str] = ("open", "high", "low", "close"),
) -> DataFrame:
    """Fill missing buckets per key between each key's min and max bucket.

    Filler rows carry the previous close as open/high/low/close — the
    reference's synthetic-row semantics.  Output: keys, bucket_col, the
    four price columns and is_synthetic.
    """
    o, h, l, c = ohlc
    joined = _on_spine(bars, keys, bucket_col, timeframe, "gap-fill")
    w = (
        Window.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_close = F.last(F.col(c), ignorenulls=True).over(w)
    # dict keyed by alias: tolerates o==h==l==c (close-only gap fill)
    out_cols = {name: F.coalesce(F.col(name), prev_close) for name in (o, h, l, c)}
    filled = joined.select(
        *keys,
        F.col(bucket_col),
        *[expr.alias(name) for name, expr in out_cols.items()],
        F.col(c).isNull().alias("is_synthetic"),
    )
    return filled


def streaming_gap_fill(
    bars: DataFrame,
    key: str,
    bucket_col: str,
    close_col: str,
    timeframe: str,
) -> DataFrame:
    """Streaming continuation via applyInPandasWithState.

    Emits the new bars plus synthetic (bucket, prev_close) rows for any
    gap between a key's previous bar and each new one, then advances the
    key's state to the batch's last bar in bucket order.  Output schema:
    key, bucket, close, is_synthetic.

    State is grouped by shard, not by key: ``pmod(xxhash64(key),
    GAP_FILL_SHARDS)``, one state row per shard holding three parallel
    arrays — ``keys``, ``last_bucket_epoch_ns``, ``last_close``.  The
    kernel runs once per shard per batch and is vectorised across the
    shard's keys, so PySpark's fixed per-group cost (state pickling, an
    Arrow→pandas slice per column) is paid at most GAP_FILL_SHARDS times
    per batch instead of once per key.  A batch rewrites every key of
    each shard it touches.  Checkpoints written by the former per-key
    layout cannot be resumed: Spark rejects the changed state schema at
    restart.
    """
    import numpy as np  # noqa: PLC0415 — executor-side import
    import pandas as pd  # noqa: PLC0415

    step = timeframe_seconds(timeframe)
    if step is None:
        raise ValueError("streaming gap-fill needs a fixed-duration timeframe")
    step_ns = step * 1_000_000_000

    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField(bucket_col, T.TimestampType()),
            T.StructField(close_col, T.DoubleType()),
            T.StructField("is_synthetic", T.BooleanType()),
        ]
    )
    # epoch NANOSECONDS: gap math at full timestamp precision, so real
    # (non-synthetic) bucket values pass through bit-exact even when
    # they are not whole-second aligned (a [s] view would silently
    # truncate observed data, not just synthesized rows)
    state_schema = T.StructType(
        [
            T.StructField("keys", T.ArrayType(T.StringType())),
            T.StructField("last_bucket_epoch_ns", T.ArrayType(T.LongType())),
            T.StructField("last_close", T.ArrayType(T.DoubleType())),
        ]
    )

    def fn(shard, pdf_iter, state):
        # All of the shard's chunks at once: a key's rows may be split
        # across Arrow chunks, and only a sort over the whole batch puts
        # them in bucket order before gaps are measured.
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        null_bucket = pdf[bucket_col].isna().to_numpy()
        if null_bucket.any():
            # NaT would view as INT64_MIN and synthesize an
            # astronomically long gap run — fail loudly instead
            raise ValueError(
                f"streaming_gap_fill: NULL {bucket_col!r} for key "
                f"{pdf[key].to_numpy()[null_bucket][0]!r}; bucket "
                "timestamps must be non-null"
            )
        s_keys, s_epochs, s_closes = state.get if state.exists else ([], [], [])
        n_state = len(s_keys)
        # state keys first, so state key i gets code i; a NULL key is a key
        codes, uniques = pd.factorize(
            np.concatenate((np.array(s_keys, dtype=object),
                            pdf[key].to_numpy(dtype=object))),
            use_na_sentinel=False,
        )
        codes = codes[n_state:]
        epochs = (pdf[bucket_col].to_numpy()
                  .astype("datetime64[ns]").astype("int64"))
        closes = pdf[close_col].to_numpy().astype("float64", copy=False)
        order = np.lexsort((epochs, codes))
        codes, epochs, closes = codes[order], epochs[order], closes[order]

        # each row's predecessor: the previous sorted row of its key, or
        # the key's state for its first row (itself when there is none,
        # so no gap opens a new series)
        prev_e = np.concatenate((epochs[:1], epochs[:-1]))
        prev_c = np.concatenate((closes[:1], closes[:-1]))
        first = np.flatnonzero(np.diff(codes, prepend=-1) != 0)
        prev_e[first], prev_c[first] = epochs[first], closes[first]
        stated = first[codes[first] < n_state]
        prev_e[stated] = np.asarray(s_epochs, dtype="int64")[codes[stated]]
        prev_c[stated] = np.asarray(s_closes, dtype="float64")[codes[stated]]

        # CEILING division: for a gap distance that is not a step
        # multiple (mis-aligned buckets) the last filler still lands
        # strictly before the observed bar, never on/after it
        counts = np.maximum(-(-(epochs - prev_e) // step_ns) - 1, 0)
        n_gaps = int(counts.sum())
        idx = np.repeat(np.arange(len(epochs)), counts)
        within = np.arange(n_gaps) - np.repeat(np.cumsum(counts) - counts, counts)
        out_k = np.concatenate((codes, codes[idx]))
        out_e = np.concatenate((epochs, prev_e[idx] + (within + 1) * step_ns))
        out_c = np.concatenate((closes, prev_c[idx]))
        out_s = np.arange(len(out_e)) >= len(epochs)
        order = np.lexsort((out_e, out_k))

        # state advance: each key's last sorted row of this batch
        last = np.flatnonzero(np.diff(codes, append=len(uniques)) != 0)
        new_e = np.empty(len(uniques), dtype="int64")
        new_c = np.empty(len(uniques), dtype="float64")
        new_e[:n_state], new_c[:n_state] = s_epochs, s_closes
        new_e[codes[last]], new_c[codes[last]] = epochs[last], closes[last]
        uniques[pd.isna(uniques)] = None  # factorize reports a NULL key as NaN
        state.update((uniques.tolist(), new_e.tolist(), new_c.tolist()))

        yield pd.DataFrame({
            key: uniques[out_k[order]],
            bucket_col: out_e[order].astype("datetime64[ns]"),
            close_col: out_c[order],
            "is_synthetic": out_s[order],
        })

    shard = F.pmod(F.xxhash64(key), F.lit(GAP_FILL_SHARDS)).alias("gap_fill_shard")
    return (
        bars.select(key, bucket_col, close_col, shard)
        .groupBy("gap_fill_shard")
        .applyInPandasWithState(fn, out_schema, state_schema, "append", "NoTimeout")
    )


def interpolate_linear(
    df: DataFrame,
    keys: list[str],
    bucket_col: str,
    value_col: str,
    timeframe: str,
) -> DataFrame:
    """Linear-interpolation gap fill: missing buckets between each key's
    first and last observation get ``prev + (next-prev) * elapsed_frac``
    instead of the carry-forward close (:func:`gap_fill_bars`) — the
    time-series variant every feature/metrics pipeline needs when the
    quantity is a level, not a last-trade price.

    Same topology as the carry-forward path: per-key ``sequence`` spine
    (flatMap, spine size = keys × buckets, independent of row volume) +
    ONE window shuffle computing both neighbors.  prev/next are the
    nearest non-null observations strictly before/after; inside the
    [min, max] spine both always exist for a missing bucket.  The
    arithmetic is fixed-order IEEE binary64 (div, mul, add), so engines
    agree bit-for-bit before any cosmetic rounding.
    """
    joined = _on_spine(df, keys, bucket_col, timeframe, "interpolation")
    back = (
        Window.partitionBy(*keys)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # "next non-null strictly after" = "last non-null strictly before"
    # under DESCENDING order: a growing frame Spark evaluates
    # incrementally in O(n).  The former (1, unboundedFollowing) frame
    # is re-scanned from each row to the partition end — O(n²) per
    # partition (r13: measured 1.43 s → 0.65 s on the 14.4k-row spine,
    # bit-identical output).  Cost moved: one extra in-partition sort
    # (same single exchange, the window keys are unchanged).
    fwd_desc = (
        Window.partitionBy(*keys)
        .orderBy(F.col(bucket_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    v = F.col(value_col)
    obs_ts = F.when(v.isNotNull(), F.col(bucket_col))
    prev_v = F.last(v, ignorenulls=True).over(back)
    prev_ts = F.last(obs_ts, ignorenulls=True).over(back)
    next_v = F.last(v, ignorenulls=True).over(fwd_desc)
    next_ts = F.last(obs_ts, ignorenulls=True).over(fwd_desc)
    # timestamp→double is fractional epoch seconds (µs-exact), matching
    # DuckDB's epoch(); unix_timestamp() would truncate to seconds and
    # silently mis-weight sub-second buckets
    frac = (
        F.col(bucket_col).cast("double") - prev_ts.cast("double")
    ) / (next_ts.cast("double") - prev_ts.cast("double"))
    interp = prev_v + (next_v - prev_v) * frac
    return joined.select(
        *keys,
        F.col(bucket_col),
        F.coalesce(v, interp).alias(value_col),
        v.isNull().alias("is_synthetic"),
    )
