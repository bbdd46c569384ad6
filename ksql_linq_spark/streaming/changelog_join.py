"""Stream-changelog-table join: enrich a stream with the LATEST upsert
per key from a second (changelog) stream.

This is the reference's true stream-TABLE join semantics
(/root/reference/src/Query/Builders/Statements/KsqlCreateStatementBuilder.cs
stream⋈table path): the table side is a Kafka changelog whose newest
value per key is what each stream row joins against.  Spark's built-in
stream-static join (streaming/windows.stream_static_join) re-reads a
SNAPSHOT per micro-batch — correct when the table is externally
maintained, but it cannot consume the table AS a stream.  This module
closes that gap with ``applyInPandasWithState``:

- both inputs are tagged and unioned into ONE keyed stream (a single
  groupBy-key shuffle; state lives in the state store, size = one right
  row per distinct key — the same bound as ksqlDB's RocksDB table);
- per key, rows are processed in event-time order within each batch:
  an upsert (right) row advances the per-key state, NULL-valued upserts
  TOMBSTONE it (TombstoneSafeSerDes parity with the keyed sink), and a
  left row emits enriched with the state's current value;
- cross-batch ordering is micro-batch arrival order (the same
  best-effort contract ksqlDB has for out-of-order table updates —
  exact event-time versioned joins need the batch as-of operator,
  operators/asof.py, on landed data).

Output: every left row + the latest right value column (NULL when no
upsert has arrived or the key was tombstoned) — append mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TAG_COLS = ("__side", "__ts", "__v")


def _resolve_batch(pdf, key, key_val, left_cols, out_value_col, has_value, value):
    """Resolve one key's micro-batch: apply upserts/probes in event-time
    order and return ``(out_frame_or_None, has_value, value)``.

    Module-level (not a closure) so the kernel is directly unit-testable
    and micro-benchmarkable — the us/group numbers in SCALING.md time
    THIS function.

    Event-time order within the batch: upserts take effect before probes
    at the same timestamp (side 1 first; stable lexsort keeps arrival
    order among exact ties, so the last same-ts upsert wins —
    byte-identical to the sequential interleave this replaces).  Each
    probe's effective value is the most recent upsert AT OR BEFORE it in
    this order: a cumulative-max of upsert positions (−1 = none yet)
    resolves every probe in one vectorized pass — no per-row Python (the
    r9 gap-fill lesson: at high key cardinality the binding cost is
    per-group fixed overhead, but under replay/catch-up batches are
    large and an O(rows) interpreted loop is the 135× hazard class).  A
    plain ffill-over-NaN can't express this: NULL upserts are
    TOMBSTONES, so "no upsert here" and "upsert to NULL" must stay
    distinct — positions disambiguate where a sentinel value cannot.
    """
    import numpy as np  # executor-side
    import pandas as pd  # executor-side

    # Plain-numpy extraction up front (the gapfill recipe — pandas
    # .iloc/.reset_index fixed cost is ~1 ms/group, i.e. ~100 s per
    # 100k-key flush; numpy fancy indexing + one dict-of-arrays frame
    # build is ~30x cheaper).  COLUMN-level numpy round-trips are
    # type-safe: a datetime64[ns] array put back into a DataFrame
    # column stays a timestamp.  Only SCALAR extraction (the carried
    # state value) hits the numpy .item() epoch-int trap — handled
    # explicitly below.
    sides = pdf["__side"].to_numpy()
    tss = pdf["__ts"].to_numpy()
    vs = pdf["__v"].to_numpy()
    n = len(sides)
    if n > 1 and not (
        (np.diff(tss) > np.timedelta64(0) if tss.dtype.kind == "M"
         else np.diff(tss) > 0).all()
    ):
        order = np.lexsort((-sides, tss))  # ts asc, side desc
        sides, vs = sides[order], vs[order]
    else:
        order = None  # already strictly increasing — identity order
    up = sides == 1
    last_up = np.maximum.accumulate(np.where(up, np.arange(n), -1))
    probe = np.flatnonzero(~up)
    out = None
    if len(probe):
        take = last_up[probe]
        have = take >= 0
        cand = vs[np.where(have, take, 0)]  # fancy index → fresh array
        # dtype-aware missing marker (numpy rejects None on numeric)
        kind = cand.dtype.kind
        na = (np.nan if kind == "f"
              else np.datetime64("NaT") if kind == "M"
              else np.timedelta64("NaT") if kind == "m"
              else None)
        dead = have & pd.isna(cand)
        if dead.any():
            cand[dead] = na  # tombstoned key reads as NULL
        if not have.all():
            # probes before any in-batch upsert read carried state
            cand[~have] = (value if has_value else na)
        src = probe if order is None else order[probe]
        data = {key: np.full(len(probe), key_val, dtype=object)}
        for c in left_cols:
            data[c] = pdf[c].to_numpy()[src]
        data[out_value_col] = cand
        out = pd.DataFrame(data, copy=False)
    if up.any():
        j = int(np.flatnonzero(up)[-1])
        v = vs[j]
        if pd.isna(v):
            has_value, value = False, None  # tombstone
        else:
            has_value = True
            # normalize scalars for the state store TYPE-PRESERVINGLY:
            # np.datetime64/.timedelta64 .item() returns a raw epoch
            # int — wrap via pandas instead; other numpy scalars
            # (float64/int64/bool_) unbox to python; everything else
            # passes through as-is.
            if isinstance(v, np.datetime64):
                value = pd.Timestamp(v)
            elif isinstance(v, np.timedelta64):
                value = pd.Timedelta(v)
            elif isinstance(v, np.generic):
                value = v.item()
            else:
                value = v
    return out, has_value, value


def stream_changelog_join(
    left: DataFrame,
    changelog: DataFrame,
    key: str,
    left_ts: str,
    value_col: str,
) -> DataFrame:
    """Enrich ``left`` (key, left_ts, ...) with the newest ``value_col``
    from ``changelog`` (key, left_ts, value_col) as of processing order.

    Both frames must be streaming; ``changelog`` rows with NULL
    ``value_col`` delete the key's state (tombstone).  Returns an
    append-mode stream with left's columns plus ``latest_<value_col>``.

    The value's NATIVE Spark type is carried through the union, the
    state store, and the output schema — nothing is cast to double (a
    silent double cast would turn non-numeric values into NULLs, i.e.
    spurious tombstones).  Nested value types (struct/array/map) are
    rejected up front: NULL is the tombstone marker, so a type whose
    pandas round-trip can't distinguish "missing" reliably would make
    delete semantics ambiguous.
    """
    out_value_col = f"latest_{value_col}"
    left_cols = [c for c in left.columns if c != key]
    vtype = changelog.schema[value_col].dataType
    if isinstance(vtype, (T.StructType, T.ArrayType, T.MapType)):
        raise TypeError(
            f"stream_changelog_join: value_col {value_col!r} has nested "
            f"type {vtype.simpleString()}; only atomic value types are "
            "supported (NULL is the tombstone marker)"
        )
    clash = set(left.columns) & ({*_TAG_COLS} | {out_value_col})
    if clash:
        raise ValueError(
            f"stream_changelog_join: left columns {sorted(clash)} collide "
            "with the join's tag/output columns; rename them first"
        )

    # Left columns ride the union NATIVELY (the right side contributes
    # typed NULLs) instead of packed into a struct: the kernel can then
    # emit probe rows by pandas slicing — type-preserving and vectorized,
    # with no per-row struct unpacking.
    tagged_left = left.select(
        F.col(key),
        F.lit(0).alias("__side"),  # 0 = left/probe
        F.col(left_ts).alias("__ts"),
        *[F.col(c) for c in left_cols],
        F.lit(None).cast(vtype).alias("__v"),
    )
    tagged_right = changelog.select(
        F.col(key),
        F.lit(1).alias("__side"),  # 1 = table upsert
        F.col(left_ts).alias("__ts"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left_cols
        ],
        F.col(value_col).alias("__v"),
    )
    unioned = tagged_left.unionByName(tagged_right)

    out_schema = T.StructType(
        [T.StructField(key, left.schema[key].dataType)]
        + [left.schema[c] for c in left_cols]
        + [T.StructField(out_value_col, vtype)]
    )
    state_schema = T.StructType(
        [
            T.StructField("has_value", T.BooleanType()),
            T.StructField("value", vtype),
        ]
    )
    out_cols = [key, *left_cols, out_value_col]

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd  # executor-side

        (k,) = key_tuple
        if state.exists:
            has_value, value = state.get
        else:
            has_value, value = False, None
        out = None
        # Materialize the key's WHOLE micro-batch before sorting: Arrow
        # hands the batch over as ~10k-row chunks, and sorting each
        # chunk independently would apply upserts/probes out of the
        # documented within-batch event-time order whenever a key spans
        # chunks.  Per-key batch volume is the same bound the state
        # already assumes, so the concat is safe.
        pdfs = [p for p in pdf_iter if len(p)]
        if pdfs:
            pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
            out, has_value, value = _resolve_batch(
                pdf, key, k, left_cols, out_value_col, has_value, value
            )
        state.update((has_value, value))
        if out is None:
            out = pd.DataFrame({c: [] for c in out_cols})
        yield out

    return unioned.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
