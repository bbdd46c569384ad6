"""Structured-Streaming window semantics (SURVEY.md §2.5).

- W1/W3: tumbling & hopping windowed aggregation with grace→watermark
  (/root/reference — grace default 1 s: src/Query/Analysis/DerivationPlanner.cs:45)
- W5: EMIT CHANGES → outputMode("update"); EMIT FINAL → watermark-closed
  outputMode("append")
  (/root/reference/src/Query/Builders/Core/RoleTraits.cs:10-22)
- W7: duplicate-drop → dropDuplicatesWithinWatermark
  (/root/reference/src/Window/WindowAggregator.cs:36-124 dedup-key path)
- J2: stream-stream equi-join WITHIN Δ (default 300 s when unspecified:
  /root/reference/src/Query/Builders/Statements/KsqlCreateStatementBuilder.cs:362-376)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_GRACE = "1 seconds"  # DerivationPlanner.cs:45
DEFAULT_JOIN_WITHIN_SECONDS = 300  # KsqlCreateStatementBuilder.cs:370


class EmitMode:
    CHANGES = "update"  # EMIT CHANGES — every trigger re-emits updated bars
    FINAL = "append"  # EMIT FINAL — only watermark-closed windows


def windowed_aggregate(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    aggs: list[Column],
    size: str,
    advance: str | None = None,
    grace: str = DEFAULT_GRACE,
    emit: str = EmitMode.FINAL,
    dedup_keys: list[str] | None = None,
) -> tuple[DataFrame, str]:
    """Tumbling (advance=None) or hopping windowed aggregate.

    Returns (aggregated unbounded DataFrame, outputMode) — caller attaches
    the sink.  Late rows beyond ``grace`` are dropped by the watermark
    (W4); ``dedup_keys`` drops duplicates within the watermark first (W7).
    """
    s = stream.withWatermark(ts_col, grace)
    if dedup_keys:
        s = s.dropDuplicatesWithinWatermark(dedup_keys)
    win = F.window(ts_col, size, advance) if advance else F.window(ts_col, size)
    out = s.groupBy(*[F.col(k) for k in keys], win.alias("window")).agg(*aggs)
    # windowstart/windowend pseudo-columns (W6) surfaced as plain columns
    out = out.select(
        *[F.col(k) for k in keys],
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[F.col(c) for c in out.columns if c not in set(keys) | {"window"}],
    )
    return out, emit


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    within_seconds: int | None = None,
    how: str = "inner",
    forbid_default_within: bool = False,
) -> DataFrame:
    """Stream-stream equi-join bounded by |tsR - tsL| <= Δ.

    Δ defaults to the reference's 300 s; both sides get a Δ watermark so
    Spark can expire join state (state size ≈ Δ × input rate — bounded at
    any scale).

    ``forbid_default_within`` mirrors ``RequireExplicitWithin()``
    (/root/reference/src/Query/Dsl/KsqlQueryable2.cs:120-124): strict
    deployments can ban the implicit default so every stream-stream
    join states its state-retention bound explicitly — with it set and
    ``within_seconds`` unspecified, this raises exactly where the
    reference's statement builder does
    (src/Query/Builders/Statements/KsqlCreateStatementBuilder.cs:362-376,
    golden: tests/Query/Golden/join_within_default.sql).

    ``how``: "inner" or "leftOuter" — the reference's contract surface
    (JoinLimitationEnforcer.cs: "Supported: INNER, LEFT OUTER").  For
    leftOuter, unmatched left rows emit with null right columns once the
    watermark passes their join window (never earlier — correctness over
    latency).  The right side's key columns are dropped from the output
    (one key column per KSQL join semantics).
    """
    if within_seconds is not None and within_seconds <= 0:
        # KsqlQueryable2.Within: "interval must be > 0"
        raise ValueError("within_seconds must be > 0")
    if within_seconds is None and forbid_default_within:
        # KsqlCreateStatementBuilder.cs:374
        from ..query.builder import StreamProcessingException

        raise StreamProcessingException(
            "Stream-Stream JOIN requires explicit Within(...) when "
            "default is disabled."
        )
    within = within_seconds or DEFAULT_JOIN_WITHIN_SECONDS
    lw = left.withWatermark(left_ts, f"{within} seconds")
    rw = right.withWatermark(right_ts, f"{within} seconds")
    cond = None
    for k in on:
        c = lw[k] == rw[k]
        cond = c if cond is None else cond & c
    bound = (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {within} SECONDS")) & (
        rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within} SECONDS")
    )
    joined = lw.join(rw, cond & bound, how)
    for k in on:
        joined = joined.drop(rw[k])
    return joined


def stream_static_join(
    stream: DataFrame, static: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """J3 stream-table join: the static side is broadcast per micro-batch."""
    return stream.join(F.broadcast(static), on, how)


def start_memory_sink(df: DataFrame, name: str, output_mode: str):
    """Test/dev sink: materialize a streaming frame into an in-memory table."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def compact_changelog_batch(
    batch_df: DataFrame,
    keys: list[str],
    value_cols: list[str],
    order_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Reduce a changelog batch to one DETERMINISTIC survivor per key
    and split out deletes.  Returns ``(batch_keys, upserts)``:
    ``batch_keys`` is every key the batch touches (upserts AND
    tombstones — the anti-join side of a merge), ``upserts`` the
    surviving non-tombstone rows to re-insert.

    Survivor rule (shared by the streaming keyed sink and the batch
    merge): with ``order_col`` (event time / sequence) the newest row
    wins — Kafka-changelog compaction order; without one the tie-break
    is value-based (upserts beat tombstones since all-NULL sorts last,
    then greatest value tuple) — stable run to run.  A tombstone is a
    row whose non-key, non-order columns are ALL NULL
    (delete-on-null-value, TombstoneSafeSerDes contract).
    """
    from pyspark.sql import Window

    if value_cols:
        order_exprs = (
            [F.col(order_col).desc_nulls_last()] if order_col else []
        ) + [F.struct(*[F.col(c) for c in value_cols]).desc_nulls_last()]
        w = Window.partitionBy(*keys).orderBy(*order_exprs)
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        batch = batch_df.dropDuplicates(keys)
    tomb_cols = [c for c in value_cols if c != order_col]
    if tomb_cols:
        is_tomb = F.lit(True)
        for c in tomb_cols:
            is_tomb = is_tomb & F.col(c).isNull()
        upserts = batch.filter(~is_tomb)
    else:
        upserts = batch
    return batch.select(*keys), upserts


def keyed_table_sink(
    df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str,
    order_col: str | None = None,
):
    """Materialize an update-mode (EMIT CHANGES) aggregate as a keyed
    TABLE: each micro-batch upserts its changed rows by key.

    This is the reference's Table semantics — a changelog compacted into
    a keyed store readable at rest (its Streamiz/RocksDB table cache,
    /root/reference/src/Cache/Core/TableCache.cs:43-180) — landed as a
    parquet table Spark reads back directly (SURVEY.md §2.1 S9: no cache
    subsystem needed).

    **Tombstones** (always on): a batch row whose non-key
    columns are ALL NULL is a delete — the key is removed from the table
    and the row is not inserted.  This is the reference's
    delete-on-null-value contract
    (/root/reference/src/SerDes/TombstoneSafeSerDes.cs:1-111: a Kafka
    record with a null value tombstones its key in the compacted table).

    Each batch is one :func:`operators.layout.merge_upsert` — the batch
    MERGE twin: same survivor rule, read-merge-rewrite with a staged
    directory swap, so a reader mid-batch sees the old or the new
    table, never a half-written one (single-writer).  On a cluster this
    foreachBatch body becomes a Delta/Iceberg MERGE INTO keyed ON the
    same columns with WHEN MATCHED AND <all-null> THEN DELETE —
    partition the table by a key prefix or bucket date so the merge
    touches only affected files.
    """
    from ..operators.layout import merge_upsert

    spark = df.sparkSession

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(spark, path, batch_df, keys, order_col)

    return (
        df.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def idempotent_append_sink(df: DataFrame, path: str, checkpoint: str):
    """Exactly-once APPEND sink on top of an at-least-once foreachBatch.

    Structured Streaming replays an in-flight micro-batch after a crash
    with the SAME batchId (the checkpoint's WAL pins batch → offsets),
    so writing each batch to its own ``batch_id=N`` subdirectory and
    skipping directories that already exist makes the sink idempotent:
    replayed batches become no-ops and readers never see duplicates.
    This is the file-sink analog of the reference's manual-commit path
    (SURVEY §2.8 C5, src/EntitySets/EventSet.cs:170-209) — Spark's
    checkpoint replaces the Kafka offset commit, and the batch-id guard
    replaces broker-side idempotence.

    Readers: ``spark.read.parquet(path)`` sees every committed batch
    (partition discovery on batch_id).  On a cluster the same guard is
    one transactional commit in Delta/Iceberg (``txnAppId``/``txnVersion``);
    the directory-exists check is the dependency-free parquet variant.
    A batch directory is only visible after Spark's FileOutputCommitter
    renames it atomically, so a crash mid-write leaves no torn reads.
    """
    import os

    def append_once(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(path, f"batch_id={batch_id}")
        if os.path.exists(target):
            return  # replayed batch — already committed
        batch_df.write.mode("errorifexists").parquet(target)

    return (
        df.writeStream.foreachBatch(append_once)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
    )
