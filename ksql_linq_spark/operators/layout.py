"""Physical-layout management: bucketing for co-located joins/aggs.

SCALING.md claims the big fact-fact joins (orderkey) and re-rollups
"co-locate for free in a bucketed layout" — this module is that layout.
``write_bucketed`` persists a table hash-bucketed (and bucket-sorted) on
its join/agg key; any join between two tables bucketed on the same key
with the same bucket count, and any groupBy on the bucket key, then
executes with ZERO Exchange — at 100 TB this deletes the dominant cost
of the pipeline (a full-fact shuffle) from every downstream query that
reuses the key.  tests/test_plans.py::test_bucketed_* pins the
no-shuffle plans.

The reference has no analog: partitioning is fixed at Kafka-topic
creation (SURVEY §2.1 S3 ``PARTITIONS``) and ksqlDB co-partitioning is a
runtime requirement on topics; here the layout is a property of the
stored table that Catalyst exploits automatically.

Sizing rule: pick ``num_buckets`` so one bucket of the LARGEST co-
bucketed table fits an executor's task comfortably (~128-512 MB) —
bucket counts must match across join sides (Spark does not coalesce
mismatched buckets by default), so choose for the biggest table and let
small tables ride along.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    num_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a managed parquet table hash-bucketed on ``keys``
    and sorted on them within each bucket file, so a later sort-merge
    join on the keys skips its Sort too.
    """
    if num_buckets <= 0:
        raise ValueError(f"num_buckets must be positive, got {num_buckets}")
    if not keys:
        raise ValueError("bucketing requires at least one key column")
    # One file per bucket: repartition on the same hash the bucketer
    # uses, so each write task holds exactly one bucket — the
    # small-files guard (writer-task count would otherwise multiply
    # into the file count).  Note the within-bucket sort still shows as
    # a (cheap, shuffle-free) Sort before merge joins: since Spark 3.1
    # the scan does not advertise bucket-sort order unless the legacy
    # flag spark.sql.legacy.bucketedTableScanOutputOrdering is set; the
    # sortBy still pays for itself via parquet min/max data skipping.
    (
        df.repartition(num_buckets, *keys)
        .write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table — metadata (bucket spec) comes from the
    catalog, which is what lets Catalyst elide the Exchange."""
    return spark.table(table)


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
) -> int:
    """Rewrite a (possibly many-small-files) parquet table directory into
    ~``target_file_mb`` files — the maintenance job every streaming
    sink needs: micro-batches each append a file per partition, and a
    week of 30 s triggers is ~20k tiny files whose open/seek overhead
    dominates scan time long before 100 TB.

    Returns the file count written.  The rewrite stages to a sibling
    directory then swaps via rename, so readers never see a half
    -compacted table (same discipline as keyed_table_sink).  On a
    cluster the staging/swap becomes the table format's transactional
    rewrite (Delta OPTIMIZE / Iceberg rewrite_data_files); this is the
    dependency-free parquet variant.
    """
    import math
    import os

    size_b = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )
    n_files = max(1, math.ceil(size_b / (target_file_mb * 1024 * 1024)))
    _write_swapped(spark.read.parquet(path).repartition(n_files), path)
    return n_files


def _write_swapped(df: DataFrame, path: str) -> None:
    """Write ``df`` as parquet to the sibling ``<path>.staging``, then
    rename it into ``path`` (moving any existing table aside first), so
    readers never see a half-written table.  ``df`` may read ``path``
    itself: it is fully written before the swap."""
    import os
    import shutil

    base = path.rstrip("/")
    staged, old = base + ".staging", base + ".old"
    df.write.mode("overwrite").parquet(staged)
    if os.path.exists(base):
        os.rename(base, old)
    os.rename(staged, base)
    shutil.rmtree(old, ignore_errors=True)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    order_col: str | None = None,
) -> None:
    """Batch MERGE INTO for a keyed parquet table: upsert ``updates``
    by key, deleting keys whose update row is a tombstone (all non-key,
    non-order columns NULL) — the batch twin of the streaming
    keyed_table_sink, sharing its deterministic survivor rule
    (streaming/windows.compact_changelog_batch) so a backfill job and
    the live stream compact identically.

    Equivalent to:
      MERGE INTO target USING updates ON <keys>
        WHEN MATCHED AND <all-null> THEN DELETE
        WHEN MATCHED THEN UPDATE SET *  WHEN NOT MATCHED THEN INSERT *

    Local implementation is read-merge-rewrite with a staged atomic
    swap (single-writer; readers never see a half-merged table).  On a
    cluster this body IS the Delta/Iceberg MERGE above — partition or
    bucket the table on a key prefix so the merge rewrites only
    affected files, and the anti-join side stays a broadcast when the
    update batch is small.
    """
    import os

    from ..streaming.windows import compact_changelog_batch

    value_cols = [c for c in updates.columns if c not in keys]
    batch_keys, upserts = compact_changelog_batch(
        updates, keys, value_cols, order_col
    )
    if os.path.exists(path):
        current = spark.read.schema(updates.schema).parquet(path)
        merged = current.join(
            batch_keys, on=keys, how="left_anti"
        ).unionByName(upserts)
    else:
        merged = upserts
    _write_swapped(merged, path)


def zorder_value(cols: list, bits: int = 16):
    """Morton (Z-order) interleave of ``len(cols)`` NON-NEGATIVE integer
    rank columns into one BIGINT sort key.  Bit i of every dimension
    lands at position i·d + dim_index, so sorting by the result gives
    locality in ALL dimensions at once — the multi-dimensional
    clustering trick behind Delta/Iceberg OPTIMIZE ZORDER.

    Inputs must already be bounded ranks in [0, 2^bits): at scale derive
    them once per column with ``F.ntile`` over a sampled CDF or
    ``distributed_ntile`` (operators/dataset.py) so value skew cannot
    starve bit positions.  bits·d must stay ≤ 63.  Pure bit arithmetic —
    codegen, no shuffle of its own.
    """
    from pyspark.sql import functions as F

    d = len(cols)
    if bits * d > 63:
        raise ValueError(f"{bits} bits x {d} dims overflows BIGINT")
    if all(isinstance(c, str) for c in cols):
        # bits x d bit-extract terms as ONE text parse (the Column loop
        # was ~10 py4j round trips per bit-position — measured 2.1k for
        # the zorder query); exact integer math, tree shape unchanged
        z = "CAST(0 AS BIGINT)"
        for i in range(bits):
            for j, c in enumerate(cols):
                bit = f"(SHIFTRIGHT(CAST(`{c}` AS BIGINT), {i}) & 1)"
                z = f"({z} | SHIFTLEFT({bit}, {i * d + j}))"
        return F.expr(z)
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, c in enumerate(cols):
            src = F.col(c) if isinstance(c, str) else c
            bit = F.shiftright(src.cast("bigint"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * d + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    target_files: int = 32,
) -> None:
    """Persist ``df`` clustered along a Z-order curve over
    ``zorder_cols``: range-partition + sort by the interleaved key, so
    every output file owns a compact hyper-rectangle of the key space
    and parquet min/max stats on EACH zorder column become selective —
    a point/range filter on ANY of the columns prunes most files at
    scan time (one layout serves all of them, where a plain sort serves
    only its leading column).

    One range-exchange (sampled boundaries, no global single-partition
    sort).  The z key is computed from per-column ranks; here the rank
    is the raw value clamped to [0, 2^bits) — callers with unbounded or
    skewed domains should pre-rank (see :func:`zorder_value`).
    """
    from pyspark.sql import functions as F

    cap = (1 << bits) - 1
    ranks = [
        F.least(
            F.lit(cap),
            F.greatest(F.lit(0), F.col(c).cast("bigint")),
        ).alias(f"_zr_{c}")
        for c in zorder_cols
    ]
    z = zorder_value([f"_zr_{c}" for c in zorder_cols], bits)
    (
        df.select("*", *ranks)
        .withColumn("_z", z)
        .repartitionByRange(target_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *[f"_zr_{c}" for c in zorder_cols])
        .write.mode("overwrite")
        .parquet(path)
    )


def file_stats(spark: SparkSession, path: str) -> "DataFrame":
    """Physical-file audit of a parquet table: (file, bytes, rows) plus
    a small-file flag — the input to a :func:`compact_table` decision.
    Row counts come from parquet FOOTERS read driver-side with pyarrow
    (metadata only — no row groups decoded); byte sizes from a
    driver-side filesystem listing.  LOCAL-FILESYSTEM ONLY, same caveat
    as incremental_read: on an object store, swap the glob for the
    store's listing API (the footer read stays metadata-only either
    way).  Output cardinality = file count — this is a table you look
    at, not a dataflow stage.  (For a distributed metadata-served
    count, see tests/test_plans.py's PushedAggregation gate — that
    mechanism is a different, per-query opt-in.)
    """
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    files = sorted(
        p
        for p in _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if not files:
        raise ValueError(f"no parquet files under {path}")
    sizes = [(p, _os.path.getsize(p)) for p in files]
    rows = []
    import pyarrow.parquet as pq

    for p, b in sizes:
        rows.append((p, b, pq.read_metadata(p).num_rows))
    out = spark.createDataFrame(rows, "file string, bytes long, rows long")
    # threshold relative to the LARGEST file: a fragmented table is
    # mostly small files, so any central-tendency cut collapses to the
    # fragment size and flags nothing.  In production compare against
    # the target file size (compact_table's) instead.
    max_bytes = max(b for _, b, _ in rows)
    return out.withColumn(
        "small_file",
        F.col("bytes") < F.lit(max(max_bytes // 4, 1)),
    )
