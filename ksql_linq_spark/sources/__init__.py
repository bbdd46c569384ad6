"""Source adapters (SURVEY.md §2.1).

Batch path: parquet (the driver's data) with nanosecond-timestamp
normalization.  Spark cannot read parquet INT64(TIMESTAMP(NANOS)) columns
natively — ``spark.sql.legacy.parquet.nanosAsLong`` reads them as raw
nanos, and :func:`read_table` converts to Spark's native microsecond
TIMESTAMP by integer ``DIV 1000`` (floor — matching DuckDB's ns→µs read
truncation, so oracle comparisons agree to the microsecond).

Streaming sources (rate/file/kafka) for the Structured Streaming path
live in :func:`read_stream`; Kafka needs its connector jar on the
classpath so it is import-try gated.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# columns stored as TIMESTAMP(NANOS) in the driver parquet, per table
_NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def _ensure_nanos_conf(spark: SparkSession) -> None:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver parquet stores timestamps with isAdjustedToUTC=false which
        # Spark ≥3.4 infers as TIMESTAMP_NTZ — a type `withWatermark`,
        # `unix_seconds`, and interval arithmetic all reject.  Read them as
        # plain TIMESTAMP instead (session tz is UTC, so wall-clock values
        # are numerically identical to DuckDB's naive read).
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # locked static conf — fall back to whatever the session has


def _normalize_ts(df: DataFrame, name: str) -> DataFrame:
    """Convert table ``name``'s nanos-as-BIGINT columns to µs TIMESTAMP
    by ``DIV 1000``, then cast any TIMESTAMP_NTZ column to TIMESTAMP
    (fallback when the scan happened before the inferTimestampNTZ conf
    applied).  Under a UTC session tz the cast is value-preserving."""
    for col in _NANOS_TS_COLS.get(name, []):
        f = dict(zip(df.schema.names, df.schema.fields))[col]
        if isinstance(f.dataType, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    casts = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    for c in casts:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Unresolved-PLAN cache for read_table, keyed by (Spark application id,
# sf_dir, table).  A DataFrame is an immutable logical plan, not data:
# every action on it still lists/scans the parquet files at execution
# time, so this caches no results — it only avoids re-running schema
# inference (a driver-side footer read) and the ns-normalization column
# rewrites on every call.  In a long-lived session the engine reads the
# same handful of tables hundreds of times per request batch; the
# inference cost is pure per-query constant overhead (guide §6 file-
# listing caching is the same idea one level down).  Keyed by appId so
# a stopped/restarted session never sees another JVM's plan objects.
_TABLE_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def evict_foreign_apps(cache: dict, app_id: str, bound: int) -> None:
    """Once ``cache`` holds more than ``bound`` entries, drop those of
    every Spark application other than ``app_id`` (keys are tuples whose
    first element is the application id).  Entries of stopped
    applications each pin a dead session's plan graph; the active
    application's entries stay."""
    if len(cache) > bound:
        for key in [k for k in cache if k[0] != app_id]:
            del cache[key]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table; normalize ns timestamps to µs TIMESTAMP."""
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        app_id = None  # context shutting down — build uncached
    key = (app_id, sf_dir, name)
    if app_id is not None and key in _TABLE_PLAN_CACHE:
        return _TABLE_PLAN_CACHE[key]
    _ensure_nanos_conf(spark)
    df = _normalize_ts(
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")), name
    )
    if app_id is not None:
        evict_foreign_apps(_TABLE_PLAN_CACHE, app_id, 256)  # ~tables x sf_dirs
        _TABLE_PLAN_CACHE[key] = df
    return df


def read_stream_from_table(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """File-based streaming source over a driver table (test/dev path).

    S1 analog when no Kafka is available: replays the parquet file through
    Structured Streaming, one file per trigger, with the same ns
    normalization.
    """
    _ensure_nanos_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    batch = spark.read.parquet(path)
    if os.path.isfile(path):
        # the streaming file source requires a directory: expose the file
        # through a symlink dir (dev/test-only path; real deployments
        # stream from directories/Kafka anyway), one per source file,
        # shared by every stream over it
        real = os.path.abspath(path)
        d = os.path.join(tempfile.gettempdir(), f"stream_{name}_"
                         f"{hashlib.sha1(real.encode()).hexdigest()[:16]}")
        os.makedirs(d, exist_ok=True)
        try:
            os.symlink(real, os.path.join(d, f"{name}.parquet"))
        except FileExistsError:
            pass
        path = d
    df = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    return _normalize_ts(df, name)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """Options contract for the S1 Kafka source — validated and built
    as a plain dict so the wiring is unit-testable without a broker or
    the connector jar (the execution path is environment-gated)."""
    if not bootstrap_servers:
        raise ValueError("kafka_source: bootstrap_servers must be non-empty")
    if not topic:
        raise ValueError("kafka_source: topic must be non-empty")
    if starting_offsets not in ("latest", "earliest") and not (
        starting_offsets.lstrip().startswith("{")
    ):
        raise ValueError(
            "kafka_source: starting_offsets must be 'latest', 'earliest', "
            f"or a per-partition offset JSON object, got {starting_offsets!r}"
        )
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame | None:
    """S1 Kafka topic source — requires the spark-sql-kafka connector jar.

    Reference: [KsqlTopic] consumer binding
    (/root/reference/src/Core/Attributes/KsqlTopicAttribute.cs:8-30).
    Returns None when the connector is not on the classpath.
    """
    opts = kafka_source_options(bootstrap_servers, topic, starting_offsets)
    try:
        return spark.readStream.format("kafka").options(**opts).load()
    except Exception:
        return None


def to_kafka_records(df: DataFrame, key_col: str = "key") -> DataFrame:
    """Shape any frame into Kafka's wire projection — key cast to
    STRING, value = JSON of every column (the reference's
    ``value_format='JSON'`` contract, KsqlWithOptions).  Split out of
    :func:`kafka_sink` so the record shaping is testable without a
    broker or the connector jar; the sink attaches only transport."""
    return df.selectExpr(
        f"CAST({key_col} AS STRING) AS key", "to_json(struct(*)) AS value"
    )


def kafka_sink_options(
    bootstrap_servers: str, topic: str, checkpoint: str
) -> dict[str, str]:
    """Options contract for the S2 Kafka sink (unit-testable shape of
    the jar-gated transport — same rationale as kafka_source_options).
    The checkpoint is mandatory: without it the sink cannot provide the
    reference's at-least-once producer guarantee across restarts."""
    if not bootstrap_servers:
        raise ValueError("kafka_sink: bootstrap_servers must be non-empty")
    if not topic:
        raise ValueError("kafka_sink: topic must be non-empty")
    if not checkpoint:
        raise ValueError("kafka_sink: checkpointLocation must be non-empty")
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def kafka_sink(df: DataFrame, bootstrap_servers: str, topic: str, checkpoint: str):
    """S2 Kafka topic sink (EventSet.AddAsync analog for streams)."""
    opts = kafka_sink_options(bootstrap_servers, topic, checkpoint)
    return to_kafka_records(df).writeStream.format("kafka").options(**opts)


def avro_decode(df: DataFrame, value_col: str, json_schema: str) -> DataFrame | None:
    """S1 Avro value decode (the reference's Schema-Registry Avro path,
    /root/reference/src/Mapping/MappingRegistry.cs:46-257 →
    spark-avro ``from_avro``).  Returns None when the spark-avro package
    is not on the classpath (it is not baked into this container —
    deployments add ``--packages org.apache.spark:spark-avro_2.13:<ver>``).
    Confluent wire format note: strip the 5-byte magic+schema-id prefix
    (``substring(value, 6, length-5)``) before decoding."""
    try:
        from pyspark.sql.avro.functions import from_avro

        out = df.withColumn("_decoded", from_avro(F.col(value_col), json_schema))
        out.schema  # force analysis so a missing jar fails here
        return out
    except Exception:
        return None


def avro_encode(df: DataFrame, struct_col: str) -> DataFrame | None:
    """S2 Avro value encode (``to_avro``); None when spark-avro is absent."""
    try:
        from pyspark.sql.avro.functions import to_avro

        out = df.withColumn("_encoded", to_avro(F.col(struct_col)))
        out.schema
        return out
    except Exception:
        return None


# ----------------------------------------------------------------------
# Text-format sources/sinks (SURVEY.md §2.1: the reference's WITH
# (value_format='JSON') surface, KsqlWithOptions; CSV as the standard
# interchange superset).  Explicit-schema discipline throughout: schema
# inference is a full extra pass over the data — unacceptable at 100 TB
# and nondeterministic under dirty rows — so every reader REQUIRES a
# StructType and routes unparseable rows to a `_corrupt` column
# (PERMISSIVE mode) instead of failing the job, mirroring the DLQ
# policy of the streaming path.
# ----------------------------------------------------------------------

# Spark's default JSON/CSV timestampFormat carries MILLISECONDS only —
# silently truncating parquet's microsecond timestamps on write.  Pin a
# microsecond format on both sides so text formats round-trip exactly.
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """Read JSON-lines with an explicit schema; malformed lines land in
    ``corrupt_col`` (null everywhere else) for DLQ routing rather than
    aborting.  Timestamps must be ISO-8601 (what :func:`write_jsonl`
    emits)."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("timestampFormat", _TS_FMT)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (ISO-8601 timestamps — round-trips through
    :func:`read_jsonl`)."""
    df.write.mode(mode).option("timestampFormat", _TS_FMT).json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt",
) -> DataFrame:
    """CSV with a header row and an explicit schema (never inferSchema —
    that is a full extra scan); malformed rows land in ``corrupt_col``."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("timestampFormat", _TS_FMT)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with a header row (round-trips through :func:`read_csv`)."""
    df.write.mode(mode).option("header", "true").option(
        "timestampFormat", _TS_FMT
    ).csv(path)


def incremental_read(
    spark,
    data_glob: str,
    manifest_path: str,
):
    """Manifest-tracked incremental parquet batch ingest — the batch twin of a
    streaming file source's checkpoint (Auto-Loader-lite): read ONLY
    files not yet recorded in the manifest, and expose an explicit
    ``commit()`` so the manifest advances exactly when the caller's
    write succeeds (crash before commit ⇒ the batch is re-read — at-
    least-once with idempotent sinks, the same contract as
    streaming/windows.idempotent_append_sink).

    Returns ``(df, new_files, commit)``; ``df`` is None when nothing is
    new.  Listing is driver-side over the glob (file COUNT, not data,
    bounds it); at real scale swap the glob for the storage system's
    listing API or notification queue — the manifest contract is the
    portable part.
    """
    import glob as _glob
    import json as _json
    import os as _os

    seen: set[str] = set()
    if _os.path.exists(manifest_path):
        with open(manifest_path) as f:
            for line in f:
                line = line.strip()
                if line:
                    seen.add(_json.loads(line)["file"])
    all_files = sorted(_glob.glob(data_glob))
    new_files = [p for p in all_files if p not in seen]

    def commit() -> None:
        _os.makedirs(_os.path.dirname(manifest_path) or ".", exist_ok=True)
        with open(manifest_path, "a") as f:
            for p in new_files:
                f.write(_json.dumps({"file": p}) + "\n")

    if not new_files:
        return None, [], commit
    return spark.read.parquet(*new_files), new_files, commit
