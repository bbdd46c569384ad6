"""KsqlContext analog — session + catalog + derived-query registry.

The reference's context boot (SURVEY.md §3.1) registers entity schemas,
emits DDL to ksqlDB and stabilizes persistent queries
(/root/reference/src/Context/KsqlContext.Lifecycle.cs:210-341).  On Spark
the same lifecycle collapses to: build a SparkSession, register each
entity as a catalog view over its storage, and start one checkpointed
streaming query per derived entity (handled in
:mod:`ksql_linq_spark.streaming`).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

from .entity import Entity
from .query.builder import Query, from_df

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class SparkKsqlContext:
    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        self.data_dir = data_dir
        self._entities: dict[str, Entity] = {}
        self._derived: dict[str, Callable[[SparkSession], DataFrame]] = {}

    # -- model building (OnModelCreating analog) -------------------------
    def register_entity(
        self,
        entity: Entity,
        path: str | None = None,
        validation: str | None = "relaxed",
    ) -> list[str]:
        """Entity<T>() — bind a schema to a storage location as a view.

        Startup schema validation (the reference runs this against the
        Schema Registry before any query starts,
        src/SchemaRegistryTools/DecimalSchemaValidator.cs +
        src/Context/KsqlContext.Schema.cs): when storage exists, the
        declared schema is checked against the parquet footer —
        ``"strict"`` raises on any mismatch, ``"relaxed"`` (default)
        adopts observed decimal precision and returns warnings, ``None``
        skips.  Returns the warning list (empty when clean/skipped)."""
        warnings: list[str] = []
        if path is None and self.data_dir is not None:
            path = os.path.join(self.data_dir, f"{entity.topic}.parquet")
        if validation is not None and path is not None and os.path.exists(path):
            from .schema_evolution import validate_entity

            observed = self.spark.read.parquet(path).schema
            entity, warnings = validate_entity(entity, observed, mode=validation)
        self._entities[entity.name] = entity
        if path is not None and os.path.exists(path):
            df = self.spark.read.schema(entity.schema).parquet(path)
            df.createOrReplaceTempView(entity.name)
        return warnings

    def register_parquet_dir(self, data_dir: str, tables: list[str] | None = None) -> None:
        """Register every driver table in ``data_dir`` as a temp view,
        with the same nanosecond-timestamp normalization as
        sources.read_table (events.ts is TIMESTAMP(NANOS) on disk — a raw
        read would surface it as BIGINT and silently break time ops)."""
        from .sources import read_table

        self.data_dir = data_dir
        for name in tables or TABLES:
            p = os.path.join(data_dir, f"{name}.parquet")
            if os.path.exists(p):
                read_table(self.spark, data_dir, name).createOrReplaceTempView(name)

    def to_query(self, name: str, fn: Callable[["SparkKsqlContext"], Query | DataFrame]) -> None:
        """ToQuery(...) — attach a derived entity defined by a query
        (EntityModel.QueryModel, /root/reference/src/Context/KsqlContext.Model.cs:202-368).
        Materialized as a temp view immediately (batch analog of CSAS/CTAS)."""
        out = fn(self)
        df = out.to_df() if isinstance(out, Query) else out
        df.createOrReplaceTempView(name)
        self._derived[name] = lambda spark: df

    # -- access ----------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def from_(self, name: str, strict: bool = True) -> Query:
        """From<T>() root."""
        return from_df(self.spark.table(name), name=name, strict=strict)

    def entity(self, name: str) -> Entity:
        return self._entities[name]

    def entity_set(self, name: str, path: str | None = None,
                   is_stream: bool = False) -> "EventSet":
        """Typed EventSet<T> handle for one registered entity.

        ``path`` is the writable storage location (required for add());
        reads go through the catalog view either way.
        """
        if is_stream and self._entities[name].is_table:
            raise ValueError(
                f"entity {name!r} is [KsqlTable]-marked: table entities are "
                "keyed upserts, not streams"
            )
        return EventSet(self, self._entities[name], path=path, is_stream=is_stream)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Plain loader used by __spark_entry__ / bench: name -> DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            out[name] = spark.read.parquet(p)
    return out


class EventSet:
    """Typed per-entity handle — EventSet<T> analog
    (/root/reference/src/EntitySets/EventSet.cs:22-635).

    Batch collapse of the reference's surface:
    - ``add(rows)``        ≙ AddAsync: append typed rows to the entity's
      storage (produce).
    - ``to_list(...)``     ≙ ToListAsync: materialize a TABLE; raises on
      stream-mode entities (EventSet.cs:128-129 guard) and on the DLQ
      (:125-126).
    - ``map(fn)``          ≙ Map: eager transform into a derived frame.
    - ``for_each_batch``   ≙ ForEachAsync: streaming consume with retry /
      DLQ policy (delegates to streaming.consume.Consumer).
    - ``on_error(action)`` ≙ OnError: Skip / Retry / DLQ per entity;
      banned on the DLQ stream itself (EventSetExtensions.cs:21-23).
    """

    DLQ_NAME = "dlq"

    def __init__(self, ctx: "SparkKsqlContext", entity: Entity,
                 path: str | None = None, is_stream: bool = False):
        self._ctx = ctx
        self._entity = entity
        self._path = path
        self._is_stream = is_stream
        self._error_action = None

    @property
    def df(self) -> DataFrame:
        return self._ctx.table(self._entity.name)

    def add(self, rows: list) -> None:
        """Append rows, validated on the driver against the entity schema
        exactly as ``createDataFrame(rows, schema)`` validates them.

        The batch goes to Spark as an Arrow table: a frame built from the
        row list is a Python RDD, and its write has to run Python workers
        (on a 4-core host a one-row add took about 0.55 s that way and
        0.2 s from Arrow)."""
        if self._path is None:
            raise ValueError(f"entity {self._entity.name!r} has no storage path")
        schema = self._entity.schema
        rows = list(rows)
        verify = _make_type_verifier(schema)
        for r in rows:
            verify(r)
        table = (LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False)
                 if rows else to_arrow_schema(schema).empty_table())
        batch = self._ctx.spark.createDataFrame(table, schema)
        batch.write.mode("append").parquet(self._path)
        # refresh the catalog view over the storage
        self._ctx.spark.read.schema(schema).parquet(
            self._path
        ).createOrReplaceTempView(self._entity.name)

    def to_list(self, limit: int | None = None):
        if self._is_stream:
            raise RuntimeError(
                f"ToListAsync is not supported on stream entities "
                f"({self._entity.name}); consume with for_each_batch instead"
            )
        if self._entity.name == self.DLQ_NAME:
            raise RuntimeError("ToListAsync is not supported on the DLQ stream")
        df = self.df
        if limit is not None:
            df = df.limit(limit)
        return df.collect()

    def map(self, fn: Callable[[DataFrame], DataFrame]) -> DataFrame:
        return fn(self.df)

    def on_error(self, action) -> "EventSet":
        if self._entity.name == self.DLQ_NAME:
            raise RuntimeError("OnError(DLQ) is not allowed on the DLQ stream")
        self._error_action = action
        return self

    def for_each(self, stream_df: DataFrame, action, checkpoint: str,
                 **consumer_kw):
        """ForEachAsync: streaming consume with this entity's error
        action (retry / DLQ policy handled by streaming.consume.Consumer)."""
        from .streaming.consume import Consumer, ErrorAction

        consumer = Consumer(
            source_name=self._entity.name,
            on_error=self._error_action or ErrorAction.DLQ,
            **consumer_kw,
        )
        return consumer.start(
            stream_df, action, checkpoint, query_name=self._entity.name
        )
