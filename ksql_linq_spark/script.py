"""Design-time script export (parity with src/Ksql.Linq.Cli).

The reference CLI has two design-time commands
(/root/reference/src/Ksql.Linq.Cli/Commands/ScriptCommand.cs,
AvroCommand.cs): ``script`` renders the full KSQL DDL a context would
deploy (CREATE STREAM/TABLE + CSAS/CTAS), ``avro`` exports each entity's
key/value Avro schemas (separate subjects —
/root/reference/src/Mapping/KeyValueTypeMapping.cs:19-40).

Spark-first equivalents:

- Entities render as executable ``CREATE TABLE ... USING parquet`` DDL
  (keys/timestamp/topic carried in TBLPROPERTIES — Spark has no KEY
  column clause; partitioning/grouping replace physical keys, SURVEY §1.2).
- Derived entities have no SQL source to print — a DataFrame's analyzed
  logical plan IS the design-time artifact (expression trees -> KSQL text
  in the reference ≙ DataFrame -> Catalyst plan here), so the script
  embeds each derived view's analyzed plan as a comment block.
- Avro schemas are generated directly from the entity schema with the
  reference's wire conventions: epoch-millis timestamps
  (KsqlTypeMapping.cs:63-64), bytes+logicalType decimals, nullable
  columns as ``["null", T]`` unions.
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING

from pyspark.sql import types as T

from .entity import Entity

if TYPE_CHECKING:  # pragma: no cover
    from .context import SparkKsqlContext

_SQL_TYPES: dict[type, str] = {
    T.IntegerType: "INT",
    T.ShortType: "SMALLINT",
    T.LongType: "BIGINT",
    T.DoubleType: "DOUBLE",
    T.FloatType: "FLOAT",
    T.StringType: "STRING",
    T.BooleanType: "BOOLEAN",
    T.TimestampType: "TIMESTAMP",
    T.DateType: "DATE",
    T.BinaryType: "BINARY",
}


def _sql_type(dt: T.DataType) -> str:
    if type(dt) in _SQL_TYPES:
        return _SQL_TYPES[type(dt)]
    return dt.simpleString().upper()  # decimal(p,s), array<...>, map<...>


def create_table_ddl(entity: Entity, location: str | None = None) -> str:
    """S3/S4 analog of DDLQueryGenerator.GenerateCreateStream/Table
    (/root/reference/src/Query/Pipeline/DDLQueryGenerator.cs:50-126) —
    executable Spark SQL for a parquet table."""
    cols = ",\n".join(
        f"  {c.name} {_sql_type(c.spark_type)}"
        + ("" if c.nullable else " NOT NULL")
        for c in entity.columns
    )
    props = {
        "ksql.topic": entity.topic,
        "ksql.partitions": str(entity.partitions),
        "ksql.replicas": str(entity.replication_factor),
    }
    if entity.key_columns:
        props["ksql.key.columns"] = ",".join(entity.key_columns)
    if entity.timestamp_column:
        props["ksql.timestamp.column"] = entity.timestamp_column
    prop_sql = ", ".join(f"'{k}' = '{v}'" for k, v in sorted(props.items()))
    loc = f"\nLOCATION '{location}'" if location else ""
    return (
        f"CREATE TABLE IF NOT EXISTS {entity.name} (\n{cols}\n)\n"
        f"USING parquet{loc}\nTBLPROPERTIES ({prop_sql});"
    )


def ddl_script(ctx: "SparkKsqlContext", header: bool = True) -> str:
    """Full design-time script: entity DDL + derived-view plans
    (ScriptCommand analog; --no-header ≙ ``header=False``)."""
    parts: list[str] = []
    if header:
        parts.append(
            "-- Generated by ksql_linq_spark design-time export\n"
            "-- Entities render as executable Spark DDL; derived entities\n"
            "-- show their analyzed Catalyst plan (the Spark-native CSAS/CTAS).\n"
        )
    for name, ent in sorted(ctx._entities.items()):
        parts.append(create_table_ddl(ent))
    for name in sorted(ctx._derived):
        df = ctx.table(name)
        plan = df._jdf.queryExecution().analyzed().toString()
        commented = "\n".join("--   " + l for l in plan.splitlines())
        parts.append(
            f"-- DERIVED ENTITY {name} (CREATE OR REPLACE TEMP VIEW {name} AS ...)\n"
            f"-- analyzed plan:\n{commented}"
        )
    return "\n\n".join(parts) + "\n"


# ---------------------------------------------------------------------------
# Avro export (AvroCommand analog)
# ---------------------------------------------------------------------------


def _avro_type(dt: T.DataType) -> object:
    if isinstance(dt, T.IntegerType) or isinstance(dt, T.ShortType):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.TimestampType):
        # epoch-ms on the wire (KsqlTypeMapping.cs:63-64)
        return {"type": "long", "logicalType": "timestamp-millis"}
    if isinstance(dt, T.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if isinstance(dt, T.ArrayType):
        return {"type": "array", "items": _avro_type(dt.elementType)}
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise ValueError("Avro maps require string keys")
        return {"type": "map", "values": _avro_type(dt.valueType)}
    raise ValueError(f"no Avro mapping for {dt.simpleString()}")


def avro_value_schema(entity: Entity) -> dict:
    fields = []
    for c in entity.columns:
        t = _avro_type(c.spark_type)
        fields.append(
            {"name": c.name, "type": ["null", t] if c.nullable else t}
            | ({"default": None} if c.nullable else {})
        )
    return {"type": "record", "name": f"{entity.name}_value", "fields": fields}


def avro_key_schema(entity: Entity) -> dict:
    """Separate key subject over the [KsqlKey]-ordered columns; keys are
    non-nullable by construction (KeyValueTypeMapping.cs:19-40)."""
    by_name = {c.name: c for c in entity.columns}
    fields = [
        {"name": k, "type": _avro_type(by_name[k].spark_type)}
        for k in entity.key_columns
    ]
    return {"type": "record", "name": f"{entity.name}_key", "fields": fields}


def avro_export(ctx: "SparkKsqlContext") -> dict[str, dict]:
    """{'<entity>-key': schema, '<entity>-value': schema} — the Schema
    Registry subject layout the reference registers."""
    out: dict[str, dict] = {}
    for name, ent in sorted(ctx._entities.items()):
        if ent.key_columns:
            out[f"{name}-key"] = avro_key_schema(ent)
        out[f"{name}-value"] = avro_value_schema(ent)
    return out


def export_json(ctx: "SparkKsqlContext") -> str:
    return json.dumps(avro_export(ctx), indent=2, sort_keys=True)
