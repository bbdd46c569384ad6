"""Pure-python Avro binary serde — the jar-free twin of the spark-avro
path (``sources.avro_decode`` / ``avro_encode``).

The reference's entire wire format is Schema-Registry Avro
(/root/reference/src/Mapping/MappingRegistry.cs:46-257 builds the
per-entity Avro schema; /root/reference/src/SerDes/TombstoneSafeSerDes.cs
frames values Confluent-style).  The spark-avro connector jar is not in
this container, so this module implements the Avro *binary encoding*
(spec: https://avro.apache.org/docs/1.11.1/specification/ — zigzag
varints, little-endian IEEE floats, length-prefixed bytes/strings) in
pure python, exposed two ways:

- :func:`encode_record` / :func:`decode_record` — per-record bytes <->
  dict, used by tests and fixture generation;
- :func:`avro_decode_pandas` — an Arrow-batched ``mapInPandas`` plan
  over a BINARY column, the distributed decode path when the jar is
  absent.  Python-per-record, so it is the SLOW path — deployments add
  the spark-avro package and get JVM decode via ``sources.avro_decode``;
  this fallback keeps the wire format exercised (and usable) anywhere.

Supported schema subset (what MappingRegistry emits for POCO entities):
records of primitives (null/boolean/int/long/float/double/string/bytes)
and 2-branch ``["null", primitive]`` unions.  Nested records/arrays are
out of scope here — the JVM path covers them.

Confluent wire framing: magic byte 0x00 + 4-byte big-endian schema id +
Avro binary body.  :func:`strip_confluent_header` / :func:`frame_confluent`
implement it symmetrically.
"""

from __future__ import annotations

import io
import json
import struct
from typing import Any, Iterator

PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "string", "bytes"}


# ---------------------------------------------------------------------- varint


def _write_long(out: io.BytesIO, n: int) -> None:
    """Zigzag + base-128 varint (Avro int/long encoding)."""
    z = (n << 1) ^ (n >> 63)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise EOFError("truncated varint")
        b = raw[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


# ---------------------------------------------------------------- primitives


def _write_value(out: io.BytesIO, typ: str, v: Any) -> None:
    if typ == "null":
        return
    if typ == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif typ in ("int", "long"):
        _write_long(out, int(v))
    elif typ == "float":
        out.write(struct.pack("<f", float(v)))
    elif typ == "double":
        out.write(struct.pack("<d", float(v)))
    elif typ == "string":
        enc = str(v).encode("utf-8")
        _write_long(out, len(enc))
        out.write(enc)
    elif typ == "bytes":
        _write_long(out, len(v))
        out.write(bytes(v))
    else:
        raise ValueError(f"unsupported avro type {typ!r}")


def _read_value(buf: io.BytesIO, typ: str) -> Any:
    if typ == "null":
        return None
    if typ == "boolean":
        return buf.read(1) == b"\x01"
    if typ in ("int", "long"):
        return _read_long(buf)
    if typ == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if typ == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if typ == "string":
        n = _read_long(buf)
        return buf.read(n).decode("utf-8")
    if typ == "bytes":
        n = _read_long(buf)
        return buf.read(n)
    raise ValueError(f"unsupported avro type {typ!r}")


# ------------------------------------------------------------------- records


def _fields(schema: dict | str) -> list[tuple[str, Any]]:
    if isinstance(schema, str):
        schema = json.loads(schema)
    if schema.get("type") != "record":
        raise ValueError("top-level schema must be a record")
    return [(f["name"], f["type"]) for f in schema["fields"]]


def encode_record(schema: dict | str, rec: dict) -> bytes:
    """dict -> Avro binary body (no framing)."""
    out = io.BytesIO()
    for name, typ in _fields(schema):
        v = rec.get(name)
        if isinstance(typ, list):  # ["null", X] union: branch index first
            if v is None:
                _write_long(out, typ.index("null"))
            else:
                branch = next(t for t in typ if t != "null")
                _write_long(out, typ.index(branch))
                _write_value(out, branch, v)
        else:
            _write_value(out, typ, v)
    return out.getvalue()


def decode_record(schema: dict | str, body: bytes) -> dict:
    """Avro binary body -> dict (no framing)."""
    buf = io.BytesIO(body)
    rec: dict[str, Any] = {}
    for name, typ in _fields(schema):
        if isinstance(typ, list):
            idx = _read_long(buf)
            rec[name] = _read_value(buf, typ[idx])
        else:
            rec[name] = _read_value(buf, typ)
    return rec


# ----------------------------------------------------------- confluent frame


def frame_confluent(body: bytes, schema_id: int) -> bytes:
    """magic 0x00 + 4-byte BE schema id + body (Schema Registry framing)."""
    return b"\x00" + struct.pack(">I", schema_id) + body


def strip_confluent_header(framed: bytes) -> tuple[int, bytes]:
    """Returns (schema_id, body); raises on a non-Confluent frame."""
    if len(framed) < 5 or framed[0] != 0:
        raise ValueError("not a Confluent-framed Avro value")
    return struct.unpack(">I", framed[1:5])[0], framed[5:]


# ------------------------------------------------------------- spark adapter


def avro_decode_pandas(df, value_col: str, schema_json: str):
    """Distributed jar-free Avro decode: BINARY column -> typed columns
    via ``mapInPandas`` (Arrow batches in/out; python only per record —
    the slow-but-always-available path; prefer ``sources.avro_decode``
    when the spark-avro jar is present).

    Output schema: the record's fields mapped to Spark types, with
    nullable union branches nullable.  Values are Confluent-framed
    (:func:`strip_confluent_header`).  Undecodable values, unframed ones
    included, yield a NULL row body plus the raw bytes in ``_corrupt``
    (DLQ discipline, same as the text readers)."""
    import pandas as pd
    from pyspark.sql import types as T

    _SPARK_T = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "bytes": T.BinaryType(),
    }
    fields = _fields(schema_json)
    out_fields = []
    for name, typ in fields:
        branch = next(t for t in typ if t != "null") if isinstance(typ, list) else typ
        out_fields.append(T.StructField(name, _SPARK_T[branch], True))
    out_schema = T.StructType(out_fields + [T.StructField("_corrupt", T.BinaryType(), True)])
    names = [name for name, _ in fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for raw in b[value_col]:
                try:
                    body = strip_confluent_header(bytes(raw))[1]
                    rec = decode_record(schema_json, body)
                    rows.append([rec.get(n) for n in names] + [None])
                except Exception:
                    rows.append([None] * len(names) + [bytes(raw)])
            yield pd.DataFrame(rows, columns=names + ["_corrupt"])

    return df.select(value_col).mapInPandas(gen, schema=out_schema)
