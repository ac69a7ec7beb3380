"""Avro schema JSON -> Spark StructType, and the one compile-time schema binder.

The reference binds Avro schemas to pipelines via the
``schemaString`` / ``schemaFile`` / ``schemaField`` triad
(KafkaDataProducerCommandBuilder.java:139-219, ToConnectDataBuilder.java:88-105,
EnrichJsonBuilder.java:110-136) and traverses unions-with-null, arrays, nested
records and the ``timestamp-millis`` logical type
(EnrichJsonBuilder.java:231-345).  This module performs the equivalent
compile-time conversion so the bound schema becomes a frame-wide StructType
(per SURVEY.md §1.3: Spark cannot carry a per-row schema object; we bind per
pipeline).  ``bind_schema`` is the only reader of a command's schema keys;
every command calls it once, in its builder.

Mapping follows the public Avro spec (avro.apache.org/docs/current/spec.html)
and mirrors what spark-avro's SchemaConverters does:
  null->NullType  boolean->Boolean  int->Integer  long->Long  float->Float
  double->Double  bytes->Binary  string->String  enum->String  fixed->Binary
  record->Struct  array->Array  map->Map(String, V)
  union ["null", T] -> nullable T      (general unions unsupported, like Spark)
  logical date->Date, time-millis/micros->Long/Long, timestamp-millis/micros
    ->Timestamp, decimal->Decimal(precision, scale)
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass
from typing import Any

from pyspark.sql import types as T

from kafka_connect_morphlines_spark import schema_registry
from kafka_connect_morphlines_spark.pipeline import PipelineSpecError

_PRIMITIVES: dict[str, T.DataType] = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


class AvroSchemaError(ValueError):
    pass


def avro_to_spark(schema: str | dict | list) -> T.DataType:
    """Convert an Avro schema (JSON string or parsed tree) to a Spark type."""
    if isinstance(schema, str):
        s = schema.strip()
        if s.startswith(("{", "[", '"')):
            return _convert(json.loads(s))
        return _convert(s)  # bare primitive name
    return _convert(schema)


def avro_struct(schema: str | dict) -> T.StructType:
    dt = avro_to_spark(schema)
    if not isinstance(dt, T.StructType):
        raise AvroSchemaError(f"expected an Avro record schema, got {dt.simpleString()}")
    return dt


@dataclass(frozen=True)
class BoundSchema:
    """A command's schema, resolved once at compile time by ``bind_schema``.

    ``avro_json`` is the Avro schema text (None when bound from Spark DDL or
    not configured); ``schema_id`` is the Confluent wire id; ``registry_url``
    is the configured registry, if any.  ``struct`` is the frame-wide
    StructType, derived on first use so that Avro-only commands also accept
    non-record schemas (e.g. a ``"string"`` key schema).
    """

    avro_json: str | None = None
    ddl: str | None = None
    schema_id: int | None = None
    registry_url: str | None = None

    @functools.cached_property
    def struct(self) -> T.StructType | None:
        if self.ddl is not None:
            return T.StructType.fromDDL(self.ddl)
        return None if self.avro_json is None else avro_struct(self.avro_json)


def bind_schema(config, ctx, prefix: str = "", avro: bool = False) -> BoundSchema:
    """Resolve a command's schema keys, first match wins:

    1. ``schemaDdl`` (Spark DDL), then ``schemaString`` (Avro JSON);
    2. ``schemaFile``, relative to the conf's directory (``ctx.base_dir``);
       Avro JSON if the text starts with ``{``, ``[`` or ``"``, else DDL;
    3. a registry URL (``schemaRegistryUrl`` or ``schema-registry-url``,
       top-level or under ``properties``) with ``schemaId``, else ``subject``.

    ``schemaId`` is also the Confluent wire id whichever step binds.  With
    ``prefix="key"`` the keys read ``keySchemaDdl`` ... ``keySubject`` (the
    registry URL is shared).  ``avro=True`` is for commands that need Avro
    JSON: a DDL schema there is a PipelineSpecError.
    """

    def key(name: str) -> str:
        return f"{prefix}{name[0].upper()}{name[1:]}" if prefix else name

    props = config.get("properties") or {}
    url = next((c[k] for c in (config, props) for k in ("schemaRegistryUrl", "schema-registry-url") if c.get(k)), None)
    sid = config.get(key("schemaId"))
    sid = None if sid is None else int(sid)
    bound = functools.partial(BoundSchema, schema_id=sid, registry_url=url)

    def ddl(text: str) -> BoundSchema:
        if avro:
            raise PipelineSpecError(
                f"this command needs an Avro schema ({key('schemaString')}, {key('schemaFile')} with Avro JSON, "
                f"or a registry with {key('schemaId')}/{key('subject')}), not Spark DDL"
            )
        return bound(ddl=text)

    if config.get(key("schemaDdl")) is not None:
        return ddl(config[key("schemaDdl")])
    text = config.get(key("schemaString"))
    if text is not None:
        return bound(avro_json=text if isinstance(text, str) else json.dumps(text))
    if config.get(key("schemaFile")) is not None:
        with open(os.path.join(ctx.base_dir, config[key("schemaFile")]), encoding="utf-8") as f:
            text = f.read()
        return bound(avro_json=text) if text.lstrip().startswith(("{", "[", '"')) else ddl(text)
    if url and sid is not None:
        return bound(avro_json=schema_registry.fetch_schema_by_id(url, sid))
    if url and config.get(key("subject")):
        return bound(avro_json=schema_registry.fetch_latest_schema(url, config[key("subject")]))
    return bound()


def _convert(node: Any) -> T.DataType:
    if isinstance(node, str):
        if node in _PRIMITIVES:
            return _PRIMITIVES[node]
        raise AvroSchemaError(f"unsupported/unresolved Avro type name {node!r}")
    if isinstance(node, list):  # union
        non_null = [n for n in node if n != "null"]
        if len(non_null) != 1:
            raise AvroSchemaError(f"only unions with null are supported, got {node!r}")
        return _convert(non_null[0])
    if not isinstance(node, dict):
        raise AvroSchemaError(f"bad Avro schema node: {node!r}")

    logical = node.get("logicalType")
    typ = node["type"]
    if logical:
        if logical == "date":
            return T.DateType()
        if logical in ("timestamp-millis", "timestamp-micros"):
            return T.TimestampType()
        if logical in ("time-millis", "time-micros"):
            return T.LongType()
        if logical == "decimal":
            return T.DecimalType(int(node.get("precision", 10)), int(node.get("scale", 0)))
        # unknown logical type: fall through to the underlying type

    if typ == "record":
        fields = []
        for f in node["fields"]:
            ftype = f["type"]
            nullable = _is_nullable(ftype)
            fields.append(T.StructField(f["name"], _convert(ftype), nullable))
        return T.StructType(fields)
    if typ == "array":
        items = node["items"]
        return T.ArrayType(_convert(items), containsNull=_is_nullable(items))
    if typ == "map":
        values = node["values"]
        return T.MapType(T.StringType(), _convert(values), valueContainsNull=_is_nullable(values))
    if typ == "enum":
        return T.StringType()
    if typ == "fixed":
        return T.BinaryType()
    return _convert(typ)


def _is_nullable(node: Any) -> bool:
    return isinstance(node, list) and "null" in node


def timestamp_millis_fields(schema: str | dict, prefix: str = "") -> list[str]:
    """Dotted paths of fields with the Avro ``timestamp-millis`` logical type.

    enrichJson parses ISO-8601 strings into epoch millis for such fields
    (EnrichJsonBuilder.java:292-317); callers use these paths to apply the
    same coercion.
    """
    if isinstance(schema, str):
        schema = json.loads(schema)
    out: list[str] = []

    def walk(node: Any, path: str) -> None:
        if isinstance(node, list):
            for n in node:
                if n != "null":
                    walk(n, path)
            return
        if not isinstance(node, dict):
            return
        if node.get("logicalType") == "timestamp-millis":
            out.append(path)
            return
        typ = node.get("type")
        if typ == "record":
            for f in node["fields"]:
                walk(f["type"], f"{path}.{f['name']}" if path else f["name"])
        elif typ == "array":
            walk(node["items"], path)
        elif isinstance(typ, (dict, list)):
            walk(typ, path)

    walk(schema, prefix)
    return out
