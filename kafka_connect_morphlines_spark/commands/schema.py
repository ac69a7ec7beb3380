"""Schema & format-bridge commands — the reference's Part-A operator set
(SURVEY.md §2 Part A): fromConnectData, toConnectData, enrichJson, plus the
Solr-shaped helpers generateSolrSequenceKey / sanitizeUnknownSolrFields.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, functions as F, types as T

from kafka_connect_morphlines_spark import record as R
from kafka_connect_morphlines_spark.avro_schema import bind_schema, timestamp_millis_fields
from kafka_connect_morphlines_spark.commands import command
from kafka_connect_morphlines_spark.pipeline import PipelineSpecError
from kafka_connect_morphlines_spark.templates import colref


@command("fromConnectData")
def from_connect_data(config, ctx):
    """Serialize the in-flight value into attachment bytes so downstream
    parsers can re-read it (reference FromConnectDataBuilder.java:93-121).

    converter=string -> raw bytes + text/plain (ref :103-105)
    converter=json   -> JSON bytes + application/json (ref :107-110)
    converter=avro   -> avro bytes + application/avro (ref :112-115; JVM
                        to_avro with the jar, else the pure-Python encoder
                        — which needs an Avro schema bound)
    """
    converter = config.get("converter", "avro")
    value_field = config.get("valueField", R.VALUE)
    charset = config.get("characterSet", "UTF-8")
    bound = bind_schema(config, ctx, avro=True) if converter == "avro" else None

    def transform(df: DataFrame) -> DataFrame:
        dtype = {f.name: f.dataType for f in df.schema.fields}.get(value_field)
        col = colref(value_field)
        if converter == "string":
            body, mime = F.encode(col.cast("string"), charset), "text/plain"
        elif converter == "json":
            if isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
                body = F.encode(F.to_json(col), charset)
            else:
                body = F.encode(col.cast("string"), charset)
            mime = "application/json"
        elif converter == "avro":
            from kafka_connect_morphlines_spark.commands.sinks import _avro_value_bytes  # noqa: PLC0415

            body, mime = _avro_value_bytes(df, col, dtype, bound), "application/avro"
        else:
            raise PipelineSpecError(f"unknown converter {converter!r}")
        return df.withColumns(
            {
                R.ATTACHMENT_BODY: body,
                R.ATTACHMENT_MIME: F.lit(mime),
                R.ATTACHMENT_CHARSET: F.lit(charset),
            }
        )

    return transform


def _cast_to(col: Column, dtype: T.DataType, source_type: T.DataType | None) -> Column:
    """Cast with Connect logical-type awareness (epoch-millis longs <-> Timestamp)."""
    if isinstance(dtype, T.TimestampType) and isinstance(source_type, (T.LongType, T.IntegerType)):
        return F.timestamp_millis(col.cast("long"))
    if isinstance(dtype, T.LongType) and isinstance(source_type, T.TimestampType):
        return F.unix_millis(col)
    if isinstance(dtype, T.StructType) and isinstance(source_type, T.StructType):
        children = [
            _cast_to(
                col.getField(f.name) if f.name in source_type.fieldNames() else F.lit(None),
                f.dataType,
                source_type[f.name].dataType if f.name in source_type.fieldNames() else None,
            ).alias(f.name)
            for f in dtype.fields
        ]
        return F.struct(*children)
    return col.cast(dtype)


@command("toConnectData")
def to_connect_data(config, ctx):
    """Declare the pipeline's typed output row (reference
    ToConnectDataBuilder.java:116-178).

    Rebuilds the value struct from record fields against the bound schema:
    for each target field, source = ``mappings[field]`` if mapped, else a
    top-level column of the same name, else the current value struct's child,
    else null — i.e. the *intended* projection semantics the reference left
    commented out (ToConnectDataBuilder.java:129-177) and its tests imply
    (SURVEY.md §5 "known looseness").
    """
    value_field = config.get("valueField", R.VALUE)
    mappings = {str(k): str(v) for k, v in config.get("mappings", {}).items()}
    target = bind_schema(config, ctx).struct
    if target is None:
        raise PipelineSpecError("toConnectData requires schemaString/schemaDdl/schemaFile")

    def transform(df: DataFrame) -> DataFrame:
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        value_type = dtypes.get(value_field)
        children = []
        for f in target.fields:
            src_name = mappings.get(f.name, f.name)
            if src_name in dtypes:
                child = _cast_to(colref(src_name), f.dataType, dtypes[src_name])
            elif isinstance(value_type, T.StructType) and src_name in value_type.fieldNames():
                child = _cast_to(colref(value_field).getField(src_name), f.dataType, value_type[src_name].dataType)
            else:
                child = F.lit(None).cast(f.dataType)
            children.append(child.alias(f.name))
        return df.withColumn(value_field, F.struct(*children))

    return transform


@command("enrichJson")
def enrich_json(config, ctx):
    """Schema-conformance of a JSON value against an Avro schema (reference
    EnrichJsonBuilder.java:145-177): keep only schema fields, null-fill
    missing ones, recurse into records, and parse ISO-8601 strings into epoch
    millis for ``timestamp-millis`` longs (ref :292-317).

    ``from_json`` natively drops unknown fields and null-fills missing ones;
    timestamp-millis fields are parsed as strings then coerced to epoch millis
    (accepting either ISO-8601 text or a numeric epoch, like the reference).
    Avro-JSON union wrapping (ref :265-287) only matters when feeding an
    Avro-JSON consumer and is intentionally not materialized in the native
    plan (SURVEY.md §2 mapping note).
    """
    value_field = config.get("valueField")
    if not value_field:
        raise PipelineSpecError("enrichJson requires valueField (EnrichJsonBuilder.java:105-109)")
    out_field = config.get("outputField", value_field)
    # compile-time registry lookup (EnrichJsonBuilder.java:191-200); the
    # schema binds per pipeline, not per record (SURVEY.md §7.3.1) —
    # heterogeneous subjects need one pipeline branch per subject + union
    bound = bind_schema(config, ctx, avro=True)
    schema_str = bound.avro_json
    if schema_str is None and bound.registry_url:
        field = config.get("subjectField")
        raise PipelineSpecError(
            "enrichJson with a schema registry needs a static 'subject' or 'schemaId' — "
            + (f"per-record subjectField {field!r} cannot bind a frame-wide schema" if field else "none given")
        )
    if schema_str is None:
        raise PipelineSpecError("enrichJson requires schemaString/schemaFile or schema-registry-url+subject")

    target = bound.struct
    ts_paths = set(timestamp_millis_fields(schema_str))

    # Parse schema: timestamp-millis fields read as strings (they may hold
    # ISO-8601 text or epoch numbers in the incoming JSON); coerced after.
    def _parse_type(dtype: T.DataType, path: str) -> T.DataType:
        if path in ts_paths:
            return T.StringType()
        if isinstance(dtype, T.StructType):
            return T.StructType([T.StructField(f.name, _parse_type(f.dataType, f"{path}.{f.name}" if path else f.name), True) for f in dtype.fields])
        if isinstance(dtype, T.ArrayType):
            return T.ArrayType(_parse_type(dtype.elementType, path), True)
        return dtype

    parse_schema = _parse_type(target, "")
    assert isinstance(parse_schema, T.StructType)

    def _coerce(col: Column, dtype: T.DataType, path: str) -> Column:
        if path in ts_paths:
            return F.coalesce(col.try_cast("long"), F.unix_millis(F.to_timestamp(col)))
        if isinstance(dtype, T.StructType):
            return F.struct(*[_coerce(col.getField(f.name), f.dataType, f"{path}.{f.name}" if path else f.name).alias(f.name) for f in dtype.fields])
        if isinstance(dtype, T.ArrayType):
            return F.transform(col, lambda x: _coerce(x, dtype.elementType, path))
        return col

    # output type: timestamp-millis -> long epoch millis (Avro's physical type)
    def _out_type(dtype: T.DataType, path: str) -> T.DataType:
        if path in ts_paths:
            return T.LongType()
        if isinstance(dtype, T.StructType):
            return T.StructType([T.StructField(f.name, _out_type(f.dataType, f"{path}.{f.name}" if path else f.name), True) for f in dtype.fields])
        if isinstance(dtype, T.ArrayType):
            return T.ArrayType(_out_type(dtype.elementType, path), True)
        return dtype

    # Avro-JSON union wrapping (EnrichJsonBuilder.java:265-287, arrays of
    # unions :367-407): union-typed values render as {"<branch type name>":
    # value} and null as JSON null — the encoding Avro-JSON consumers (e.g.
    # the Confluent REST proxy payload) require.  Opt-in via wrapUnions;
    # output is then a JSON *string* column.
    avro_tree = json.loads(schema_str)

    def _branch_name(node, ns: str | None = None) -> str:
        # Avro-JSON requires the namespace-qualified *fullname* for named
        # types (valueSchema.getFullName() in EnrichJsonBuilder); the
        # namespace is inherited from the enclosing schema when a nested
        # named type doesn't declare its own, and a dotted name IS its
        # fullname (Avro spec, "Names").
        if isinstance(node, str):
            return node  # primitive, or a name reference (already full)
        typ = node.get("type")
        if node.get("logicalType") and isinstance(typ, str):
            return typ
        if typ in ("record", "enum", "fixed"):
            name = node.get("name", typ)
            if "." in name:
                return name
            namespace = node.get("namespace", ns)
            return f"{namespace}.{name}" if namespace else name
        if typ in ("array", "map"):
            return typ
        return typ if isinstance(typ, str) else _branch_name(typ, ns)

    def _wrap(col: Column, node, ns: str | None = None) -> Column:
        if isinstance(node, list):  # union with null
            branch = next(n for n in node if n != "null")
            wrapped = F.struct(_wrap(col, branch, ns).alias(_branch_name(branch, ns)))
            return F.when(col.isNotNull(), wrapped) if "null" in node else wrapped
        if isinstance(node, dict):
            typ = node.get("type")
            if typ == "record":
                rec_ns = node.get("namespace", ns)
                return F.struct(*[_wrap(col.getField(f["name"]), f["type"], rec_ns).alias(f["name"]) for f in node["fields"]])
            if typ == "array":
                return F.transform(col, lambda x: _wrap(x, node["items"], ns))
            if typ == "map":
                return F.transform_values(col, lambda k, v: _wrap(v, node["values"], ns))
        return col

    def transform(df: DataFrame) -> DataFrame:
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        src = colref(value_field)
        if isinstance(dtypes.get(value_field), T.StructType):
            parsed = F.from_json(F.to_json(src), parse_schema)  # conform an existing struct
        else:
            parsed = F.from_json(src.cast("string"), parse_schema)
        conformed = _coerce(parsed, parse_schema, "")
        if config.get("wrapUnions"):
            # ignoreNullFields=false: conformance null-fills missing fields,
            # and Avro-JSON renders them as explicit nulls, not omissions
            return df.withColumn(out_field, F.to_json(_wrap(conformed, avro_tree), {"ignoreNullFields": "false"}))
        return df.withColumn(out_field, conformed)

    return transform


@command("generateSolrSequenceKey")
def generate_solr_sequence_key(config, ctx):
    """Unique doc id ``base#seq`` (reference usage config/cloudsolr.conf:62-67).

    ``monotonically_increasing_id`` is the distributed analog of the
    reference's per-task counter: unique across partitions without any
    coordination or shuffle.  Like that counter, the generated sequence is
    NOT stable under task retry / stage re-execution — a retried partition
    re-draws its ids — so the command is not idempotent across failures
    (honest parity with the reference; pin ``baseIdField`` to a natural key
    when exactly-once ids matter).
    """
    base = config.get("baseIdField", "id")
    fld = config.get("field", "id")
    preserve = config.get("preserveExisting", True)

    def transform(df: DataFrame) -> DataFrame:
        value = F.concat_ws("#", colref(base).cast("string"), F.monotonically_increasing_id().cast("string"))
        if preserve and fld in df.columns and fld != base:
            return df.withColumn(fld, F.coalesce(colref(fld).cast("string"), value))
        return df.withColumn(fld, value)

    return transform


# zkHost -> base Solr URL resolvers for SolrCloud locators.  The reference
# locates SolrCloud through the ZooKeeper ensemble (cloudsolr.conf:1-7,
# CloudSolrClient).  A real deployment registers a resolver that reads
# ``/live_nodes`` from the ensemble (kazoo or solr's own zkcli); offline
# tests register a stub.  Keyed by exact zkHost string; the ``None`` key, if
# present, is the catch-all.
ZK_RESOLVERS: dict = {}


def resolve_zk_host(zk_host: str) -> str:
    """Base Solr URL for a ZooKeeper ensemble string via ZK_RESOLVERS."""
    resolver = ZK_RESOLVERS.get(zk_host) or ZK_RESOLVERS.get(None)
    if resolver is None:
        raise PipelineSpecError(
            f"no ZooKeeper resolver registered for zkHost {zk_host!r}: register one in "
            "commands.schema.ZK_RESOLVERS (a callable zkHost -> solrUrl, e.g. backed by "
            "a ZK client reading /live_nodes) or pass solrUrl directly"
        )
    return resolver(zk_host) if callable(resolver) else str(resolver)


@command("sanitizeUnknownSolrFields", "sanitizeUnknownFields")
def sanitize_unknown_fields(config, ctx):
    """Drop record fields not present in the sink schema (reference usage
    config/cloudsolr.conf:68-72).

    The sink schema comes from either a static ``fields`` list (offline) or
    a ``solrLocator { collection, solrUrl | zkHost }`` block resolved at
    COMPILE time against the Solr Schema API
    (``GET <solrUrl>/<collection>/schema/fields``) — the analog of the
    reference's solrLocator schema fetch (config/cloudsolr.conf:1-7).
    ``zkHost`` locates SolrCloud by ZooKeeper ensemble exactly like the
    reference; the ensemble -> URL hop goes through the pluggable
    ZK_RESOLVERS registry.  Compile-time resolution is deliberate: the
    field list becomes a literal in the plan, executors never call Solr."""
    fields = set(config.get("fields", []))
    locator = config.get("solrLocator")
    if locator:
        url = locator.get("solrUrl", locator.get("solr-url"))
        collection = locator.get("collection")
        if not url and locator.get("zkHost"):
            url = resolve_zk_host(locator["zkHost"])
        if not url or not collection:
            raise PipelineSpecError("solrLocator needs collection plus solrUrl or zkHost")
        import json as _json  # noqa: PLC0415
        import urllib.request  # noqa: PLC0415

        req = f"{url.rstrip('/')}/{collection}/schema/fields?wt=json"
        with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
            payload = _json.loads(resp.read().decode("utf-8"))
        fields |= {f["name"] for f in payload.get("fields", [])}
    keep_reserved = config.get("keepReserved", True)

    def transform(df: DataFrame) -> DataFrame:
        keep = [c for c in df.columns if c in fields or (keep_reserved and c in R.RESERVED_FIELDS)]
        return df.select(*[colref(c) for c in keep])

    return transform


# Magic-byte signature table for detectMimeType: (mime, offset, hex prefix).
# Checked in order; RIFF containers disambiguate on the format tag at
# offset 8.  This is the deterministic core of Tika's magic detection the
# kite command delegates to (kite-morphlines detectMimeType, importable by
# every reference config via the org.kitesdk.** wildcard,
# /root/reference/config/cloudsolr.conf:18).
_MAGIC = [
    ("image/jpeg", 0, "FFD8FF"),
    ("image/png", 0, "89504E47"),
    ("image/gif", 0, "474946"),
    ("image/bmp", 0, "424D"),
    ("application/pdf", 0, "25504446"),
    ("application/zip", 0, "504B0304"),
    ("application/gzip", 0, "1F8B"),
    ("application/x-xz", 0, "FD377A585A00"),
    ("application/zstd", 0, "28B52FFD"),
    ("avro/binary", 0, "4F626A01"),
    ("application/xml", 0, "3C3F786D6C"),
    ("audio/mpeg", 0, "494433"),
]
_RIFF = [("audio/x-wav", "57415645"), ("image/webp", "57454250"), ("video/x-msvideo", "41564920")]


def detect_mime_type_col(payload: Column, fallback: str = "application/octet-stream") -> Column:
    """Pure-codegen magic-byte MIME sniff over a binary column: hex the
    first bytes, compare against the signature table; RIFF containers
    (WAV/WEBP/AVI) check the format tag at offset 8.  Deterministic and
    replayable in SQL (hex(substring(payload, off, n)))."""
    hexed = F.upper(F.hex(F.substring(payload, 1, 12)))
    riff_tag = F.upper(F.hex(F.substring(payload, 9, 4)))
    out = F.lit(fallback)
    for mime, tag in reversed(_RIFF):
        out = F.when(hexed.startswith("52494646") & (riff_tag == tag), F.lit(mime)).otherwise(out)
    for mime, off, sig in reversed(_MAGIC):
        prefix = F.upper(F.hex(F.substring(payload, off + 1, len(sig) // 2)))
        out = F.when(prefix == sig, F.lit(mime)).otherwise(out)
    return F.when(payload.isNull(), F.lit(None).cast("string")).otherwise(out)


@command("detectMimeType")
def detect_mime_type(config, ctx):
    """Kite ``detectMimeType``: sniff the attachment body's MIME type from
    magic bytes and store it (kite writes ``_attachment_mimetype``; the
    reference's envelope keeps bytes in ``_value``).  Config:
    ``inputField`` (default ``_value``), ``outputField`` (default
    ``_attachment_mimetype``), ``fallbackMimeType``.  Unlike kite's
    Tika-backed version this is the deterministic magic-byte core only —
    no locale/extension heuristics — which is exactly what makes it
    certifiable and executor-safe (no Tika singleton per JVM)."""
    in_fld = config.get("inputField", R.VALUE)
    out_fld = config.get("outputField", "_attachment_mimetype")
    fallback = str(config.get("fallbackMimeType", "application/octet-stream"))

    def transform(df: DataFrame) -> DataFrame:
        payload = colref(in_fld).cast("binary")
        return df.withColumn(out_fld, detect_mime_type_col(payload, fallback))

    return transform


@command("toAvro")
def to_avro_cmd(config, ctx):
    """Kite ``toAvro { schemaString | schemaFile }``: conform the in-flight
    value to an Avro schema — the struct-typing step before
    writeAvroToByteArray (kite attaches an IndexedRecord; the engine's
    frame-wide analog is a typed struct column).  Uses the same
    from_json/avro_struct conformance core as enrichJson.  Limitation vs
    kite: Avro ``bytes``/``fixed`` fields are not representable through
    the JSON staging hop — use fromConnectData's avro leg for byte-typed
    schemas."""
    bound = bind_schema(config, ctx, avro=True)
    if bound.avro_json is None:
        raise PipelineSpecError("toAvro needs schemaString or schemaFile")
    struct_type = bound.struct
    in_fld = config.get("inputField", R.VALUE)
    out_fld = config.get("outputField", in_fld)

    def transform(df: DataFrame) -> DataFrame:
        src = colref(in_fld)
        dtype = {f.name: f.dataType for f in df.schema.fields}.get(in_fld)
        if isinstance(dtype, T.StructType):
            conformed = F.from_json(F.to_json(src), struct_type)
        else:
            conformed = F.from_json(src.cast("string"), struct_type)
        return df.withColumn(out_fld, conformed)

    # stash for writeAvroToByteArray downstream (schema travels with the
    # compile context, mirroring kite's record-attached schema)
    ctx.settings["_last_avro_schema"] = json.loads(bound.avro_json)
    return transform


@command("writeAvroToByteArray")
def write_avro_to_byte_array(config, ctx):
    """Kite ``writeAvroToByteArray { format : container|containerlessBinary }``:
    serialize the conformed value struct to Avro bytes in a binary column.
    ``container`` frames each record as a single-record object-container
    file (self-describing, the kite default); ``containerlessBinary`` is
    the raw datum encoding.  Arrow-batched pandas UDF over the pure-Python
    codec (avro_codec.py) — the jar-less encode path the kafkaProducer
    format=avro leg already certifies (confluent_wire_roundtrip)."""
    fmt = str(config.get("format", "container"))
    if fmt not in ("container", "containerlessBinary"):
        raise PipelineSpecError(f"writeAvroToByteArray: unknown format {fmt!r}")
    schema_json = bind_schema(config, ctx, avro=True).avro_json
    schema = json.loads(schema_json) if schema_json else ctx.settings.get("_last_avro_schema")
    if not schema:
        raise PipelineSpecError("writeAvroToByteArray needs schemaString or a preceding toAvro")
    in_fld = config.get("inputField", R.VALUE)
    out_fld = config.get("outputField", in_fld)

    def transform(df: DataFrame) -> DataFrame:
        import pandas as pd

        from kafka_connect_morphlines_spark import avro_codec

        src = colref(in_fld)
        json_col = F.to_json(src)

        @F.pandas_udf("binary")
        def enc(series):
            out = []
            for s in series:
                if s is None:
                    out.append(None)
                    continue
                value = json.loads(s)
                if fmt == "container":
                    out.append(avro_codec.write_container([value], schema))
                else:
                    out.append(avro_codec.encode_datum(value, schema))
            return pd.Series(out)

        return df.withColumn(out_fld, enc(json_col))

    return transform
