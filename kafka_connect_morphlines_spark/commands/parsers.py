"""Parser commands — the kite stdio/json/avro parser surface (SURVEY.md §2 B.1).

Parsers consume the attachment body (``_attachment_body`` — the raw payload
bytes the reference stages via FromConnectDataBuilder.java:104-117) or any
configured input column, and emit parsed/typed columns.  All are native
expressions: ``from_json``, ``from_csv``, ``split``+``explode`` — so the JSON
parsing happens JVM-side inside codegen, never in Python.

Schema binding: morphlines carry a schema *per record* (``_valueSchema``);
Spark is frame-typed, so parsers bind a pipeline-wide schema at compile time
through ``avro_schema.bind_schema`` (SURVEY.md §7.3 item 1; keys and
precedence in the README's "Schema binding" section).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F, types as T

from kafka_connect_morphlines_spark import record as R
from kafka_connect_morphlines_spark.avro_schema import avro_struct, bind_schema
from kafka_connect_morphlines_spark.commands import command
from kafka_connect_morphlines_spark.pipeline import PipelineSpecError
from kafka_connect_morphlines_spark.templates import colref


def _body(df: DataFrame, config) -> Column:
    """The column a parser reads: configured inputField, else the attachment
    body, else the raw value."""
    fld = config.get("inputField")
    if fld:
        return colref(fld)
    if R.ATTACHMENT_BODY in df.columns:
        return F.col(R.ATTACHMENT_BODY)
    if R.VALUE in df.columns:
        return F.col(R.VALUE)
    raise PipelineSpecError("no inputField configured and no attachment/_value column present")


def _keep_valid(df: DataFrame, valid: Column, flag_invalid: bool, drop_invalid: bool) -> DataFrame:
    """Apply a parser's validity predicate: ``flag_invalid`` marks failing
    rows in ``_invalid`` for the streaming runner's DLQ split (cf. the
    reference's log-and-skip, MorphlineSinkTask.java:137), OR-ing into an
    earlier parser's flag so a row bad anywhere in the chain stays
    quarantined; otherwise ``drop_invalid`` drops them."""
    if flag_invalid:
        invalid = ~valid
        if "_invalid" in df.columns:
            invalid = F.col("_invalid") | invalid
        return df.withColumn("_invalid", invalid)
    return df.filter(valid) if drop_invalid else df


def _parse_once(
    df: DataFrame,
    text: Column,
    parse: Callable,
    schema: T.StructType,
    out: str,
    valid: Callable[[Column, str], Column],
    flag_invalid: bool,
    drop_invalid: bool,
) -> DataFrame:
    """Parse ``text`` into the ``out`` struct exactly once per row.

    PERMISSIVE ``from_json``/``from_xml`` return an all-null struct (not
    NULL) on malformed input, so validity comes from a corrupt-record field
    instead of a second probe parse.  The explode(array(...)) fence makes
    the parse a Generate output: predicate pushdown rewrites filters through
    Project aliases (re-inlining the parse once per consumer — observed as 3
    parses per row) but not through generator output.  ``valid(parsed,
    corrupt_field)`` is the parser's own validity predicate.  The bound
    ``schema`` is shared by every application of the compiled pipeline (one
    per micro-batch), so it is copied, never extended in place.
    """
    corrupt = "_corrupt_record"
    while corrupt in schema.fieldNames():
        corrupt = "_" + corrupt
    parse_schema = T.StructType([*schema.fields, T.StructField(corrupt, T.StringType())])
    parsed = parse(text, parse_schema, {"columnNameOfCorruptRecord": corrupt, "mode": "PERMISSIVE"})
    fence = "_parsed_once"
    while fence in df.columns:
        fence = "_" + fence
    df = df.withColumn(fence, F.explode(F.array(parsed)))
    df = df.withColumn(out, F.col(fence).dropFields(corrupt))
    return _keep_valid(df, valid(F.col(fence), corrupt), flag_invalid, drop_invalid).drop(fence)


def _charset(config) -> str:
    return config.get("characterSet", config.get("charset", "UTF-8"))


def _as_text(col: Column, config) -> Column:
    cs = _charset(config)
    return F.decode(col, cs) if cs.upper() not in ("UTF-8", "UTF8") else col.cast("string")


@command("readJson")
def read_json(config, ctx):
    """Parse the body as JSON (kite readJson; reference usage
    config/cloudsolr.conf:30, src/test/resources/.../transform.conf:23).

    With a bound schema the output column (default ``_json``) is a typed
    struct via ``from_json``; without one it is the validated JSON text, which
    ``extractJsonPaths`` then reads with ``get_json_object``.  Unparseable
    rows are dropped (``dropInvalid``, mirroring the reference's failed-record
    drop, MorphlineSinkTask.java:137) or flagged (``flagInvalid``, DLQ mode).
    """
    out = config.get("outputField", "_json")
    schema = bind_schema(config, ctx).struct
    keep = (config.get("flagInvalid", False), config.get("dropInvalid", True))

    def transform(df: DataFrame) -> DataFrame:
        text = _as_text(_body(df, config), config)
        if schema is not None:
            return _parse_once(df, text, F.from_json, schema, out, lambda parsed, corrupt: text.isNotNull() & parsed.getField(corrupt).isNull(), *keep)
        probe = F.coalesce(F.get_json_object(text, "$"), F.get_json_object(F.concat(F.lit('{"r":'), text, F.lit("}")), "$.r"))
        return _keep_valid(df.withColumn(out, text), text.isNotNull() & probe.isNotNull(), *keep)

    return transform


@command("readLine")
def read_line(config, ctx):
    """Split the body into lines, one row each (kite readLine: charset,
    commentPrefix, ignoreFirstLine). 1->N via explode."""
    out = config.get("outputField", "message")
    comment = config.get("commentPrefix")
    ignore_first = config.get("ignoreFirstLine", False)

    def transform(df: DataFrame) -> DataFrame:
        lines = F.split(_as_text(_body(df, config), config), "\r?\n")
        if ignore_first:
            lines = F.slice(lines, 2, F.greatest(F.size(lines) - 1, F.lit(0)))
        lines = F.filter(lines, lambda x: x != "")
        if comment:
            lines = F.filter(lines, lambda x: ~x.startswith(comment))
        return df.withColumn(out, F.explode(lines))

    return transform


@command("readClob")
def read_clob(config, ctx):
    """Whole body as one string field (kite readClob)."""
    out = config.get("outputField", "message")

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(out, _as_text(_body(df, config), config))

    return transform


@command("readBlob")
def read_blob(config, ctx):
    """Whole body as one binary field (kite readBlob)."""
    out = config.get("outputField", "_attachment_body")

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(out, _body(df, config).cast("binary"))

    return transform


@command("readCSV")
def read_csv(config, ctx):
    """Delimited parse (kite readCSV: separator, columns, quoteChar, trim,
    ignoreFirstLine).  Lines explode 1->N, then ``from_csv`` types each."""
    sep = str(config.get("separator", ","))
    columns = config.get("columns", [])
    quote = str(config.get("quoteChar", '"'))
    do_trim = config.get("trim", True)
    ignore_first = config.get("ignoreFirstLine", False)
    if not columns:
        raise PipelineSpecError("readCSV requires 'columns'")
    names = [c if c else f"_col{i}" for i, c in enumerate(columns)]
    ddl = ", ".join(f"`{n}` STRING" for n in names)
    options = {"sep": sep, "quote": quote, "ignoreLeadingWhiteSpace": str(do_trim).lower(), "ignoreTrailingWhiteSpace": str(do_trim).lower()}

    def transform(df: DataFrame) -> DataFrame:
        lines = F.split(_as_text(_body(df, config), config), "\r?\n")
        if ignore_first:
            lines = F.slice(lines, 2, F.greatest(F.size(lines) - 1, F.lit(0)))
        lines = F.filter(lines, lambda x: x != "")
        df = df.withColumn("__line", F.explode(lines))
        parsed = F.from_csv(F.col("__line"), ddl, options)
        for i, orig in enumerate(columns):
            if orig:  # empty column name = skip that position (kite semantics)
                cell = parsed.getField(names[i])
                # kite trims the parsed cell value itself (quoted content
                # included) — Spark's ignore*WhiteSpace options only strip
                # outside quotes, so trim post-parse for parity
                df = df.withColumn(orig, F.trim(cell) if do_trim else cell)
        return df.drop("__line")

    return transform


@command("readMultiLine")
def read_multi_line(config, ctx):
    """Regex multi-line event assembly (kite readMultiLine: regex,
    what ∈ {previous, next}).

    ``what=previous``: a line matching the regex belongs to the previous
    event (classic stack-trace folding); ``what=next``: it belongs to the
    next.  Implemented as a JVM-side array fold over each body's lines —
    records are independent, so this parallelizes per row with no shuffle.
    """
    regex = config["regex"]
    what = config.get("what", "previous")
    out = config.get("outputField", "message")

    def transform(df: DataFrame) -> DataFrame:
        lines = F.filter(F.split(_as_text(_body(df, config), config), "\r?\n"), lambda x: x != "")
        if what == "previous":
            starts_new = lambda x: ~x.rlike(regex)  # noqa: E731
            grouped = F.aggregate(
                lines,
                F.array().cast("array<array<string>>"),
                lambda acc, x: F.when(
                    starts_new(x) | (F.size(acc) == 0),
                    F.concat(acc, F.array(F.array(x))),
                ).otherwise(
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.concat(F.element_at(acc, -1), F.array(x))),
                    )
                ),
            )
        else:
            # 'next': fold keeping a pending buffer — matching lines accumulate
            # into the buffer and attach to the next non-matching line.
            grouped = F.aggregate(
                lines,
                F.struct(
                    F.array().cast("array<array<string>>").alias("done"),
                    F.array().cast("array<string>").alias("pending"),
                ),
                lambda acc, x: F.when(
                    x.rlike(regex),
                    F.struct(acc["done"].alias("done"), F.concat(acc["pending"], F.array(x)).alias("pending")),
                ).otherwise(
                    F.struct(
                        F.concat(acc["done"], F.array(F.concat(acc["pending"], F.array(x)))).alias("done"),
                        F.array().cast("array<string>").alias("pending"),
                    )
                ),
                lambda acc: F.when(F.size(acc["pending"]) > 0, F.concat(acc["done"], F.array(acc["pending"]))).otherwise(acc["done"]),
            )
        return df.withColumn(out, F.explode(F.transform(grouped, lambda g: F.array_join(g, "\n"))))

    return transform


def _slash_path_to_parts(path: str) -> list[str]:
    return [p for p in str(path).split("/") if p]


def _nested(col: Column, parts: list[str]) -> Column:
    for p in parts:
        col = col.getField(p)
    return col


@command("extractJsonPaths")
def extract_json_paths(config, ctx):
    """Project JSON paths into named fields (kite extractJsonPaths; reference
    usage config/cloudsolr.conf:31-37, transform.conf:24-31).

    Config: ``paths { out : /slash/path }`` (+ ``flatten``).  Works on the
    ``_json`` column a prior readJson produced: struct -> nested access,
    string -> ``get_json_object``.
    """
    paths = config.get("paths", {})
    in_fld = config.get("inputField", "_json")

    def transform(df: DataFrame) -> DataFrame:
        dtype = {f.name: f.dataType for f in df.schema.fields}.get(in_fld)
        if isinstance(dtype, T.ArrayType):
            # Multimap fence (r08): a multi-valued JSON field would need each
            # output to become a list of extractions — unsupported; fail
            # loudly instead of stringifying the array (silent garbage).
            from kafka_connect_morphlines_spark.pipeline import PipelineSpecError

            raise PipelineSpecError(
                f"extractJsonPaths: inputField {in_fld!r} is multi-valued "
                f"(ArrayType) — per-element extraction is not supported; "
                f"explode the field first (separateAttachments) or extract "
                f"before the field becomes a list."
            )
        src = colref(in_fld)
        assignments = {}
        for out, path in paths.items():
            parts = _slash_path_to_parts(path)
            if isinstance(dtype, T.StructType):
                assignments[out] = _nested(src, parts)
            else:
                assignments[out] = F.get_json_object(src.cast("string"), "$." + ".".join(parts))
        return df.withColumns(assignments)

    return transform


@command("extractAvroPaths")
def extract_avro_paths(config, ctx):
    """Project struct paths into named fields (kite extractAvroPaths;
    reference usage identity.conf:59-68).  The decoded value struct plays the
    role of the in-flight Avro record."""
    paths = config.get("paths", {})
    in_fld = config.get("inputField", R.VALUE)

    def transform(df: DataFrame) -> DataFrame:
        src = colref(in_fld)
        assignments = {out: _nested(src, _slash_path_to_parts(p)) for out, p in paths.items()}
        return df.withColumns(assignments)

    return transform


@command("extractAvroTree")
def extract_avro_tree(config, ctx):
    """Recursively flatten a struct column into ``prefix``+path leaf fields
    (kite extractAvroTree)."""
    in_fld = config.get("inputField", R.VALUE)
    prefix = config.get("outputPrefix", "")
    sep = config.get("separator", "_")

    def transform(df: DataFrame) -> DataFrame:
        dtype = {f.name: f.dataType for f in df.schema.fields}.get(in_fld)
        if not isinstance(dtype, T.StructType):
            raise PipelineSpecError(f"extractAvroTree input {in_fld!r} is not a struct")
        assignments = {}

        def walk(col: Column, schema: T.StructType, path: list[str]) -> None:
            for f in schema.fields:
                child = col.getField(f.name)
                if isinstance(f.dataType, T.StructType):
                    walk(child, f.dataType, path + [f.name])
                else:
                    assignments[prefix + sep.join(path + [f.name])] = child

        walk(colref(in_fld), dtype, [])
        return df.withColumns(assignments)

    return transform


def _avro_functions():
    try:
        from pyspark.sql.avro.functions import from_avro, to_avro  # noqa: PLC0415

        return from_avro, to_avro
    except ImportError:  # pragma: no cover
        return None, None


def _jvm_from_avro_usable(df) -> bool:
    """True when spark-avro's from_avro both imports AND resolves (the
    Python shim ships with pyspark, the JVM datasource only with the jar)."""
    from_avro, _ = _avro_functions()
    if from_avro is None:
        return False
    try:
        df.sparkSession.range(1).select(from_avro(F.lit(b"\x00"), '"int"'))
        return True
    except Exception:
        return False


def _python_decode_datum_udf(schema_json: str, wire: bool = False):
    """Arrow-batched pandas UDF decoding one raw Avro datum per row with the
    pure-Python codec (avro_codec.py) — the jar-less fallback.  ~10-100x
    slower per byte than the JVM path, so it is only chosen when spark-avro
    is absent; still partition-parallel and Arrow-batched.

    With ``wire`` the UDF consumes Confluent framing itself (split validates
    magic + header length and raises on malformed records, matching
    KafkaAvroDeserializer's error behavior); the JVM from_avro path has no
    validation hook and strips the header with a substring instead."""
    from kafka_connect_morphlines_spark.avro_codec import decode_datum, split_confluent

    spark_type = avro_struct(schema_json)

    @F.pandas_udf(returnType=spark_type)
    def dec(s):
        import pandas as pd  # noqa: PLC0415

        def one(v):
            if v is None:
                return None
            if wire:
                v = split_confluent(v)[1]
            return decode_datum(v, schema_json)

        rows = [one(v) for v in s]
        return pd.DataFrame(
            [r if r is not None else dict.fromkeys([f.name for f in spark_type.fields]) for r in rows],
            columns=[f.name for f in spark_type.fields],
        )

    return dec


@command("readAvro")
def read_avro(config, ctx):
    """Parse raw Avro datum bytes with a bound schema (kite readAvro).

    Three paths, fastest first:
    1. input already a typed struct (the reference's own avro test path
       feeds Connect structs — identity.conf readavro,
       MorphlineTransformTest.java:265-284): plain column ref, no decode.
    2. spark-avro jar present: JVM ``from_avro`` (vectorized, codegen).
    3. jar absent: pure-Python Avro binary decoder behind an Arrow-batched
       pandas UDF (avro_codec.py) — same results, Python-speed.
    Raw bytes need an Avro schema bound at compile time (a bare datum has no
    embedded schema): schemaString, schemaFile, or a registry URL with
    schemaId | subject.

    ``wireFormat: true`` (implied by a registry URL) consumes Confluent
    single-record framing — magic 0x00 + 4-byte BE schema id + datum, the
    bytes KafkaAvroSerializer produces (reference default serializer,
    KafkaDataProducerCommandBuilder.java:251-256): the 5-byte header is
    stripped with a codegen substring before either decode path.
    """
    bound = bind_schema(config, ctx, avro=True)
    schema_json = bound.avro_json
    wire = bool(config.get("wireFormat", bound.registry_url is not None))
    out = config.get("outputField", "_json")

    def transform(df: DataFrame) -> DataFrame:
        body = _body(df, config)
        dtype_map = {f.name: f.dataType for f in df.schema.fields}
        in_name = config.get("inputField") or (R.ATTACHMENT_BODY if R.ATTACHMENT_BODY in df.columns else R.VALUE)
        if isinstance(dtype_map.get(in_name), T.StructType):
            return df.withColumn(out, colref(in_name))  # already-decoded struct
        if schema_json is None:
            raise PipelineSpecError("readAvro on raw bytes needs schemaString/schemaFile or a registry URL + (schemaId|subject)")
        payload = body.cast("binary")
        if _jvm_from_avro_usable(df):
            from_avro, _ = _avro_functions()
            if wire:
                payload = F.substring(payload, 6, 2147483647)
            return df.withColumn(out, from_avro(payload, schema_json))
        return df.withColumn(out, _python_decode_datum_udf(schema_json, wire=wire)(payload))

    return transform


@command("readAvroContainer")
def read_avro_container(config, ctx):
    """Parse Avro object-container-file bytes: 1 blob -> N records (kite
    readAvroContainer emits one record per contained datum).

    The container embeds its writer schema, so no schema config is needed:
    with none bound, the frame-wide output type is inferred by peeking at
    one blob on the driver (a 1-row action at compile — the container
    analog of spark.read.json schema inference).  Records decode with the
    embedded writer schema and are conformed to the bound/inferred reader
    StructType by field name (missing -> null, extra -> dropped).
    Decoding uses the pure-Python codec (avro_codec.py) behind a pandas
    UDF; containers are a file format, not a hot per-event path.
    """
    schema_json = bind_schema(config, ctx, avro=True).avro_json
    out = config.get("outputField", "_json")

    def transform(df: DataFrame) -> DataFrame:
        from kafka_connect_morphlines_spark.avro_codec import read_container

        body = _body(df, config)
        reader_json = schema_json
        if reader_json is None:
            import json as _json  # noqa: PLC0415

            probe = df.select(body.cast("binary").alias("_b")).filter(F.col("_b").isNotNull()).limit(1).collect()
            if not probe:
                raise PipelineSpecError("readAvroContainer: no rows to infer the container schema from")
            embedded, _ = read_container(probe[0]["_b"])
            reader_json = _json.dumps(embedded)
        spark_type = avro_struct(reader_json)
        names = [f.name for f in spark_type.fields]

        @F.pandas_udf(returnType=T.ArrayType(spark_type))
        def dec(s):
            import pandas as pd  # noqa: PLC0415

            def one(v):
                if v is None:
                    return None
                _, records = read_container(v)
                return [{n: rec.get(n) for n in names} for rec in records]

            return pd.Series([one(v) for v in s])

        exploded = df.withColumn(out, F.explode(dec(body.cast("binary"))))
        return exploded

    return transform


@command("readXml")
def read_xml(config, ctx):
    """Parse the body as XML into a typed struct (the kite-morphlines
    saxon module's readXml, re-expressed on Spark 4's native ``from_xml``
    — JVM-side, no Python in the hot path).  Config: ``schemaDdl`` /
    ``schemaString`` / ``schemaFile`` (required — XML has no self-describing
    types), ``inputField`` (default ``_value``), ``outputField`` (default
    ``_xml``), ``dropInvalid`` (default true, mirroring the reference's
    failed-record drop, MorphlineSinkTask.java:136-138)."""
    out = config.get("outputField", "_xml")
    schema = bind_schema(config, ctx).struct
    if schema is None:
        raise PipelineSpecError(
            "readXml needs schemaDdl or schemaString (XML carries no types; "
            "for schemaless one-off fields use extractXmlPaths on the raw text)"
        )
    drop_invalid = config.get("dropInvalid", True)

    def transform(df: DataFrame) -> DataFrame:
        text = _as_text(_body(df, config), config)
        return _parse_once(
            df, text, F.from_xml, schema, out,
            lambda parsed, corrupt: text.isNotNull() & parsed.isNotNull() & parsed.getField(corrupt).isNull(),
            False, drop_invalid,
        )

    return transform


@command("extractXmlPaths")
def extract_xml_paths(config, ctx):
    """Project XPath expressions into named fields (the saxon module's
    extractXPaths analog).  Config: ``paths { out : /xpath/expr }``,
    ``inputField`` (default ``_xml``).  A struct input (from readXml)
    takes the slash-path fast path (pure column access); a string input
    evaluates real XPath via the codegen ``xpath_string`` expression."""
    paths = config.get("paths", {})
    in_fld = config.get("inputField", "_xml")

    def transform(df: DataFrame) -> DataFrame:
        dtype = {f.name: f.dataType for f in df.schema.fields}.get(in_fld)
        src = colref(in_fld)
        assignments = {}
        for out, path in paths.items():
            if isinstance(dtype, T.StructType):
                assignments[out] = _nested(src, _slash_path_to_parts(path))
            else:
                assignments[out] = F.xpath_string(src.cast("string"), F.lit(str(path)))
        return df.withColumns(assignments)

    return transform
