"""Field/record transform commands (kite-morphlines-core stdlib parity).

Reference surface per SURVEY.md §2 B.2: setValues/addValues/addValuesIfAbsent,
removeFields/removeValues/replaceValues, generateUUID, addCurrentTime,
addLocalHost, convertTimestamp, toString, toByteArray, decodeBase64,
findReplace, split, splitKeyValue, translate.  All compile to native Column
expressions (whole-stage codegen; no UDFs).

Multimap note (SURVEY.md §7.3): the morphline Record is a String->List multimap.
We use scalar columns by default and ArrayType where pipelines append
(addValues); this is the documented deviation.
"""

from __future__ import annotations

import fnmatch
import re
import socket

from pyspark.sql import Column, DataFrame, functions as F, types as T

from kafka_connect_morphlines_spark.commands import command
from kafka_connect_morphlines_spark.templates import colref, template_to_column


def _as_array(col: Column, dtype: T.DataType) -> Column:
    return col if isinstance(dtype, T.ArrayType) else F.array(col)


def _pop_multivalued(config: dict) -> bool:
    """Extract the engine's multiValued option WITHOUT swallowing a field
    assignment of the same name (driver ADVICE r07: in kite, setValues keys
    are plain field names and no such option exists, so ``multiValued`` is
    a legal field).  ``_multiValued`` (namespaced) always wins and is never
    a field; bare ``multiValued`` counts as the option only when its value
    is a HOCON boolean — a string/number/list value is a field assignment
    and passes through untouched.  Remaining collision (a field literally
    named multiValued with a boolean value) is documented in SURVEY.md
    §1.1 next to the scalar-default deviation."""
    if "_multiValued" in config:
        return bool(config.pop("_multiValued"))
    v = config.get("multiValued")
    if isinstance(v, bool):
        config.pop("multiValued")
        return v
    return False


@command("setValues")
def set_values(config, ctx):
    """Assign field values, with ``@{field}`` interpolation.

    Parity: kite ``setValues`` (used at reference config/cloudsolr.conf:52-56,
    src/test/resources/.../transform.conf:37-43).

    ``multiValued : true`` opts a command instance into the reference's
    ordered-multimap contract (Record is String -> List<Object>,
    MorphlineTransform.java:137-148): every assigned field becomes an
    ArrayType column holding the full value list (kite setValues replaces
    the list).  The default stays scalar — the engine's documented
    deviation (SURVEY.md §7.3) — because scalar columns are what the rest
    of a columnar pipeline (joins, aggregates, parquet) wants.
    """
    config = dict(config)
    mv = _pop_multivalued(config)
    assignments = {}
    for out, v in config.items():
        col = template_to_column(v)
        if mv and not isinstance(v, list):
            col = F.array(col)
        assignments[out] = col

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumns(assignments)

    return transform


@command("addValues")
def add_values(config, ctx):
    """Append values to a field; the field becomes an ArrayType column
    (already the multimap append contract — ``multiValued`` is accepted
    for spec uniformity and changes nothing)."""
    config = dict(config)
    _pop_multivalued(config)

    def transform(df: DataFrame) -> DataFrame:
        dtypes = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))
        for out, v in config.items():
            new = template_to_column(v)
            new = new if isinstance(v, list) else F.array(new)
            if out in dtypes:
                df = df.withColumn(out, F.concat(_as_array(colref(out), dtypes[out]), new))
            else:
                df = df.withColumn(out, new)
        return df

    return transform


@command("addValuesIfAbsent")
def add_values_if_absent(config, ctx):
    """Append values not already present (array set-union semantics;
    ``multiValued`` accepted for spec uniformity, changes nothing)."""
    config = dict(config)
    _pop_multivalued(config)

    def transform(df: DataFrame) -> DataFrame:
        dtypes = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))
        for out, v in config.items():
            new = template_to_column(v)
            new = new if isinstance(v, list) else F.array(new)
            if out in dtypes:
                df = df.withColumn(out, F.array_union(_as_array(colref(out), dtypes[out]), new))
            else:
                df = df.withColumn(out, new)
        return df

    return transform


def _name_matcher(specs) -> "callable":
    """Kite-style field matchers: plain name, ``literal:``, ``glob:``, ``regex:``."""
    if isinstance(specs, (str, int)):
        specs = [specs]
    literals, regexes = set(), []
    for s in specs:
        s = str(s)
        if s.startswith("literal:"):
            literals.add(s[len("literal:") :])
        elif s.startswith("regex:"):
            regexes.append(re.compile(s[len("regex:") :]))
        elif s.startswith("glob:"):
            regexes.append(re.compile(fnmatch.translate(s[len("glob:") :])))
        elif any(ch in s for ch in "*?["):
            regexes.append(re.compile(fnmatch.translate(s)))
        else:
            literals.add(s)
    return lambda name: name in literals or any(r.fullmatch(name) for r in regexes)


@command("removeFields")
def remove_fields(config, ctx):
    """Drop fields by name/glob/regex (kite removeFields blacklist)."""
    specs = config.get("blacklist", config.get("_value", []))
    keep_specs = config.get("whitelist")
    matches = _name_matcher(specs)
    keeps = _name_matcher(keep_specs) if keep_specs is not None else None

    def transform(df: DataFrame) -> DataFrame:
        drop = [c for c in df.columns if matches(c) and not (keeps and keeps(c))]
        return df.drop(*drop) if drop else df

    return transform


@command("removeValues")
def remove_values(config, ctx):
    """Remove matching values from a field.

    Array columns get the exact kite contract (remove every matching
    element, PRESERVING order and duplicates of the survivors — a filter,
    not a set difference); scalars null out on match.  ``multiValued :
    true`` additionally lifts scalar fields to the list contract first
    (a matched scalar becomes an empty list, like a one-element multimap
    entry after removal — MorphlineTransform.java:137-148)."""
    config = dict(config)
    mv = _pop_multivalued(config)

    def transform(df: DataFrame) -> DataFrame:
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        for fld, spec in config.items():
            values = spec if isinstance(spec, list) else [spec]

            def _keep_fn(dropped):
                # single-parameter lambda: a second param would make pyspark
                # pass the element INDEX into it (higher-order arity dispatch)
                def keep(x):
                    cond = F.lit(True)
                    for v in dropped:
                        cond = cond & ~x.eqNullSafe(F.lit(v))
                    return cond

                return keep

            keep = _keep_fn(list(values))
            if isinstance(dtypes.get(fld), T.ArrayType):
                df = df.withColumn(fld, F.filter(colref(fld), keep))
            elif mv:
                df = df.withColumn(fld, F.filter(F.array(colref(fld)), keep))
            else:
                df = df.withColumn(fld, F.when(colref(fld).isin(values), F.lit(None)).otherwise(colref(fld)))
        return df

    return transform


@command("replaceValues")
def replace_values(config, ctx):
    """Replace the entire value list of a field (kite replaceValues semantics,
    cf. FromConnectDataBuilder.java:118).  Honors ``multiValued : true``
    like setValues (the reference API replaces the LIST; the scalar
    default is the documented deviation)."""
    return set_values(config, ctx)


@command("rename")
def rename(config, ctx):
    """Engine extension: ``rename { new : old }`` (the reference renames via
    extract*/setValues mappings — SURVEY.md §2 B.2)."""

    def transform(df: DataFrame) -> DataFrame:
        for new, old in config.items():
            df = df.withColumnRenamed(str(old), new)
        return df

    return transform


@command("generateUUID")
def generate_uuid(config, ctx):
    """Random UUID into ``field`` (kite generateUUID; used at reference
    config/cloudsolr.conf:57-61).  ``baseField`` makes it deterministic (name-
    based UUID from the field's value) so oracle tests can pin outputs —
    SURVEY.md §7.3 item 5."""
    fld = config.get("field", "id")
    preserve = config.get("preserveExisting", True)
    base = config.get("baseField")
    if base:
        h = F.md5(colref(base).cast("string"))
        value = F.concat_ws(
            "-",
            F.substring(h, 1, 8),
            F.substring(h, 9, 4),
            F.substring(h, 13, 4),
            F.substring(h, 17, 4),
            F.substring(h, 21, 12),
        )
    else:
        value = F.expr("uuid()")

    def transform(df: DataFrame) -> DataFrame:
        if preserve and fld in df.columns:
            return df.withColumn(fld, F.coalesce(colref(fld), value))
        return df.withColumn(fld, value)

    return transform


@command("addCurrentTime")
def add_current_time(config, ctx):
    """Wall-clock epoch millis into ``field`` (kite addCurrentTime)."""
    fld = config.get("field", "timestamp")
    preserve = config.get("preserveExisting", False)

    def transform(df: DataFrame) -> DataFrame:
        value = F.unix_millis(F.current_timestamp())
        if preserve and fld in df.columns:
            return df.withColumn(fld, F.coalesce(colref(fld), value))
        return df.withColumn(fld, value)

    return transform


@command("addLocalHost")
def add_local_host(config, ctx):
    """Hostname or IP into ``field`` (kite addLocalHost); resolved at compile
    time on the driver — every executor would report a different host, and the
    reference's single process makes driver-host the faithful reading."""
    fld = config.get("field", "host")
    use_ip = config.get("useIP", True)
    try:
        value = socket.gethostbyname(socket.gethostname()) if use_ip else socket.gethostname()
    except OSError:
        value = socket.gethostname()

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(fld, F.lit(value))

    return transform


# SimpleDateFormat -> Spark datetime pattern differences that matter for the
# patterns real pipelines use (reference config/cloudsolr.conf:43-51,
# httpsolr.conf:47-55). Most letters coincide; these don't:
_SDF_TRANSLATE = [
    ("ZZ", "xxx"),  # ISO8601 extended offset
    ("u", "e"),  # day number of week
]


def _sdf_to_spark(fmt: str) -> str:
    out = fmt
    for a, b in _SDF_TRANSLATE:
        # don't touch quoted literals
        if "'" not in out:
            out = out.replace(a, b)
    return out


def parse_timestamp_attempts(col: Column, input_formats: list[str], input_tz: str) -> Column:
    """Coalesced parse attempts -> TimestampType UTC instant.

    try_* variants throughout: under ANSI mode (Spark 4 default) a failed
    parse/cast throws, which would break the try-each-format contract of
    kite convertTimestamp (first matching inputFormat wins).
    """
    attempts = []
    for fmt in input_formats:
        if fmt == "unixTimeInMillis":
            attempts.append(F.timestamp_millis(col.try_cast("long")))
        elif fmt in ("unixTimeInSeconds", "posixTime"):
            attempts.append(F.timestamp_seconds(col.try_cast("long")))
        elif fmt == "unixTimeInNanos":
            # decimal div keeps epoch-nanos exact (they exceed double's 2^53)
            attempts.append(F.timestamp_micros(F.floor(col.try_cast("decimal(30,0)") / 1000).cast("long")))
        elif fmt == "iso8601":
            attempts.append(F.try_to_timestamp(col))
        else:
            ts = F.try_to_timestamp(col.cast("string"), F.lit(_sdf_to_spark(fmt)))
            if input_tz and input_tz.upper() != "UTC":
                ts = F.to_utc_timestamp(ts, input_tz)
            attempts.append(ts)
    return F.coalesce(*attempts) if len(attempts) > 1 else attempts[0]


_SPECIAL_TS_FORMATS = {"unixTimeInMillis", "unixTimeInSeconds", "unixTimeInNanos", "posixTime", "iso8601"}


def _validate_datetime_pattern(fmt: str) -> None:
    """Surface bad datetime patterns at compile time (config typos would
    otherwise fail mid-job with a Spark execution error).  Optimizing a
    literal ``date_format`` constant-folds it, which builds the formatter
    and rejects a bad pattern, without running a Spark job."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return  # no session yet; the error will surface at first execution
    try:
        escaped = _sdf_to_spark(fmt).replace("'", "''")
        spark.sql(
            f"SELECT date_format(timestamp'2020-01-02 03:04:05', '{escaped}')"
        )._jdf.queryExecution().optimizedPlan()
    except Exception as e:
        from kafka_connect_morphlines_spark.pipeline import PipelineSpecError

        raise PipelineSpecError(f"invalid datetime pattern {fmt!r}: {str(e).splitlines()[0]}") from e


@command("convertTimestamp")
def convert_timestamp(config, ctx):
    """Multi-format timestamp parse/render (kite convertTimestamp; reference
    usage config/cloudsolr.conf:43-51 = unixTimeInMillis -> ISO8601,
    httpsolr.conf:47-55 = multi-format with TZ shift)."""
    fld = config.get("field", "timestamp")
    input_formats = config.get("inputFormats", ["iso8601"])
    for _fmt in list(input_formats) + [config.get("outputFormat", "")]:
        if _fmt and _fmt not in _SPECIAL_TS_FORMATS:
            _validate_datetime_pattern(_fmt)
    input_tz = config.get("inputTimezone", "UTC")
    output_fmt = config.get("outputFormat", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    output_tz = config.get("outputTimezone", "UTC")
    col = colref(fld)
    ts = parse_timestamp_attempts(col, input_formats, input_tz)
    if output_fmt == "unixTimeInMillis":
        out = F.unix_millis(ts)
    elif output_fmt in ("unixTimeInSeconds", "posixTime"):
        out = F.unix_seconds(ts)
    else:
        local = F.from_utc_timestamp(ts, output_tz) if output_tz and output_tz.upper() != "UTC" else ts
        out = F.date_format(local, _sdf_to_spark(output_fmt))

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(fld, out)

    return transform


@command("toString")
def to_string(config, ctx):
    """Stringify a field; optional trim (kite toString; reference usage
    src/test/resources/.../transform.conf:45-50)."""
    fld = config.get("field")
    col = colref(fld).cast("string")
    if config.get("trim", False):
        col = F.trim(col)

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(fld, col)

    return transform


@command("toByteArray")
def to_byte_array(config, ctx):
    fld = config.get("field")
    charset = config.get("charset", "UTF-8")

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(fld, F.encode(colref(fld).cast("string"), charset))

    return transform


@command("decodeBase64")
def decode_base64(config, ctx):
    fld = config.get("field")

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(fld, F.unbase64(colref(fld).cast("string")))

    return transform


@command("findReplace")
def find_replace(config, ctx):
    """Literal or regex find/replace (kite findReplace).

    Multimap parity (r08): on an ArrayType field the replacement maps over
    every element — the reference's Record is a String -> List multimap, so
    kite findReplace rewrites EACH value in the field's list.  Previously an
    array input was stringified whole (silent wrong result)."""
    fld = config.get("field")
    pattern = str(config.get("pattern", config.get("find", "")))
    replacement = str(config.get("replacement", config.get("replace", "")))
    is_regex = config.get("isRegex", "pattern" in config)
    replace_first = config.get("replaceFirst", False)
    pat = pattern if is_regex else re.escape(pattern)

    def replaced(col: Column) -> Column:
        col = col.cast("string")
        if replace_first:
            # prefix = longest run before the first match; group refs unsupported here
            prefix = F.regexp_extract(col, f"(?s)^((?:(?!{pat}).)*)", 1)
            matched = F.regexp_extract(col, f"(?s)^(?:(?!{pat}).)*({pat})", 1)
            suffix = col.substr(F.length(prefix) + F.length(matched) + F.lit(1), F.lit(2147483647))
            return F.when(col.rlike(pat), F.concat(prefix, F.lit(replacement), suffix)).otherwise(col)
        return F.regexp_replace(col, pat, replacement)

    def transform(df: DataFrame) -> DataFrame:
        dtype = next((f.dataType for f in df.schema.fields if f.name == fld), None)
        if isinstance(dtype, T.ArrayType):
            return df.withColumn(fld, F.transform(colref(fld), replaced))
        return df.withColumn(fld, replaced(colref(fld)))

    return transform


@command("split")
def split_cmd(config, ctx):
    """Split a string field by separator into a list or numbered fields.

    Multimap parity (r08): an ArrayType input splits EACH element and
    flattens the results into one list — kite split iterates the field's
    value list and appends every piece to the output list.  ``outputFields``
    (positional extraction) is undefined on a multi-valued input and raises
    a clear PipelineSpecError instead of silently picking an element."""
    from kafka_connect_morphlines_spark.pipeline import PipelineSpecError

    in_fld = config.get("inputField")
    sep = str(config.get("separator", ","))
    is_regex = config.get("isRegex", False)
    limit = int(config.get("limit", -1))
    add_empty = config.get("addEmptyStrings", True)
    do_trim = config.get("trim", True)
    out_fld = config.get("outputField")
    out_fields = config.get("outputFields")
    pat = sep if is_regex else re.escape(sep)

    def split_one(col: Column) -> Column:
        arr = F.split(col.cast("string"), pat, limit)
        if do_trim:
            arr = F.transform(arr, lambda x: F.trim(x))
        if not add_empty:
            arr = F.filter(arr, lambda x: x != "")
        return arr

    def transform(df: DataFrame) -> DataFrame:
        dtype = next((f.dataType for f in df.schema.fields if f.name == in_fld), None)
        if isinstance(dtype, T.ArrayType):
            if out_fields:
                raise PipelineSpecError(
                    f"split: outputFields (positional extraction) is undefined on "
                    f"the multi-valued (ArrayType) field {in_fld!r} — each element "
                    f"splits into its own list.  Use outputField to collect the "
                    f"flattened pieces, or explode the field first."
                )
            return df.withColumn(
                out_fld or in_fld, F.flatten(F.transform(colref(in_fld), split_one))
            )
        arr = split_one(colref(in_fld))
        if out_fields:
            for i, name in enumerate(out_fields):
                if name:
                    df = df.withColumn(str(name), F.element_at(arr, i + 1))
            return df
        return df.withColumn(out_fld or in_fld, arr)

    return transform


@command("splitKeyValue")
def split_key_value(config, ctx):
    """Split ``k=v`` items into a map column.

    Deviation from kite (which creates one record field per key): Spark frames
    have a fixed schema, so dynamic keys land in a ``MapType`` column named
    ``outputField`` and are read with ``element_at``/``map_keys``.  With
    ``outputFields`` given, those keys are promoted to real columns
    (``outputPrefix`` applied).
    """
    in_fld = config.get("inputField")
    kv_sep = str(config.get("separator", "="))
    item_sep = str(config.get("itemSeparator", ","))
    prefix = config.get("outputPrefix", "")
    out_fld = config.get("outputField", "kv")
    out_fields = config.get("outputFields")
    do_trim = config.get("trim", True)

    def _value_part(x):
        v = F.substring(x, F.length(F.substring_index(x, kv_sep, 1)) + F.lit(len(kv_sep) + 1), F.lit(2147483647))
        return F.trim(v) if do_trim else v

    def _key_part(x):
        k = F.substring_index(x, kv_sep, 1)
        return F.trim(k) if do_trim else k

    def transform(df: DataFrame) -> DataFrame:
        dtype = {f.name: f.dataType for f in df.schema.fields}.get(in_fld)
        if isinstance(dtype, T.ArrayType):
            items = colref(in_fld)
        else:
            items = F.split(colref(in_fld).cast("string"), re.escape(item_sep))
        entries = F.transform(items, lambda x: F.struct(_key_part(x).alias("key"), _value_part(x).alias("value")))
        m = F.map_from_entries(F.filter(entries, lambda e: e["key"] != ""))
        if out_fields:
            for name in out_fields:
                df = df.withColumn(prefix + name, F.element_at(m, name))
            return df
        return df.withColumn(out_fld, m)

    return transform


@command("translate")
def translate(config, ctx):
    """Map a field's value through a literal dictionary (kite translate).

    Without ``fallback`` the reference fails (drops) unmatched records; we
    mirror that with a filter.
    """
    fld = config.get("field")
    dictionary = config.get("dictionary", {})
    has_fallback = "fallback" in config
    fallback = config.get("fallback")
    pairs = []
    for k, v in dictionary.items():
        pairs.extend([F.lit(str(k)), F.lit(v)])
    mapping = F.create_map(*pairs) if pairs else F.create_map()
    looked = F.element_at(mapping, colref(fld).cast("string"))

    def transform(df: DataFrame) -> DataFrame:
        if has_fallback:
            return df.withColumn(fld, F.coalesce(looked, F.lit(fallback)))
        return df.withColumn("__t", looked).filter(F.col("__t").isNotNull()).withColumn(fld, F.col("__t")).drop("__t")

    return transform


# Latin accent fold map for normalizeText — one translate() codegen pass,
# mirrored verbatim by the oracle's translate() so both engines fold the
# same characters (a portable subset, unlike engine-specific strip_accents).
_ACCENTS_FROM = "áàâäãåāéèêëēíìîïīóòôöõøōúùûüūýÿñçćčšžÁÀÂÄÃÅĀÉÈÊËĒÍÌÎÏĪÓÒÔÖÕØŌÚÙÛÜŪÝŸÑÇĆČŠŽ"
_ACCENTS_TO = "aaaaaaaeeeeeiiiiiooooooouuuuuyyncccszAAAAAAAEEEEEIIIIIOOOOOOOUUUUUYYNCCCSZ"


@command("normalizeText")
def normalize_text(config, ctx):
    """Text normalization for dedup/matching keys: trim, whitespace
    collapse, optional lowercase + Latin accent fold.  All codegen string
    ops (translate/regexp_replace/lower) — map-only at any scale."""
    fld = config.get("field", "text")
    out_fld = config.get("outputField", fld)
    col = colref(fld).cast("string")
    out = F.regexp_replace(F.trim(col), r"\s+", " ")
    if config.get("lowercase", True):
        out = F.lower(out)
    if config.get("foldAccents", True):
        out = F.translate(out, _ACCENTS_FROM, _ACCENTS_TO)

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(out_fld, out)

    return transform


@command("tokenizeText")
def tokenize_text(config, ctx):
    """Whitespace/regex tokenizer (kite tokenizeText without the Lucene
    dependency): splits ``inputField`` into an array ``outputField``,
    dropping empties.  Codegen split+filter; explode stays the caller's
    choice (1->N is a plan decision, not a tokenizer side effect)."""
    in_fld = config.get("inputField", "text")
    out_fld = config.get("outputField", "tokens")
    pattern = str(config.get("pattern", r"\s+"))
    toks = F.filter(F.split(F.trim(colref(in_fld).cast("string")), pattern), lambda t: t != "")

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(out_fld, toks)

    return transform
