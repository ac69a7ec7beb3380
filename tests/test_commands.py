"""Per-command unit tests for the morphline command surface (SURVEY.md §2 B)
not already pinned by the golden tests or the oracle corpus."""

import base64
import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_morphlines_spark import compile_pipeline
from kafka_connect_morphlines_spark.commands.sinks import LOAD_CLIENTS, MEMORY_SINKS
from kafka_connect_morphlines_spark.sources.kafka import read_kafka_batch


def run(spark, commands, rows, schema):
    return compile_pipeline(commands)(spark.createDataFrame(rows, schema))


def test_add_values_appends_array(spark):
    out = run(
        spark,
        [{"addValues": {"tags": "a"}}, {"addValues": {"tags": "b"}}],
        [("x",)],
        "name string",
    ).collect()[0]
    assert out["tags"] == ["a", "b"]


def test_add_values_if_absent(spark):
    out = run(
        spark,
        [{"addValues": {"tags": ["a", "b"]}}, {"addValuesIfAbsent": {"tags": ["b", "c"]}}],
        [("x",)],
        "name string",
    ).collect()[0]
    assert out["tags"] == ["a", "b", "c"]


def test_remove_fields_glob_and_literal(spark):
    df = run(
        spark,
        [{"removeFields": ["glob:tmp_*", "gone"]}],
        [("a", "b", "c", "d")],
        "keep string, tmp_x string, tmp_y string, gone string",
    )
    assert df.columns == ["keep"]


def test_remove_values_scalar_and_array(spark):
    out = run(
        spark,
        [{"addValues": {"arr": ["a", "b", "c"]}}, {"removeValues": {"arr": ["b"], "scalar": ["drop-me"]}}],
        [("drop-me",), ("keep",)],
        "scalar string",
    ).orderBy("scalar").collect()
    assert out[0]["scalar"] is None and out[0]["arr"] == ["a", "c"]
    assert out[1]["scalar"] == "keep"


def test_find_replace_regex_and_first(spark):
    out = run(
        spark,
        [
            {"setValues": {"all": "@{s}", "first": "@{s}"}},
            {"findReplace": {"field": "all", "pattern": "o+", "replacement": "0"}},
            {"findReplace": {"field": "first", "pattern": "o+", "replacement": "0", "replaceFirst": True}},
        ],
        [("foo boo",)],
        "s string",
    ).collect()[0]
    assert out["all"] == "f0 b0"
    assert out["first"] == "f0 boo"


def test_to_byte_array_and_base64(spark):
    payload = base64.b64encode(b"hello").decode()
    out = run(
        spark,
        [{"decodeBase64": {"field": "b64"}}, {"toByteArray": {"field": "s", "charset": "UTF-8"}}],
        [(payload, "text")],
        "b64 string, s string",
    ).collect()[0]
    assert bytes(out["b64"]) == b"hello"
    assert bytes(out["s"]) == b"text"


def test_split_numbered_fields(spark):
    out = run(
        spark,
        [{"split": {"inputField": "csv", "outputFields": ["a", "", "c"], "separator": ","}}],
        [("1,2,3",)],
        "csv string",
    ).collect()[0]
    assert out["a"] == "1" and out["c"] == "3"
    assert "b" not in out.asDict()


def test_split_key_value_map_output(spark):
    out = run(
        spark,
        [{"splitKeyValue": {"inputField": "kv", "itemSeparator": "&", "outputField": "m"}}],
        [("a=1&b=two&c=x=y",)],
        "kv string",
    ).collect()[0]
    assert out["m"] == {"a": "1", "b": "two", "c": "x=y"}


def test_convert_timestamp_multi_format_tz(spark):
    out = run(
        spark,
        [
            {
                "convertTimestamp": {
                    "field": "ts",
                    "inputFormats": ["yyyy-MM-dd'T'HH:mm:ss'Z'", "yyyy.MM.dd HH:mm:ss", "unixTimeInMillis"],
                    "inputTimezone": "America/Los_Angeles",
                    "outputFormat": "yyyy-MM-dd HH:mm:ss",
                    "outputTimezone": "UTC",
                }
            }
        ],
        [("2017.01.20 00:35:02",), ("2017-01-20T00:35:02Z",)],
        "ts string",
    ).collect()
    # PST wall time 00:35 -> 08:35 UTC; the 'Z'-suffixed format also parses
    # as LA wall time per inputTimezone (kite semantics: formats have no TZ)
    assert {r["ts"] for r in out} == {"2017-01-20 08:35:02"}


def test_translate_without_fallback_drops(spark):
    out = run(
        spark,
        [{"translate": {"field": "t", "dictionary": {"a": "1"}}}],
        [("a",), ("zzz",)],
        "t string",
    ).collect()
    assert len(out) == 1 and out[0]["t"] == "1"


def test_grok_dictionary_string_and_drop(spark):
    out = run(
        spark,
        [
            {
                "grok": {
                    "dictionaryString": "MYLEVEL (?:INFO|ERROR)",
                    "expressions": {"line": "%{MYLEVEL:level} %{INT:code:int} %{GREEDYDATA:msg}"},
                }
            }
        ],
        [("INFO 200 all good",), ("garbage line",)],
        "line string",
    ).collect()
    assert len(out) == 1
    assert out[0]["level"] == "INFO" and out[0]["code"] == 200 and out[0]["msg"] == "all good"


def test_grok_extract_false_filters_only(spark):
    out = run(
        spark,
        [{"grok": {"expressions": {"line": "%{INT}"}, "extract": "false"}}],
        [("123",), ("abc",)],
        "line string",
    )
    assert out.count() == 1
    assert "g0" not in out.columns


def test_read_multi_line_next(spark):
    body = "part1\\\npart2\nsolo"
    out = run(
        spark,
        [{"readMultiLine": {"regex": r".*\\$", "what": "next", "inputField": "body"}}],
        [(body,)],
        "body string",
    ).select("message").orderBy("message").collect()
    assert [r["message"] for r in out] == ["part1\\\npart2", "solo"]


def test_separate_attachments_explode(spark):
    out = run(
        spark,
        [{"split": {"inputField": "s", "outputField": "parts", "separator": ","}}, {"separateAttachments": {"inputField": "parts", "outputField": "item"}}],
        [("a,b,c",)],
        "s string",
    )
    assert [r["item"] for r in out.orderBy("item").collect()] == ["a", "b", "c"]


def test_sample_seeded_deterministic(spark):
    df = spark.range(1000).withColumnRenamed("id", "x")
    p = compile_pipeline([{"sample": {"probability": 0.2, "seed": 7}}])
    a = sorted(r["x"] for r in p(df).collect())
    b = sorted(r["x"] for r in p(df).collect())
    assert a == b and 100 < len(a) < 300


def test_python_command(spark):
    code = "def process(df):\n    return df.withColumn('y', F.col('x') * 2)"
    out = run(spark, [{"python": {"code": code}}], [(21,)], "x int").collect()[0]
    assert out["y"] == 42


def test_sql_expr_and_where(spark):
    out = run(
        spark,
        [{"sqlExpr": {"y": "x * 10"}}, {"where": {"expr": "y >= 20"}}],
        [(1,), (2,), (3,)],
        "x int",
    )
    assert sorted(r["y"] for r in out.collect()) == [20, 30]


def test_pandas_batch_command(spark):
    code = "def process(pdf):\n    pdf['double'] = pdf['x'] * 2\n    return pdf[['x', 'double']]"
    out = run(
        spark,
        [{"pandasBatch": {"code": code, "outputSchema": "x long, double long"}}],
        [(5,), (6,)],
        "x long",
    )
    assert sorted((r["x"], r["double"]) for r in out.collect()) == [(5, 10), (6, 12)]


def test_kafka_producer_files_transport(spark, broker):
    """valueField + format json through the native transport, published to
    the embedded broker's file-backed log: a string value goes out as-is."""
    p = compile_pipeline(
        [{"kafkaProducer": {"topic": "t1", "valueField": "v", "format": "json", "properties": {"bootstrap-servers": broker}}}]
    )
    df = spark.createDataFrame([("a",), ("b",)], "v string")
    result = p(df)  # pass-through publisher
    assert result.count() == 2
    rows = read_kafka_batch(spark, broker, "t1").collect()
    assert sorted(bytes(r["_value"]).decode() for r in rows) == ["a", "b"]
    assert {r["_topic"] for r in rows} == {"t1"}


def test_load_solr_mock_client(spark):
    """Mirrors the reference's mocked-SolrClient test strategy
    (MorphlineSinkTaskTest.java:59-91)."""
    received = []
    LOAD_CLIENTS["mock"] = received.extend
    # a driver-side list mock needs clientMode=driver: the default partition
    # transport pickles the client to executors where appends are invisible
    p = compile_pipeline([{"loadSolr": {"client": "mock", "batchSize": 2, "clientMode": "driver"}}])
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string")
    p(df)
    assert sorted(d["id"] for d in received) == [1, 2, 3]


def test_load_solr_partition_client(spark, tmp_path):
    """Default client transport is executor-side foreachPartition (the
    100 TB shape — no driver collect): a picklable file-writing client
    proves batches are delivered from worker processes."""
    out_dir = str(tmp_path / "client-batches")
    os.makedirs(out_dir)

    def file_client(batch, _dir=out_dir):
        import json as _json
        import os as _os
        import uuid as _uuid

        with open(_os.path.join(_dir, f"{_uuid.uuid4().hex}.json"), "w") as fh:
            _json.dump(batch, fh)

    LOAD_CLIENTS["file_client"] = file_client
    p = compile_pipeline([{"loadSolr": {"client": "file_client", "batchSize": 2}}])
    df = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "id int, v string").coalesce(2)
    p(df)
    batches = [json.load(open(os.path.join(out_dir, f))) for f in os.listdir(out_dir)]
    assert sorted(d["id"] for b in batches for d in b) == [0, 1, 2, 3, 4]
    assert all(len(b) <= 2 for b in batches)  # batchSize respected executor-side


def test_generate_solr_sequence_key(spark):
    out = run(spark, [{"generateSolrSequenceKey": {"baseIdField": "base", "field": "id"}}], [("x",), ("y",)], "base string")
    ids = [r["id"] for r in out.collect()]
    assert all("#" in i for i in ids) and len(set(ids)) == 2


def test_sanitize_unknown_fields(spark):
    df = run(
        spark,
        [{"sanitizeUnknownFields": {"fields": ["keep1", "keep2"]}}],
        [("a", "b", "c")],
        "keep1 string, keep2 string, surprise string",
    )
    assert df.columns == ["keep1", "keep2"]


def test_sanitize_unknown_fields_solr_locator(spark):
    """solrLocator resolves the collection schema at compile time via the
    Solr Schema API (GET <solrUrl>/<collection>/schema/fields), mirroring
    the reference's solrLocator fetch (config/cloudsolr.conf:1-7)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    hits = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            hits.append(self.path)
            self.send_response(200)
            self.end_headers()
            self.wfile.write(_json.dumps({"fields": [{"name": "keep1"}, {"name": "keep2"}]}).encode())

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_port}/solr"
        df = run(
            spark,
            [{"sanitizeUnknownSolrFields": {"solrLocator": {"collection": "col1", "solrUrl": url}}}],
            [("a", "b", "c")],
            "keep1 string, keep2 string, surprise string",
        )
        assert df.columns == ["keep1", "keep2"]
        assert hits == ["/solr/col1/schema/fields?wt=json"]  # one compile-time fetch
    finally:
        server.shutdown()


def test_uri_component_port_and_fragment(spark):
    out = run(
        spark,
        [
            {"extractURIComponent": {"inputField": "u", "outputField": "port", "component": "port"}},
            {"extractURIComponent": {"inputField": "u", "outputField": "frag", "component": "fragment"}},
        ],
        [("http://h.example:9999/p?q=1#sec2",)],
        "u string",
    ).collect()[0]
    assert out["port"] == 9999 and out["frag"] == "sec2"


def test_extract_avro_tree_flattens(spark):
    df = spark.sql("SELECT named_struct('a', 1, 'nest', named_struct('b', 'x')) AS _value")
    out = compile_pipeline([{"extractAvroTree": {"outputPrefix": "t_"}}])(df).collect()[0]
    assert out["t_a"] == 1 and out["t_nest_b"] == "x"


def test_add_current_time_and_localhost(spark):
    out = run(spark, [{"addCurrentTime": {}}, {"addLocalHost": {"useIP": False}}], [("x",)], "s string").collect()[0]
    assert out["timestamp"] > 1_500_000_000_000
    assert isinstance(out["host"], str) and out["host"]


def test_head_and_observe(spark):
    df = spark.range(100).withColumnRenamed("id", "x")
    out = compile_pipeline([{"observe": {"name": "m1"}}, {"head": {"limit": 7}}])(df)
    assert out.count() == 7


def test_compile_overrides(spark):
    """Config override merge — the engine analog of the reference's
    override.withFallback(fileConfig) (MorphlineTransform.java:187)."""
    spec = {"morphlines": [{"id": "m", "commands": [{"setValues": {"v": "base"}}]}]}
    p = compile_pipeline(spec, morphline_id="m", overrides={"morphlines": [{"id": "m", "commands": [{"setValues": {"v": "overridden"}}]}]})
    out = p(spark.createDataFrame([(1,)], "x int")).collect()[0]
    assert out["v"] == "overridden"


def test_rename_command(spark):
    out = run(spark, [{"rename": {"new_name": "old"}}], [("v",)], "old string")
    assert out.columns == ["new_name"]


def test_read_avro_raw_datum_python_fallback(spark):
    """readAvro on raw datum bytes: pure-Python decoder path (no spark-avro
    jar in this image), bound schema, typed struct out."""
    from kafka_connect_morphlines_spark.avro_codec import encode_datum

    schema = (
        '{"type":"record","name":"Person","fields":['
        '{"name":"firstName","type":"string"},'
        '{"name":"age","type":["null","int"]},'
        '{"name":"scores","type":{"type":"array","items":"double"}}]}'
    )
    rows = [
        (1, encode_datum({"firstName": "example", "age": 27, "scores": [1.5]}, schema)),
        (2, encode_datum({"firstName": "other", "age": None, "scores": []}, schema)),
    ]
    df = spark.createDataFrame(rows, "id int, payload binary")
    p = compile_pipeline([{"readAvro": {"inputField": "payload", "schemaString": schema, "outputField": "rec"}}])
    got = {r["id"]: r for r in p(df).select("id", "rec.firstName", "rec.age", "rec.scores").collect()}
    assert got[1]["firstName"] == "example" and got[1]["age"] == 27 and got[1]["scores"] == [1.5]
    assert got[2]["firstName"] == "other" and got[2]["age"] is None and got[2]["scores"] == []


def test_read_avro_container_explodes_and_infers_schema(spark):
    """readAvroContainer: container blob -> one row per record, with the
    output type inferred from the embedded writer schema (no schema config)."""
    from kafka_connect_morphlines_spark.avro_codec import write_container

    schema = (
        '{"type":"record","name":"Ev","fields":['
        '{"name":"k","type":"string"},{"name":"v","type":"long"}]}'
    )
    blob1 = write_container([{"k": "a", "v": 1}, {"k": "b", "v": 2}], schema, codec="deflate")
    blob2 = write_container([{"k": "c", "v": 3}], schema)
    df = spark.createDataFrame([(1, blob1), (2, blob2)], "src int, payload binary")
    p = compile_pipeline([{"readAvroContainer": {"inputField": "payload", "outputField": "rec"}}])
    got = sorted((r["src"], r["k"], r["v"]) for r in p(df).select("src", "rec.k", "rec.v").collect())
    assert got == [(1, "a", 1), (1, "b", 2), (2, "c", 3)]


def test_read_avro_container_reader_schema_conformance(spark):
    """A bound reader schema projects/conforms the embedded writer records:
    missing fields null-fill, extra fields drop (enrichJson-style)."""
    from kafka_connect_morphlines_spark.avro_codec import write_container

    writer = (
        '{"type":"record","name":"Ev","fields":['
        '{"name":"k","type":"string"},{"name":"extra","type":"int"}]}'
    )
    reader = (
        '{"type":"record","name":"Ev","fields":['
        '{"name":"k","type":"string"},{"name":"missing","type":["null","long"]}]}'
    )
    blob = write_container([{"k": "x", "extra": 9}], writer)
    df = spark.createDataFrame([(blob,)], "payload binary")
    p = compile_pipeline(
        [{"readAvroContainer": {"inputField": "payload", "schemaString": reader, "outputField": "rec"}}]
    )
    row = p(df).select("rec.*").collect()[0]
    assert row["k"] == "x" and row["missing"] is None
    assert "extra" not in row.asDict()


def test_enrich_json_wrap_unions(spark):
    """enrichJson wrapUnions: union-typed values render as
    {"<type>": value}, nulls as explicit JSON null, nested records and
    arrays of unions recursively (EnrichJsonBuilder.java:265-287,367-407)."""
    schema = (
        '{"type":"record","name":"P","fields":['
        '{"name":"name","type":"string"},'
        '{"name":"age","type":["null","int"]},'
        '{"name":"tags","type":{"type":"array","items":["null","string"]}},'
        '{"name":"nest","type":{"type":"record","name":"N","fields":[{"name":"x","type":["null","long"]}]}}]}'
    )
    df = spark.createDataFrame(
        [
            ('{"name":"a","age":27,"tags":["t",null],"nest":{"x":5}}',),
            ('{"name":"b","tags":[],"nest":{}}',),
        ],
        "payload string",
    )
    p = compile_pipeline([{"enrichJson": {"valueField": "payload", "outputField": "wrapped", "schemaString": schema, "wrapUnions": True}}])
    got = [r["wrapped"] for r in p(df).collect()]
    assert got[0] == '{"name":"a","age":{"int":27},"tags":[{"string":"t"},null],"nest":{"x":{"long":5}}}'
    assert got[1] == '{"name":"b","age":null,"tags":[],"nest":{"x":null}}'


def test_enrich_json_wrap_unions_namespaced(spark):
    """Named union branches (record/enum/fixed) wrap with the
    namespace-qualified fullname — valueSchema.getFullName() in the
    reference — including namespace inheritance into nested named types;
    map-typed union values recurse (Avro spec, "Names" / JSON encoding)."""
    schema = (
        '{"type":"record","name":"P","namespace":"com.acme","fields":['
        '{"name":"child","type":["null",{"type":"record","name":"C","fields":'
        '[{"name":"y","type":["null","int"]}]}]},'
        '{"name":"qualified","type":["null",{"type":"record","name":"Q","namespace":"org.other","fields":'
        '[{"name":"z","type":"long"}]}]},'
        '{"name":"m","type":{"type":"map","values":["null","string"]}}]}'
    )
    df = spark.createDataFrame(
        [('{"child":{"y":3},"qualified":{"z":7},"m":{"k":"v","n":null}}',)],
        "payload string",
    )
    p = compile_pipeline(
        [{"enrichJson": {"valueField": "payload", "outputField": "wrapped", "schemaString": schema, "wrapUnions": True}}]
    )
    got = json.loads(p(df).collect()[0]["wrapped"])
    # C inherits com.acme; Q declares its own namespace; map values wrap
    assert got["child"] == {"com.acme.C": {"y": {"int": 3}}}
    assert got["qualified"] == {"org.other.Q": {"z": 7}}  # z is not a union: no wrap
    assert got["m"] == {"k": {"string": "v"}, "n": None}


def test_read_csv_quote_skip_and_header(spark):
    """readCSV edge config (kite parity): quoted separators survive, empty
    column names skip positions, ignoreFirstLine drops the header, trim
    strips padding."""
    body = 'h1;h2;h3\n" a ";skipme;"x;y"\nb; z ;c'
    df = spark.createDataFrame([(body,)], "_value string")
    p = compile_pipeline(
        [
            {
                "readCSV": {
                    "separator": ";",
                    "columns": ["first", "", "third"],
                    "quoteChar": '"',
                    "trim": True,
                    "ignoreFirstLine": True,
                }
            }
        ]
    )
    rows = sorted((r["first"], r["third"]) for r in p(df).collect())
    assert rows == [("a", "x;y"), ("b", "c")]
    assert "skipme" not in p(df).columns and "" not in p(df).columns


def test_pipe_composes_and_call_parent_pipe(spark):
    """pipe nests a child command chain; callParentPipe re-enters the full
    chain (reference: kite pipe/callParentPipe semantics)."""
    p = compile_pipeline(
        [
            {"setValues": {"a": "1"}},
            {"pipe": {"commands": [{"setValues": {"b": "2"}}, {"setValues": {"c": "@{a}-@{b}"}}]}},
        ]
    )
    [r] = p(spark.createDataFrame([("x",)], "_value string")).collect()
    assert (r["a"], r["b"], r["c"]) == ("1", "2", "1-2")


def test_canonicalize_uri_command(spark):
    from kafka_connect_morphlines_spark.pipeline import compile_pipeline

    p = compile_pipeline(
        [{"canonicalizeURI": {"inputField": "url", "outputField": "canon"}}]
    )
    df = spark.createDataFrame(
        [(1, "HTTP://WWW.Example.COM:80/A/?utm_source=x&id=2#f")], "id long, url string"
    )
    got = p(df).select("canon").collect()[0][0]
    assert got == "http://example.com/A?id=2"


def test_normalize_text_folds_accents_and_whitespace(spark):
    from kafka_connect_morphlines_spark.pipeline import compile_pipeline

    df = spark.createDataFrame(
        [(1, "  Crème   BRÛLÉE\trecipe "), (2, "naïve  café")], "id long, text string"
    )
    pipe = compile_pipeline([{"normalizeText": {"field": "text"}}])
    got = {r["id"]: r["text"] for r in pipe(df).collect()}
    assert got[1] == "creme brulee recipe"
    assert got[2] == "naive cafe"


def test_tokenize_text_drops_empties(spark):
    from kafka_connect_morphlines_spark.pipeline import compile_pipeline

    df = spark.createDataFrame([(1, "  a  b   c ")], "id long, text string")
    pipe = compile_pipeline([{"tokenizeText": {"inputField": "text"}}])
    assert pipe(df).collect()[0]["tokens"] == ["a", "b", "c"]
