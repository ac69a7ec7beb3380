"""One compile-time schema binder (avro_schema.bind_schema) for every command:
relative schemaFile paths resolve against the conf's directory, registry
lookups happen once per compile, and keys a command cannot use fail at
compile time.  Also the parser-chain DLQ flag, which ORs across parsers."""

from __future__ import annotations

import json

import pytest

from kafka_connect_morphlines_spark import Pipeline, compile_pipeline, schema_registry
from kafka_connect_morphlines_spark.avro_codec import decode_confluent, decode_datum
from kafka_connect_morphlines_spark.pipeline import PipelineSpecError
from kafka_connect_morphlines_spark.sources.kafka import read_kafka_batch
from kafka_connect_morphlines_spark.streaming.runner import quarantine_split

SCHEMA = json.dumps(
    {"type": "record", "name": "Ev", "fields": [{"name": "name", "type": "string"}, {"name": "n", "type": "long"}]}
)
KEY_SCHEMA = '{"type":"record","name":"K","fields":[{"name":"k","type":"string"}]}'


def _conf_pipeline(tmp_path, monkeypatch, commands: str) -> Pipeline:
    """Load a one-morphline conf whose schemas sit next to it under
    ``schemas/``, then compile it from a different working directory."""
    conf_dir = tmp_path / "conf"
    (conf_dir / "schemas").mkdir(parents=True)
    (conf_dir / "schemas" / "ev.avsc").write_text(SCHEMA)
    (conf_dir / "schemas" / "key.avsc").write_text(KEY_SCHEMA)
    conf = conf_dir / "pipe.conf"
    conf.write_text("morphlines : [ { id : p, importCommands : [\"org.kitesdk.**\"], commands : [ %s ] } ]" % commands)
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    monkeypatch.chdir(elsewhere)
    return Pipeline.from_file(str(conf), morphline_id="p")


def test_kafka_producer_relative_schema_file_from_other_cwd(spark, broker, tmp_path, monkeypatch):
    p = _conf_pipeline(
        tmp_path,
        monkeypatch,
        """
        { sqlExpr { _value : "struct(name, n)", kcol : "named_struct('k', name)" } }
        { kafkaProducer {
            topic : rel_schema, format : avro, schemaFile : "schemas/ev.avsc", schemaId : 5
            keyField : kcol, keyFormat : avro, keySchemaFile : "schemas/key.avsc"
            properties { bootstrap-servers : "%s" }
        } }
        """
        % broker,
    )
    p(spark.createDataFrame([("a", 1), ("b", 2)], "name string, n long")).count()
    rows = read_kafka_batch(spark, broker, "rel_schema").collect()
    assert sorted((decode_confluent(bytes(r["_value"]), SCHEMA) for r in rows), key=lambda t: t[1]["name"]) == [
        (5, {"name": "a", "n": 1}),
        (5, {"name": "b", "n": 2}),
    ]
    assert sorted(decode_datum(bytes(r["_key"]), KEY_SCHEMA)["k"] for r in rows) == ["a", "b"]


def test_from_connect_data_relative_schema_file_from_other_cwd(spark, tmp_path, monkeypatch):
    p = _conf_pipeline(
        tmp_path,
        monkeypatch,
        """
        { sqlExpr { _value : "struct(name, n)" } }
        { fromConnectData { converter : avro, schemaFile : "schemas/ev.avsc" } }
        """,
    )
    rows = p(spark.createDataFrame([("a", 1)], "name string, n long")).collect()
    assert [decode_datum(bytes(r["_attachment_body"]), SCHEMA) for r in rows] == [{"name": "a", "n": 1}]


def test_kafka_producer_registry_schema_resolves_once(spark, broker, monkeypatch):
    """The registry lookup happens when the pipeline compiles, not once per
    applied micro-batch."""
    calls = []

    def fetch(url, subject, timeout=10.0):
        calls.append(subject)
        return SCHEMA

    monkeypatch.setattr(schema_registry, "fetch_latest_schema", fetch)
    p = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(name, n)"}},
            {
                "kafkaProducer": {
                    "topic": "reg_once",
                    "format": "avro",
                    "properties": {"bootstrap-servers": broker, "schema-registry-url": "http://registry.invalid"},
                    "subject": "ev-value",
                }
            },
        ]
    )
    df = spark.createDataFrame([("a", 1)], "name string, n long")
    p(df).count()
    p(df).count()
    rows = read_kafka_batch(spark, broker, "reg_once").collect()
    assert calls == ["ev-value"]
    assert [decode_datum(bytes(r["_value"]), SCHEMA) for r in rows] == [{"name": "a", "n": 1}] * 2


def test_enrich_json_binds_registry_schema_id(spark):
    schema_registry.ID_OVERRIDES[77] = SCHEMA
    try:
        p = compile_pipeline(
            [{"enrichJson": {"valueField": "payload", "schemaRegistryUrl": "http://registry.invalid", "schemaId": 77}}]
        )
        [row] = p(spark.createDataFrame([('{"name": "x", "n": 3, "zzz": 1}',)], "payload string")).collect()
        assert row["payload"].asDict() == {"name": "x", "n": 3}
    finally:
        schema_registry.ID_OVERRIDES.clear()


def test_ddl_schema_on_avro_command_fails_at_compile(spark):
    with pytest.raises(PipelineSpecError, match="Spark DDL"):
        compile_pipeline([{"readAvro": {"schemaDdl": "name string, n long"}}])


def test_chained_flag_invalid_keeps_earlier_parser_flag(spark):
    """A row whose first field fails to parse stays quarantined even when a
    later flagInvalid parser accepts its own field."""
    p = compile_pipeline(
        [
            {"readJson": {"inputField": "a", "outputField": "ja", "schemaDdl": "x int", "flagInvalid": True}},
            {"readJson": {"inputField": "b", "outputField": "jb", "schemaDdl": "y int", "flagInvalid": True}},
        ]
    )
    df = spark.createDataFrame(
        [(1, '{"x": 1}', '{"y": 1}'), (2, "{bad", '{"y": 2}'), (3, '{"x": 3}', "{bad")], "id int, a string, b string"
    )
    good, bad = quarantine_split(p(df))
    assert sorted(r["id"] for r in good.collect()) == [1]
    assert sorted(r["id"] for r in bad.collect()) == [2, 3]


def test_read_json_reapplied_keeps_its_output_schema(spark):
    """A compiled typed readJson runs once per micro-batch; every run must
    produce the bound struct, without the corrupt-record helper field."""
    p = compile_pipeline([{"readJson": {"inputField": "a", "schemaDdl": "x int", "flagInvalid": True}}])
    df = spark.createDataFrame([('{"x": 1}',)], "a string")
    first, second = p(df), p(df)
    assert first.schema["_json"].dataType.simpleString() == "struct<x:int>"
    assert second.schema == first.schema
