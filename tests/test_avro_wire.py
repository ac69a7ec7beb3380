"""Confluent single-record wire format: magic 0x00 + 4-byte BE schema id +
Avro binary datum — the framing KafkaAvroSerializer produces and every
Schema-Registry-aware consumer expects (reference default serializer,
KafkaDataProducerCommandBuilder.java:251-256).

Covers the codec primitives, the readAvro consume path (header strip +
compile-time registry binding), and the kafkaProducer produce path through
the embedded broker — raw broker bytes must decode with a plain wire-format
consumer, proving interoperability, not just self-round-trip.
"""

from __future__ import annotations

import json

import pytest

from kafka_connect_morphlines_spark import compile_pipeline, schema_registry
from kafka_connect_morphlines_spark.avro_codec import (
    AvroCodecError,
    decode_confluent,
    encode_confluent,
    split_confluent,
)
from kafka_connect_morphlines_spark.sources.kafka import read_kafka_batch

SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Ev",
        "fields": [
            {"name": "name", "type": "string"},
            {"name": "n", "type": "long"},
        ],
    }
)


def test_wire_codec_roundtrip():
    buf = encode_confluent({"name": "a", "n": 7}, SCHEMA, 42)
    assert buf[0:1] == b"\x00" and buf[1:5] == (42).to_bytes(4, "big")
    sid, val = decode_confluent(buf, SCHEMA)
    assert sid == 42 and val == {"name": "a", "n": 7}


def test_wire_codec_rejects_bad_magic():
    with pytest.raises(AvroCodecError):
        split_confluent(b"\x01\x00\x00\x00\x2a")
    with pytest.raises(AvroCodecError):
        split_confluent(b"\x00\x00")  # too short
    with pytest.raises(AvroCodecError):
        encode_confluent({"name": "a", "n": 1}, SCHEMA, -1)


def test_read_avro_wire_format(spark):
    """readAvro {wireFormat: true}: the 5-byte header is stripped before the
    datum decode; values match the plain-datum decode."""
    rows = [(encode_confluent({"name": c, "n": i}, SCHEMA, 7),) for i, c in enumerate("abc")]
    df = spark.createDataFrame(rows, "_value binary")
    p = compile_pipeline([{"readAvro": {"schemaString": SCHEMA, "wireFormat": True, "outputField": "rec"}}])
    got = sorted((r["rec"]["name"], r["rec"]["n"]) for r in p(df).collect())
    assert got == [("a", 0), ("b", 1), ("c", 2)]


def test_read_avro_registry_binding(spark):
    """schemaRegistryUrl + schemaId resolves the reader schema at compile
    time (ID_OVERRIDES plays the registry, like OVERRIDES elsewhere) and
    implies wire framing."""
    schema_registry.ID_OVERRIDES[123] = SCHEMA
    try:
        rows = [(encode_confluent({"name": "x", "n": 5}, SCHEMA, 123),)]
        df = spark.createDataFrame(rows, "_value binary")
        p = compile_pipeline(
            [{"readAvro": {"schemaRegistryUrl": "http://registry.invalid", "schemaId": 123, "outputField": "rec"}}]
        )
        [r] = p(df).collect()
        assert (r["rec"]["name"], r["rec"]["n"]) == ("x", 5)
    finally:
        schema_registry.ID_OVERRIDES.clear()


def test_kafka_producer_avro_key_wire_format(spark, broker):
    """keyFormat=avro wire-frames the record key too (the reference's
    default key.serializer is also KafkaAvroSerializer)."""
    key_schema = '{"type":"record","name":"K","fields":[{"name":"k","type":"string"}]}'
    p = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(name, n)", "kcol": "named_struct('k', name)"}},
            {
                "kafkaProducer": {
                    "topic": "wk",
                    "format": "avro",
                    "schemaString": SCHEMA,
                    "schemaId": 9,
                    "keyField": "kcol",
                    "keyFormat": "avro",
                    "keySchemaString": key_schema,
                    "keySchemaId": 4,
                    "properties": {"bootstrap-servers": broker},
                }
            },
        ]
    )
    p(spark.createDataFrame([("a", 1)], "name string, n long"))
    [row] = read_kafka_batch(spark, broker, "wk").collect()
    assert decode_confluent(bytes(row["_key"]), key_schema) == (4, {"k": "a"})
    assert decode_confluent(bytes(row["_value"]), SCHEMA) == (9, {"name": "a", "n": 1})


def test_read_avro_wire_format_rejects_bad_magic(spark):
    """A record without the 0x00 magic raises instead of decoding garbage —
    KafkaAvroDeserializer parity (the jar-less python path validates
    per-record; the JVM from_avro path has no hook and is documented)."""
    good = encode_confluent({"name": "a", "n": 1}, SCHEMA, 7)
    bad = b"\x01" + good[1:]
    df = spark.createDataFrame([(good,), (bad,)], "_value binary")
    p = compile_pipeline([{"readAvro": {"schemaString": SCHEMA, "wireFormat": True, "outputField": "rec"}}])
    with pytest.raises(Exception, match="wire format"):
        p(df).collect()


def test_read_avro_wire_format_on_stream(spark, tmp_path):
    """The wire-format consume path is a plain frame transform, so the same
    compiled pipeline runs over a Structured Streaming micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [encode_confluent({"name": c, "n": i}, SCHEMA, 3) for i, c in enumerate("abc")]
    d = tmp_path / "wire_stream"
    d.mkdir()
    pq.write_table(pa.table({"_value": rows}, schema=pa.schema([("_value", pa.binary())])), str(d / "p0.parquet"))
    batch = spark.read.parquet(str(d))
    p = compile_pipeline([{"readAvro": {"schemaString": SCHEMA, "wireFormat": True, "outputField": "rec"}}])
    src = spark.readStream.schema(batch.schema).parquet(str(d))
    q = (
        p(src)
        .select("rec.name", "rec.n")
        .writeStream.queryName("wire_stream_out")
        .outputMode("append")
        .format("memory")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted((r["name"], r["n"]) for r in spark.sql("SELECT * FROM wire_stream_out").collect())
    assert got == [("a", 0), ("b", 1), ("c", 2)]


def test_kafka_producer_wire_format_through_broker(spark, broker):
    """kafkaProducer {format: avro, schemaId}: the raw bytes on the broker
    are Confluent wire format — an external consumer's split+decode reads
    them back without touching this engine's produce path."""
    p = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(name, n)"}},
            {
                "kafkaProducer": {
                    "topic": "wire",
                    "format": "avro",
                    "schemaString": SCHEMA,
                    "schemaId": 9,
                    "properties": {"bootstrap-servers": broker},
                }
            },
        ]
    )
    src = spark.createDataFrame([("a", 1), ("b", 2)], "name string, n long")
    assert p(src).count() == 2  # pass-through frame survives
    raw = [bytes(r["_value"]) for r in read_kafka_batch(spark, broker, "wire").collect()]
    decoded = sorted((decode_confluent(v, SCHEMA) for v in raw), key=lambda t: t[1]["name"])
    assert decoded == [(9, {"name": "a", "n": 1}), (9, {"name": "b", "n": 2})]


def test_from_connect_data_avro_roundtrip_jarless(spark):
    """fromConnectData converter=avro works without the spark-avro jar via
    the pure-Python encoder, and readAvro decodes the bytes back."""
    p = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(name, n)"}},
            {"fromConnectData": {"converter": "avro", "schemaString": SCHEMA}},
            {"readAvro": {"inputField": "_attachment_body", "schemaString": SCHEMA, "outputField": "rec"}},
        ]
    )
    df = spark.createDataFrame([("a", 1), ("b", 2)], "name string, n long")
    got = sorted((r["rec"]["name"], r["rec"]["n"]) for r in p(df).collect())
    assert got == [("a", 1), ("b", 2)]
