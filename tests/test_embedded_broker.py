"""The native kafka transport, executed end-to-end against the embedded
file-backed broker (sources/embedded_broker.py — a Python DataSource).

The reference's primary loop is a real Kafka consumer/producer
(MorphlineSinkTask.java:129-149, KafkaDataProducerCommandBuilder.java:251-331);
the engine's analogs are read_kafka_batch/stream + kafkaProducer
{transport: kafka}.  These tests run those call sites' REAL
``.format(...).option(...)`` reader/writer code — only the provider behind
the format name differs — proving the option plumbing and the envelope
round-trip without the spark-sql-kafka jar."""

from __future__ import annotations

import pytest

from kafka_connect_morphlines_spark import compile_pipeline
from kafka_connect_morphlines_spark.sources.kafka import (
    KafkaUnavailableError,
    read_kafka_batch,
    read_kafka_stream,
    write_kafka_batch,
)


def test_batch_roundtrip_envelope(spark, broker):
    df = spark.createDataFrame(
        [("k1", '{"n":1}', "t1"), (None, '{"n":2}', "t2")], "key string, value string, topic string"
    )
    write_kafka_batch(df, broker)
    env = read_kafka_batch(spark, broker, "t1,t2")
    assert env.columns == ["_key", "_value", "_topic", "_kafkaPartition", "_kafkaOffset", "_timestamp", "_timestampType"]
    rows = {r["_topic"]: r for r in env.collect()}
    assert bytes(rows["t1"]["_value"]) == b'{"n":1}' and bytes(rows["t1"]["_key"]) == b"k1"
    assert bytes(rows["t2"]["_value"]) == b'{"n":2}' and rows["t2"]["_key"] is None
    assert all(r["_kafkaOffset"] == 0 and r["_kafkaPartition"] == 0 for r in rows.values())
    # subscribe filters topics
    assert read_kafka_batch(spark, broker, "t1").count() == 1


def test_kafka_producer_native_transport(spark, broker):
    """kafkaProducer {transport: kafka}: properties {bootstrap-servers}
    map onto kafka.* writer options and the publish is a pass-through
    (ref KafkaDataProducerCommandBuilder.java:260-331)."""
    p = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(name, n)"}},
            {"kafkaProducer": {"topic": "out", "properties": {"bootstrap-servers": broker}}},
        ]
    )
    src = spark.createDataFrame([("a", 1), ("b", 2)], "name string, n int")
    assert p(src).count() == 2  # pass-through frame survives
    got = sorted(bytes(r["_value"]).decode() for r in read_kafka_batch(spark, broker, "out").collect())
    assert got == ['{"n":1,"name":"a"}', '{"n":2,"name":"b"}'] or got == ['{"name":"a","n":1}', '{"name":"b","n":2}']


def test_kafka_producer_job_failure_keeps_its_error(spark, broker):
    """A publish job that fails surfaces its own error: only a missing kafka
    data source is reported as KafkaUnavailableError, although every Python
    worker traceback names this package."""
    schema = '{"type":"record","name":"E","fields":[{"name":"n","type":"long"}]}'
    p = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(n)"}},
            {"kafkaProducer": {"topic": "bad", "format": "avro", "schemaString": schema, "properties": {"bootstrap-servers": broker}}},
        ]
    )
    with pytest.raises(Exception) as err:
        p(spark.createDataFrame([(None,)], "n long"))
    assert not isinstance(err.value, KafkaUnavailableError)


def test_per_record_topic_and_key_partitioning(spark, broker):
    df = spark.createDataFrame(
        [("same", "v1", "t"), ("same", "v2", "t"), ("other", "v3", "t")],
        "key string, value string, topic string",
    )
    write_kafka_batch(df, broker, options={"numPartitions": "4"})
    env = read_kafka_batch(spark, broker, "t")
    rows = env.collect()
    parts = {}
    for r in rows:
        parts.setdefault(bytes(r["_key"]).decode(), set()).add(r["_kafkaPartition"])
    assert len(parts["same"]) == 1  # identical keys land on one partition
    # offsets are dense record positions within each partition (cross-key:
    # "same" and "other" may share a partition; writer-task completion order
    # decides interleaving, density is the contract)
    by_part = {}
    for r in rows:
        by_part.setdefault(r["_kafkaPartition"], []).append(r["_kafkaOffset"])
    for p, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs))), f"partition {p} offsets not dense: {offs}"


def test_sink_connector_loop_kafka_to_pipeline_to_sink(spark, broker, tmp_path):
    """The reference's whole sink-connector loop on the native transport:
    kafka consume -> morphline pipeline -> good rows to the sink, broken
    payloads to the DLQ -- MorphlineSinkTask.java:129-149 end to end,
    with the kafka envelope feeding the same pipeline spec batch mode uses."""
    from pyspark.sql import functions as F

    from kafka_connect_morphlines_spark.streaming import runner

    records = [
        (None, '{"name":"a","n":1}', "in"),
        (None, '{"name":"b","n":2}', "in"),
        (None, "broken", "in"),
    ]
    write_kafka_batch(spark.createDataFrame(records, "key string, value string, topic string"), broker)

    pipe = compile_pipeline(
        [
            {"readJson": {"inputField": "_value", "schemaDdl": "name string, n int", "flagInvalid": True}},
            {"extractJsonPaths": {"paths": {"name": "/name", "n": "/n"}}},
        ]
    )
    env = read_kafka_stream(spark, broker, "in").withColumn("_value", F.col("_value").cast("string"))
    good, bad = [], []
    q = runner.run_stream(
        env,
        pipe,
        sink=lambda df, epoch: good.extend((r["name"], r["n"]) for r in df.collect()),
        quarantine_sink=lambda df, epoch: bad.extend(r["_value"] for r in df.collect()),
        checkpoint=str(tmp_path / "ck"),
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(good) == [("a", 1), ("b", 2)]
    assert bad == ["broken"]


def test_streaming_consume_with_incremental_publish(spark, broker, tmp_path):
    """The sink-connector put loop: a streaming consumer sees the initial
    backlog AND records published while the query runs, in new micro-batches
    (MorphlineSinkTask.java:129-149 contract)."""
    write_kafka_batch(
        spark.createDataFrame([(None, '{"n":1}', "t")], "key string, value string, topic string"), broker
    )
    stream = read_kafka_stream(spark, broker, "t")
    assert stream.columns == read_kafka_batch(spark, broker, "t").columns  # identical envelope
    seen = []
    q = (
        stream.writeStream.foreachBatch(lambda b, e: seen.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    assert len(seen) == 1
    write_kafka_batch(
        spark.createDataFrame([(None, '{"n":2}', "t")], "key string, value string, topic string"), broker
    )
    q.processAllAvailable()
    q.stop()
    values = sorted(bytes(r["_value"]).decode() for r in seen)
    assert values == ['{"n":1}', '{"n":2}']
    assert [r["_kafkaOffset"] for r in sorted(seen, key=lambda r: r["_kafkaOffset"])] == [0, 1]
