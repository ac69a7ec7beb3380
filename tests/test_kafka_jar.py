"""Jar-present Kafka path: compile-and-plan smoke for the REAL connector.

The engine's read_kafka_batch/stream and write_kafka_batch
(sources/kafka.py) are exercised everywhere through the jar-less embedded
loopback broker; the jar-present code path (format "kafka", the
reference's actual transport — MorphlineSinkTask.java:129-149) was only
covered by error-path tests.  This module plan-tests it for real wherever
the spark-sql-kafka package IS on the classpath, and auto-skips (marker
``kafka_jar``) where it is not — no broker is needed because Spark's kafka
source resolves the data source and validates options at plan time and
only connects at execution.
"""

from __future__ import annotations

import pytest

from kafka_connect_morphlines_spark import compile_pipeline, record as R
from kafka_connect_morphlines_spark.sources import kafka as K


def _jar_present(spark) -> bool:
    try:
        spark.read.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:1"
        ).option("subscribe", "probe").load()
        return True
    except Exception as e:
        return "kafka" not in str(e).lower() and "data source" not in str(e).lower()


@pytest.mark.kafka_jar
def test_jar_kafka_batch_and_stream_plan(spark):
    if K.KAFKA_FORMAT != "kafka" or not _jar_present(spark):
        pytest.skip("spark-sql-kafka jar not on the classpath")
    env = K.read_kafka_batch(spark, "localhost:1", "t1,t2")
    # canonical envelope schema, straight from the real connector's plan
    for col in (R.TOPIC, R.PARTITION, R.OFFSET, R.KEY, R.VALUE, R.TIMESTAMP):
        assert col in env.columns, env.columns
    assert not env.isStreaming

    stream = K.read_kafka_stream(spark, "localhost:1", "t1")
    assert stream.isStreaming
    assert set(env.columns) == set(stream.columns)


def test_jarless_paths_raise_kafka_unavailable(spark):
    """The inverse gate: without the jar (this sandbox), the real-connector
    entry points, and kafkaProducer which writes through them, must fail
    with the actionable KafkaUnavailableError, not an opaque
    AnalysisException."""
    if K.KAFKA_FORMAT != "kafka" or _jar_present(spark):
        pytest.skip("spark-sql-kafka jar IS present; the error path is moot")
    with pytest.raises(K.KafkaUnavailableError):
        K.read_kafka_batch(spark, "localhost:1", "t")
    with pytest.raises(K.KafkaUnavailableError):
        K.read_kafka_stream(spark, "localhost:1", "t")
    produce = compile_pipeline(
        [{"kafkaProducer": {"transport": "kafka", "topic": "t", "properties": {"bootstrap-servers": "localhost:1"}}}]
    )
    with pytest.raises(K.KafkaUnavailableError):
        produce(spark.createDataFrame([("v",)], "_value string"))


@pytest.mark.kafka_jar
def test_jar_kafka_data_roundtrip(spark):
    """End-to-end data movement through the REAL connector: produce a
    batch with write_kafka_batch, read it back with read_kafka_batch,
    assert the envelope round-trips.  Needs BOTH the spark-sql-kafka jar
    and a reachable broker — supply one via SPARK_GRAFT_KAFKA_BOOTSTRAP
    (e.g. ``localhost:9092`` against any dev broker).  This is the
    reference's entire deployment path (MorphlineSinkTask.java:129-149);
    in broker-less sandboxes the test skips cleanly and the jar-less
    loopback tests (test_embedded_broker/test_sinks) carry the logic
    coverage."""
    import os
    import uuid

    from pyspark.sql import functions as F

    bootstrap = os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip("set SPARK_GRAFT_KAFKA_BOOTSTRAP=<host:port> to run the live roundtrip")
    if K.KAFKA_FORMAT != "kafka" or not _jar_present(spark):
        pytest.skip("spark-sql-kafka jar not on the classpath")

    topic = f"spark-graft-rt-{uuid.uuid4().hex[:12]}"
    rows = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(50)], "key string, value string"
    ).select(F.encode("key", "UTF-8").alias("key"), F.encode("value", "UTF-8").alias("value"))
    K.write_kafka_batch(rows, bootstrap, topic)

    env = K.read_kafka_batch(
        spark, bootstrap, topic, options={"startingOffsets": "earliest"}
    )
    got = {
        (r[R.KEY].decode(), r[R.VALUE].decode())
        for r in env.select(R.KEY, R.VALUE).collect()
    }
    assert got == {(f"k{i}", f"v{i}") for i in range(50)}
    # envelope metadata really came from the broker
    meta = env.select(R.TOPIC, R.PARTITION, R.OFFSET).limit(1).collect()[0]
    assert meta[R.TOPIC] == topic and meta[R.OFFSET] >= 0
