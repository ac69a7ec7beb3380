"""Kafka source/sink builders — the reference's transport layer
(MorphlineSinkTask topic consumption, README.md:104-127 connector configs;
kafkaProducer publish, KafkaDataProducerCommandBuilder.java:260-331).

Spark's kafka connector (spark-sql-kafka) is a separate jar not bundled with
the pip distribution; every function degrades to a clear error when absent.
The envelope rename makes the kafka frame identical to the engine's canonical
record schema (record.py), so compiled pipelines run unchanged on either.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from kafka_connect_morphlines_spark import record as R

# The format seam: "kafka" (the real connector) by default;
# sources.embedded_broker.install() flips it to the jar-less embedded broker
# so the same call sites run end-to-end without spark-sql-kafka (unit tests,
# perfbench): reads through its DataSource, writes through its publish().
KAFKA_FORMAT = "kafka"


class KafkaUnavailableError(RuntimeError):
    def __init__(self) -> None:
        super().__init__(
            "the spark-sql-kafka package is not on the classpath; start the session with "
            "spark.jars.packages=org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
        )


def _try(fn):
    try:
        return fn()
    except Exception as e:  # AnalysisException: Failed to find data source: kafka
        # only the lookup failure; a failed write job also mentions "kafka"
        # (the package name is in every Python worker traceback)
        if re.search(r"failed to find (the )?data source", str(e), re.IGNORECASE):
            raise KafkaUnavailableError() from e
        raise


def read_kafka_batch(spark: SparkSession, bootstrap: str, topics: str, options: dict[str, str] | None = None) -> DataFrame:
    """Batch-read a topic range into the canonical envelope frame."""

    def go():
        reader = (
            spark.read.format(KAFKA_FORMAT)
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", topics)
            .option("startingOffsets", "earliest")
        )
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        return R.from_kafka_source(reader.load())

    return _try(go)


def read_kafka_stream(spark: SparkSession, bootstrap: str, topics: str, options: dict[str, str] | None = None) -> DataFrame:
    """Streaming-read (the sink-connector input path, MorphlineSinkTask put loop)."""

    def go():
        reader = (
            spark.readStream.format(KAFKA_FORMAT)
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", topics)
        )
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        return R.from_kafka_source(reader.load())

    return _try(go)


def write_kafka_batch(df: DataFrame, bootstrap: str, topic: str | None = None, options: dict[str, str] | None = None) -> None:
    """Publish (key, value[, topic]) rows — kafkaProducer's native transport.

    Per-record topic comes from a ``topic`` column when no fixed topic is
    given, matching the reference's topic/topicField pair (ref :129-134).
    """
    if KAFKA_FORMAT != "kafka":
        from kafka_connect_morphlines_spark.sources import embedded_broker

        return embedded_broker.publish(df, {"kafka.bootstrap.servers": bootstrap, "topic": topic, **(options or {})})

    def go():
        # append is the kafka publish semantic (and the only save mode the
        # Python-DataSource-backed embedded broker accepts)
        writer = df.write.format(KAFKA_FORMAT).mode("append").option("kafka.bootstrap.servers", bootstrap)
        if topic:
            writer = writer.option("topic", topic)
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        writer.save()

    return _try(go)
