"""Canonical record model: the Kafka envelope frame + attachment conventions.

The reference flattens each ConnectRecord into reserved multimap fields
(``_topic``, ``_kafkaPartition``, ``_key``, ``_value``, ``_kafkaOffset``,
``_timestamp``, ``_timestampType`` — MorphlineTransform.java:130-150) and
carries the raw payload being parsed in ``_attachment_body`` /
``_attachment_mimetype`` / ``_attachment_charset``
(FromConnectDataBuilder.java:104-117).

Here the same envelope is a frame-wide schema: one DataFrame column per
envelope field.  This is exactly the schema Spark's Kafka source produces,
so ``spark.read.format("kafka")`` plugs in with a trivial rename.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TOPIC = "_topic"
PARTITION = "_kafkaPartition"
OFFSET = "_kafkaOffset"
TIMESTAMP = "_timestamp"
TIMESTAMP_TYPE = "_timestampType"
KEY = "_key"
VALUE = "_value"
ATTACHMENT_BODY = "_attachment_body"
ATTACHMENT_MIME = "_attachment_mimetype"
ATTACHMENT_CHARSET = "_attachment_charset"

ENVELOPE_FIELDS = [TOPIC, PARTITION, OFFSET, TIMESTAMP, TIMESTAMP_TYPE, KEY, VALUE]
ATTACHMENT_FIELDS = [ATTACHMENT_BODY, ATTACHMENT_MIME, ATTACHMENT_CHARSET]
RESERVED_FIELDS = set(ENVELOPE_FIELDS) | set(ATTACHMENT_FIELDS) | {"_valueSchema", "_keySchema"}

# Spark's kafka source column names -> envelope names
KAFKA_SOURCE_RENAMES = {
    "topic": TOPIC,
    "partition": PARTITION,
    "offset": OFFSET,
    "timestamp": TIMESTAMP,
    "timestampType": TIMESTAMP_TYPE,
    "key": KEY,
    "value": VALUE,
}


def from_kafka_source(df: DataFrame) -> DataFrame:
    """Rename a Spark kafka-source frame to the envelope column names."""
    cols = []
    for c in df.columns:
        cols.append(F.col(c).alias(KAFKA_SOURCE_RENAMES.get(c, c)))
    out = df.select(*cols)
    if TIMESTAMP in out.columns:
        out = out.withColumn(TIMESTAMP, (F.col(TIMESTAMP).cast("double") * 1000).cast("long"))
    return out


def wrap_value(df: DataFrame, topic: str = "testing", partition: int = 1, timestamp_ms: int = 1484897702123) -> DataFrame:
    """Wrap a payload DataFrame into the envelope (test/fixture helper).

    Every payload column is packed into a ``_value`` struct (or kept as-is if
    the frame has exactly one column already named ``_value``).
    """
    if df.columns == [VALUE]:
        value = F.col(VALUE)
    else:
        value = F.struct(*[F.col(c) for c in df.columns])
    return df.select(
        F.lit(topic).alias(TOPIC),
        F.lit(partition).cast("int").alias(PARTITION),
        (F.monotonically_increasing_id() + 1).alias(OFFSET),
        F.lit(timestamp_ms).cast("long").alias(TIMESTAMP),
        F.lit("CREATE_TIME").alias(TIMESTAMP_TYPE),
        F.lit(None).cast("binary").alias(KEY),
        value.alias(VALUE),
    )
