"""Embedded file-backed Kafka broker as a Python DataSource named ``kafka``.

The reference's primary transport is a real Kafka consumer/producer
(MorphlineSinkTask.java:129-149, KafkaDataProducerCommandBuilder.java:251-331).
This engine's native path is Spark's ``format("kafka")`` connector — a
separate jar not bundled with pip Spark.  This module makes that path
*executable without the jar or a broker*: a Spark 4 Python DataSource
(pyspark.sql.datasource) registered under the name ``kafka``, so
``read_kafka_batch/stream``, ``write_kafka_batch`` and ``kafkaProducer
{transport: kafka}`` run their REAL reader/writer code — the same
``.format("kafka").option(...)`` plumbing — against an embedded broker.

Semantics (the subset the engine's call sites use):
- ``kafka.bootstrap.servers`` names the broker: a local log directory.
- write: rows with (value[, key][, topic]) columns; ``topic`` option as the
  fixed-topic fallback; keyed rows partition by key hash, unkeyed rows go to
  partition 0 (``numPartitions`` option, default 1).
- read: ``subscribe`` = comma-separated topics; emits the exact kafka-source
  schema (key/value binary, topic, partition, offset, timestamp,
  timestampType) that record.from_kafka_source renames to the envelope.
- streaming read: offsets are per-(topic,partition) record counts, exactly
  Kafka's offset model; micro-batches cover (start, end] slices.

Registration is explicit (``install(spark)``) — on a cluster with the real
spark-sql-kafka jar you simply don't install this, and the same pipeline
specs run against real brokers.  Lookup falls through to Python data sources
only when no JVM source claims the name, so installing is also safe-by-noop
there.

Log layout: ``<dir>/<topic>/p<partition>/<monotonic-name>.jsonl`` with one
base64 (key, value, ts) record per line; offsets are record positions in
filename order — files are the commit unit, append-only, no rewrites.
"""

from __future__ import annotations

import base64
import datetime
import hashlib
import json
import os
import time
import uuid
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

KAFKA_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def _log_dir(options: dict) -> str:
    d = options.get("kafka.bootstrap.servers")
    if not d:
        raise ValueError("embedded kafka broker: kafka.bootstrap.servers must name the log directory")
    return d


def _partition_dirs(root: str, topics: list[str] | None) -> list[tuple[str, int, str]]:
    """[(topic, partition, dir)] for every partition directory present."""
    out: list[tuple[str, int, str]] = []
    if not os.path.isdir(root):
        return out
    for topic in sorted(os.listdir(root)):
        tdir = os.path.join(root, topic)
        if not os.path.isdir(tdir) or (topics is not None and topic not in topics):
            continue
        for p in sorted(os.listdir(tdir)):
            if p.startswith("p") and p[1:].isdigit():
                out.append((topic, int(p[1:]), os.path.join(tdir, p)))
    return out


def _read_partition(pdir: str) -> list[dict]:
    """All records of one partition in offset order (filename order)."""
    records: list[dict] = []
    for fname in sorted(os.listdir(pdir)):
        if not fname.endswith(".jsonl"):
            continue
        with open(os.path.join(pdir, fname), encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    records.append(json.loads(line))
    return records


def _row(topic: str, partition: int, offset: int, rec: dict) -> tuple:
    key = base64.b64decode(rec["key"]) if rec.get("key") is not None else None
    value = base64.b64decode(rec["value"]) if rec.get("value") is not None else None
    ts = datetime.datetime.fromtimestamp(rec.get("ts", 0) / 1000.0, tz=datetime.timezone.utc)
    return (key, value, topic, partition, offset, ts, 0)


class _PartitionSlice(InputPartition):
    def __init__(self, topic: str, partition: int, pdir: str, start: int, end: int | None):
        self.topic = topic
        self.partition = partition
        self.pdir = pdir
        self.start = start
        self.end = end


class _BrokerScan:
    """The subscribed topics of one log directory, and the records of one
    partition slice — shared by the batch and the streaming reader."""

    def __init__(self, options: dict):
        self.root = _log_dir(options)
        subscribe = options.get("subscribe")
        self.topics = [t.strip() for t in subscribe.split(",")] if subscribe else None

    def read(self, part: _PartitionSlice) -> Iterator[tuple]:
        if part.partition < 0:
            return
        for offset, rec in enumerate(_read_partition(part.pdir)):
            if offset >= part.start and (part.end is None or offset < part.end):
                yield _row(part.topic, part.partition, offset, rec)


class _BrokerReader(_BrokerScan, DataSourceReader):
    def partitions(self) -> list[InputPartition]:
        parts = [_PartitionSlice(t, p, d, 0, None) for t, p, d in _partition_dirs(self.root, self.topics)]
        return parts or [_PartitionSlice("", -1, "", 0, 0)]  # empty scan


class _BrokerStreamReader(_BrokerScan, DataSourceStreamReader):
    def _counts(self) -> dict[str, int]:
        return {
            f"{t}/{p}": len(_read_partition(d))
            for t, p, d in _partition_dirs(self.root, self.topics)
        }

    def initialOffset(self) -> dict:
        # earliest: every known partition starts at 0
        return {k: 0 for k in self._counts()}

    def latestOffset(self) -> dict:
        return self._counts()

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        out = []
        for key, hi in end.items():
            lo = start.get(key, 0)
            if hi > lo:
                topic, p = key.rsplit("/", 1)
                pdir = os.path.join(self.root, topic, f"p{p}")
                out.append(_PartitionSlice(topic, int(p), pdir, lo, hi))
        return out or [_PartitionSlice("", -1, "", 0, 0)]

    def commit(self, end: dict) -> None:
        pass  # the log is append-only; nothing to release

    def stop(self) -> None:
        pass


class _BrokerCommit(WriterCommitMessage):
    pass


class _BrokerWriter(DataSourceWriter):
    def __init__(self, options: dict, schema: StructType):
        self.root = _log_dir(options)
        self.fixed_topic = options.get("topic")
        self.n_partitions = int(options.get("numPartitions", options.get("numpartitions", 1)))
        self.fields = [f.name for f in schema.fields]
        if "value" not in self.fields:
            raise ValueError("kafka write requires a 'value' column")

    def _partition_for(self, key: bytes | None) -> int:
        if key is None or self.n_partitions <= 1:
            return 0
        return int.from_bytes(hashlib.md5(key).digest()[:4], "big") % self.n_partitions

    def write(self, rows: Iterator[Any]) -> WriterCommitMessage:
        by_dest: dict[tuple[str, int], list[str]] = {}
        for row in rows:
            d = row.asDict()
            topic = d.get("topic") or self.fixed_topic
            if not topic:
                raise ValueError("kafka write: no topic column and no topic option")
            key = d.get("key")
            if isinstance(key, str):
                key = key.encode("utf-8")
            value = d.get("value")
            if isinstance(value, str):
                value = value.encode("utf-8")
            rec = {
                "key": base64.b64encode(key).decode() if key is not None else None,
                "value": base64.b64encode(value).decode() if value is not None else None,
                "ts": int(time.time() * 1000),
            }
            by_dest.setdefault((topic, self._partition_for(key)), []).append(json.dumps(rec))
        # one file per (topic, partition) per task — files are the commit unit
        name = f"{time.time_ns():020d}-{uuid.uuid4().hex}.jsonl"
        for (topic, part), lines in by_dest.items():
            pdir = os.path.join(self.root, topic, f"p{part}")
            os.makedirs(pdir, exist_ok=True)
            with open(os.path.join(pdir, name), "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
        return _BrokerCommit()


class EmbeddedKafkaDataSource(DataSource):
    """Kafka-shaped provider backed by the embedded file broker.

    Spark reserves the provider name ``kafka`` (DATA_SOURCE_ALREADY_EXISTS
    even with no jar on the classpath), so this registers as
    ``embedded-kafka`` and ``install()`` flips the engine's format seam
    (sources.kafka.KAFKA_FORMAT) — every call site still runs its real
    ``.format(...).option(...)`` reader/writer code."""

    @classmethod
    def name(cls) -> str:
        return "embedded-kafka"

    def schema(self) -> str:
        return KAFKA_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _BrokerReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _BrokerStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return _BrokerWriter(self.options, schema)


def install(spark) -> None:
    """Register the embedded broker for this session and point the engine's
    kafka call sites (sources.kafka, which kafkaProducer writes through) at it.
    Idempotent per session."""
    from kafka_connect_morphlines_spark.sources import kafka as kafka_mod

    try:
        spark.dataSource.register(EmbeddedKafkaDataSource)
    except Exception as e:  # already registered in this session
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(e):
            raise
    kafka_mod.KAFKA_FORMAT = EmbeddedKafkaDataSource.name()


def uninstall() -> None:
    """Point the kafka call sites back at the real connector format."""
    from kafka_connect_morphlines_spark.sources import kafka as kafka_mod

    kafka_mod.KAFKA_FORMAT = "kafka"
