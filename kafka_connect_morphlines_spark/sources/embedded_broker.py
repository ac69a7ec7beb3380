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
filename order — files are the commit unit, append-only, no rewrites.  A
writer task writes a hidden temp file and renames it into place under the
partition's lock, taking the name at rename time, so a reader sees a whole
file or none of it and files become visible in name order.

Because a visible file never changes, the streaming reader counts each file
once (non-blank lines, no JSON parse) and keeps the count; a micro-batch's
slice names only the files holding its offsets.  A trigger therefore costs
O(new files + slice), not O(everything ever published).  A file that
appears sorting before one already counted would shift offsets that were
already handed out, so the reader raises instead.
"""

from __future__ import annotations

import base64
import bisect
import datetime
import fcntl
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


def _log_files(pdir: str) -> list[str]:
    """The visible log files of one partition, in offset (filename) order."""
    return sorted(f for f in os.listdir(pdir) if f.endswith(".jsonl"))


def _count_records(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for line in fh if line.strip())


def _row(topic: str, partition: int, offset: int, rec: dict) -> tuple:
    key = base64.b64decode(rec["key"]) if rec.get("key") is not None else None
    value = base64.b64decode(rec["value"]) if rec.get("value") is not None else None
    ts = datetime.datetime.fromtimestamp(rec.get("ts", 0) / 1000.0, tz=datetime.timezone.utc)
    return (key, value, topic, partition, offset, ts, 0)


class _PartitionSlice(InputPartition):
    """Offsets ``[start, end)`` of one partition (``end`` None: to its last
    record), held in ``files``, whose first record has offset ``first``."""

    def __init__(self, topic: str, partition: int, pdir: str, files: list[str], first: int, start: int, end: int | None):
        self.topic = topic
        self.partition = partition
        self.pdir = pdir
        self.files = files
        self.first = first
        self.start = start
        self.end = end


_EMPTY_SCAN = _PartitionSlice("", -1, "", [], 0, 0, 0)


class _BrokerScan:
    """The subscribed topics of one log directory, and the records of one
    partition slice — shared by the batch and the streaming reader."""

    def __init__(self, options: dict):
        self.root = _log_dir(options)
        subscribe = options.get("subscribe")
        self.topics = [t.strip() for t in subscribe.split(",")] if subscribe else None

    def read(self, part: _PartitionSlice) -> Iterator[tuple]:
        offset = part.first
        for fname in part.files:
            with open(os.path.join(part.pdir, fname), encoding="utf-8") as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    if part.end is not None and offset >= part.end:
                        return
                    if offset >= part.start:
                        yield _row(part.topic, part.partition, offset, json.loads(line))
                    offset += 1


class _BrokerReader(_BrokerScan, DataSourceReader):
    def partitions(self) -> list[InputPartition]:
        parts = [_PartitionSlice(t, p, d, _log_files(d), 0, 0, None) for t, p, d in _partition_dirs(self.root, self.topics)]
        return parts or [_EMPTY_SCAN]


class _BrokerStreamReader(_BrokerScan, DataSourceStreamReader):
    def __init__(self, options: dict):
        super().__init__(options)
        # per "topic/partition": the counted log files in offset order and
        # the offset one past each one's last record
        self.files: dict[str, list[str]] = {}
        self.ends: dict[str, list[int]] = {}

    def _counts(self) -> dict[str, int]:
        """Record count per partition, counting only files not counted yet."""
        out = {}
        for t, p, d in _partition_dirs(self.root, self.topics):
            key = f"{t}/{p}"
            files, ends = self.files.setdefault(key, []), self.ends.setdefault(key, [])
            names = _log_files(d)
            if names[: len(files)] != files:
                raise ValueError(
                    f"embedded kafka broker: the log of {key} changed below offset "
                    f"{ends[-1]} (a file appeared out of name order or was removed)"
                )
            for name in names[len(files) :]:
                ends.append((ends[-1] if ends else 0) + _count_records(os.path.join(d, name)))
                files.append(name)
            out[key] = ends[-1] if ends else 0
        return out

    def initialOffset(self) -> dict:
        # earliest: every known partition starts at 0
        return {k: 0 for k in self._counts()}

    def latestOffset(self) -> dict:
        return self._counts()

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        if any(hi > (self.ends.get(key) or [0])[-1] for key, hi in end.items()):
            self._counts()  # a restarted query plans its last batch before it polls
        out = []
        for key, hi in end.items():
            lo = start.get(key, 0)
            if hi <= lo:
                continue
            ends = self.ends.get(key) or [0]
            if hi > ends[-1]:
                raise ValueError(f"embedded kafka broker: offset {hi} of {key} is past its log ({ends[-1]} records)")
            first = bisect.bisect_right(ends, lo)  # the file holding offset lo
            last = bisect.bisect_left(ends, hi)  # the file holding offset hi - 1
            topic, p = key.rsplit("/", 1)
            pdir = os.path.join(self.root, topic, f"p{p}")
            files = self.files[key][first : last + 1]
            out.append(_PartitionSlice(topic, int(p), pdir, files, ends[first - 1] if first else 0, lo, hi))
        return out or [_EMPTY_SCAN]

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
        task = uuid.uuid4().hex
        for (topic, part), lines in by_dest.items():
            pdir = os.path.join(self.root, topic, f"p{part}")
            os.makedirs(pdir, exist_ok=True)
            tmp = os.path.join(pdir, f".{task}.tmp")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
            # named and renamed under the partition lock, so visibility
            # order is name order (offsets already handed out never shift)
            with open(os.path.join(pdir, ".lock"), "a") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                os.rename(tmp, os.path.join(pdir, f"{time.time_ns():020d}-{task}.jsonl"))
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
