"""The native kafka transport, executed end-to-end against the embedded
file-backed broker (sources/embedded_broker.py — a Python DataSource reader
and a driver-side publish).

The reference's primary loop is a real Kafka consumer/producer
(MorphlineSinkTask.java:129-149, KafkaDataProducerCommandBuilder.java:251-331);
the engine's analogs are read_kafka_batch/stream + kafkaProducer
{transport: kafka}.  These tests run those call sites' REAL
``.format(...).option(...)`` reader code and write_kafka_batch's option
plumbing — only the provider behind the seam differs — proving the envelope
round-trip without the spark-sql-kafka jar."""

from __future__ import annotations

import os

import pytest

from kafka_connect_morphlines_spark import compile_pipeline
from kafka_connect_morphlines_spark.functions import driver_table
from kafka_connect_morphlines_spark.sources import embedded_broker
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
    # offsets are dense record positions within each partition ("same" and
    # "other" may share a partition)
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
    write_kafka_batch(driver_table(spark, records, "key string, value string, topic string"), broker)

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
    # both sinks read the micro-batch's cached input: one source read
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(records)


def test_streaming_consume_with_incremental_publish(spark, broker, tmp_path):
    """The sink-connector put loop: a streaming consumer sees the initial
    backlog AND records published while the query runs, in new micro-batches
    (MorphlineSinkTask.java:129-149 contract)."""
    write_kafka_batch(
        driver_table(spark, [(None, '{"n":1}', "t")], "key string, value string, topic string"), broker
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
        driver_table(spark, [(None, '{"n":2}', "t")], "key string, value string, topic string"), broker
    )
    q.processAllAvailable()
    q.stop()
    values = sorted(bytes(r["_value"]).decode() for r in seen)
    assert values == ['{"n":1}', '{"n":2}']
    assert [r["_kafkaOffset"] for r in sorted(seen, key=lambda r: r["_kafkaOffset"])] == [0, 1]


def _publish(spark, root: str, values: list[bytes]) -> None:
    """One publish of unkeyed rows: one log file of topic ``t``."""
    df = driver_table(spark, [(v,) for v in values], "value binary")
    embedded_broker.publish(df, {"kafka.bootstrap.servers": root, "topic": "t"})


def _scan(reader, parts) -> list[tuple]:
    return [row for part in parts for row in reader.read(part)]


def test_stream_reader_parses_only_the_slice(spark, tmp_path, monkeypatch):
    """Offsets come from cached per-file line counts and a slice opens only
    the files holding its offsets: no trigger re-parses the whole log."""
    root = str(tmp_path / "broker")
    options = {"kafka.bootstrap.servers": root, "subscribe": "t"}
    for i in range(2):
        _publish(spark, root, [f"{i}-{j}".encode() for j in range(3)])
    reader = embedded_broker._BrokerStreamReader(options)
    start = reader.latestOffset()
    _publish(spark, root, [f"2-{j}".encode() for j in range(3)])

    parsed = []
    loads = embedded_broker.json.loads
    monkeypatch.setattr(embedded_broker.json, "loads", lambda s: parsed.append(s) or loads(s))
    end = reader.latestOffset()
    assert (start, end) == ({"t/0": 6}, {"t/0": 9})
    assert reader.latestOffset() == end and parsed == []  # counting parses nothing
    parts = reader.partitions(start, end)
    assert [len(p.files) for p in parts] == [1]
    rows = _scan(reader, parts)
    assert len(parsed) == 3

    batch = embedded_broker._BrokerReader(options)
    full = _scan(batch, batch.partitions())
    assert rows == full[6:]
    assert [(r[4], r[1]) for r in rows] == [(6, b"2-0"), (7, b"2-1"), (8, b"2-2")]
    # a slice starting and ending inside files, read by a fresh reader
    fresh = embedded_broker._BrokerStreamReader(options)
    assert _scan(fresh, fresh.partitions({"t/0": 4}, {"t/0": 8})) == full[4:8]


def test_stream_reader_rejects_a_file_out_of_name_order(spark, tmp_path):
    root = str(tmp_path / "broker")
    _publish(spark, root, [b"a"])
    reader = embedded_broker._BrokerStreamReader({"kafka.bootstrap.servers": root, "subscribe": "t"})
    assert reader.latestOffset() == {"t/0": 1}
    pdir = os.path.join(root, "t", "p0")
    with open(os.path.join(pdir, "0-late.jsonl"), "w") as fh:
        fh.write('{"key": null, "value": "Yg==", "ts": 0}\n')
    with pytest.raises(ValueError, match="out of name order"):
        reader.latestOffset()


def test_broker_write_is_one_rename(spark, tmp_path, monkeypatch):
    """A log file becomes visible whole: nothing named ``*.jsonl`` exists
    until the written temp file is renamed into place."""
    root = str(tmp_path / "broker")
    pdir = os.path.join(root, "t", "p0")
    renames = []
    rename = embedded_broker.os.rename

    def checked_rename(src, dst):
        assert embedded_broker._log_files(pdir) == []
        with open(src) as fh:
            renames.append(fh.read().count("\n"))
        rename(src, dst)

    monkeypatch.setattr(embedded_broker.os, "rename", checked_rename)
    _publish(spark, root, [b"a", b"b"])
    assert renames == [2]
    assert len(embedded_broker._log_files(pdir)) == 1
    assert [f for f in os.listdir(pdir) if f.endswith(".tmp")] == []


def test_concurrent_writers_never_shift_counted_offsets(spark, tmp_path):
    """Publishing threads racing a polling reader: files become visible in name
    order, so no poll ever sees one land below a file it already counted,
    and the final offsets cover every record once."""
    import sys
    import threading

    root = str(tmp_path / "broker")
    _publish(spark, root, [b"seed"])
    reader = embedded_broker._BrokerStreamReader({"kafka.bootstrap.servers": root, "subscribe": "t"})
    errors, done = [], threading.Event()

    def poll():
        while not done.is_set():
            try:
                reader.latestOffset()
            except ValueError as e:
                errors.append(e)
                return

    def write(w):
        for i in range(20):
            _publish(spark, root, [f"{w}-{i}".encode()])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        poller = threading.Thread(target=poll)
        writers = [threading.Thread(target=write, args=(w,)) for w in range(8)]
        for t in [poller, *writers]:
            t.start()
        for t in writers:
            t.join(timeout=60)
        done.set()
        poller.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not poller.is_alive() and not any(t.is_alive() for t in writers)
    assert errors == []
    end = reader.latestOffset()
    assert end == {"t/0": 161}
    rows = _scan(reader, reader.partitions({}, end))
    assert [r[4] for r in rows] == list(range(161))
    assert sorted(r[1] for r in rows) == sorted([b"seed"] + [f"{w}-{i}".encode() for w in range(8) for i in range(20)])


def test_publish_writes_one_file_per_partition_in_row_order(spark, broker):
    """One publish of keyed rows over 4 partitions: one log file per
    partition, no temp file left, and offsets within each partition follow
    the frame's row order."""
    rows = [(f"k{i % 20}", f"v{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "key string, value string")
    assert df.rdd.getNumPartitions() > 1
    embedded_broker.publish(df, {"kafka.bootstrap.servers": broker, "topic": "t", "numPartitions": "4"})
    for p in range(4):
        pdir = os.path.join(broker, "t", f"p{p}")
        assert len(embedded_broker._log_files(pdir)) == 1
        assert [f for f in os.listdir(pdir) if f.endswith(".tmp")] == []
    env = read_kafka_batch(spark, broker, "t").collect()
    part_of = {bytes(r["_key"]).decode(): r["_kafkaPartition"] for r in env}
    assert set(part_of.values()) == {0, 1, 2, 3}
    for p in range(4):
        got = [bytes(r["_value"]).decode() for r in sorted(env, key=lambda r: r["_kafkaOffset"]) if r["_kafkaPartition"] == p]
        assert got == [v for k, v in rows if part_of[k] == p]


def test_zero_row_publish_creates_nothing(spark, broker):
    """An empty frame, static or filtered to nothing, publishes no file and
    creates no topic directory."""
    options = {"kafka.bootstrap.servers": broker, "topic": "t"}
    embedded_broker.publish(spark.createDataFrame([], "key string, value string"), options)
    embedded_broker.publish(spark.range(4).filter("id < 0").selectExpr("CAST(id AS STRING) AS value"), options)
    assert not os.path.exists(broker)


def test_failed_publish_publishes_nothing(spark, broker):
    """A publish whose job fails in one task, after the other tasks have
    finished, raises its own error and leaves the topic without records."""
    from pyspark.sql import functions as F

    @F.udf("string")
    def value(i):
        if i == 0:
            import time

            time.sleep(2)
            raise ValueError("unpublishable record")
        return f"v{i}"

    df = spark.range(0, 8, numPartitions=4).select(value("id").alias("value"))
    with pytest.raises(Exception, match="unpublishable record") as err:
        write_kafka_batch(df, broker, "t")
    assert not isinstance(err.value, KafkaUnavailableError)
    assert read_kafka_batch(spark, broker, "t").count() == 0
    assert not os.path.exists(os.path.join(broker, "t"))


def _write_values(spark, broker, values):
    df = driver_table(spark, [(None, v, "in") for v in values], "key string, value string, topic string")
    write_kafka_batch(df, broker)


def _json_pipe():
    return compile_pipeline(
        [
            {"readJson": {"inputField": "_value", "schemaDdl": "name string, n int", "flagInvalid": True}},
            {"extractJsonPaths": {"paths": {"name": "/name", "n": "/n"}}},
        ]
    )


def test_run_stream_gate_reads_each_record_once(spark, broker, tmp_path):
    """The constraint gate's count and both sinks read the micro-batch's
    cached input, over two micro-batches: the source reads each published
    record once."""
    from pyspark.sql import functions as F

    from kafka_connect_morphlines_spark.functions import validation as V
    from kafka_connect_morphlines_spark.streaming import runner

    _write_values(spark, broker, ['{"name":"a","n":1}', "broken", '{"name":"b","n":2}'])
    env = read_kafka_stream(spark, broker, "in").withColumn("_value", F.col("_value").cast("string"))
    good, bad = [], []
    q = runner.run_stream(
        env,
        _json_pipe(),
        sink=lambda df, epoch: good.extend(r["name"] for r in df.collect()),
        quarantine_sink=lambda df, epoch: bad.extend(r["_value"] for r in df.collect()),
        checkpoint=str(tmp_path / "ck"),
        constraints=[V.NotNull("name")],
    )
    q.processAllAvailable()
    _write_values(spark, broker, ['{"name":"c","n":3}'])
    q.processAllAvailable()
    q.stop()
    assert sorted(good) == ["a", "b", "c"] and bad == ["broken"]
    assert sum(p["numInputRows"] for p in q.recentProgress) == 4


@pytest.mark.parametrize("fail", [False, True], ids=["ok", "sink-raises"])
def test_run_stream_releases_the_batch_cache(spark, broker, tmp_path, fail):
    from pyspark.sql import functions as F

    from kafka_connect_morphlines_spark.streaming import runner

    def sink(df, epoch):
        df.collect()
        if fail:
            raise RuntimeError("sink failed")

    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    _write_values(spark, broker, ['{"name":"a","n":1}', "broken"])
    env = read_kafka_stream(spark, broker, "in").withColumn("_value", F.col("_value").cast("string"))
    q = runner.run_stream(
        env, _json_pipe(), sink=sink, quarantine_sink=lambda df, epoch: df.collect(), checkpoint=str(tmp_path / "ck")
    )
    if fail:
        with pytest.raises(Exception, match="sink failed"):
            q.processAllAvailable()
    else:
        q.processAllAvailable()
    q.stop()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_stream_restart_reads_only_new_records(spark, broker, tmp_path):
    """A stream restarted on its checkpoint — a fresh reader with nothing
    counted — continues at the checkpointed offsets: it sees only the
    records published while it was stopped."""
    ckpt = str(tmp_path / "ck")

    def run() -> list[tuple[str, int]]:
        seen = []
        q = (
            read_kafka_stream(spark, broker, "in")
            .writeStream.foreachBatch(
                lambda b, e: seen.extend((bytes(r["_value"]).decode(), r["_kafkaOffset"]) for r in b.collect())
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return sorted(seen, key=lambda r: r[1])

    _write_values(spark, broker, ["v0", "v1"])
    assert [o for _, o in run()] == [0, 1]
    _write_values(spark, broker, ["v2"])
    _write_values(spark, broker, ["v3"])
    assert run() == [("v2", 2), ("v3", 3)]
    assert run() == []
