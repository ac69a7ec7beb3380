"""Sink paths: HTTP bulk loader against a live local server, memory sinks,
and kafkaProducer's two transports (kafka through the embedded broker, rest)."""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from kafka_connect_morphlines_spark import compile_pipeline
from kafka_connect_morphlines_spark.commands.sinks import MEMORY_SINKS
from kafka_connect_morphlines_spark.pipeline import PipelineSpecError


@pytest.fixture()
def http_collector():
    """A live HTTP endpoint collecting posted JSON batches (the role Solr
    plays for loadSolr — reference mocks SolrClient the same way,
    MorphlineSinkTaskTest.java:59-76)."""
    received = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append(json.loads(body))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_port}/update", received
    server.shutdown()


def test_load_http_posts_batches(spark, http_collector):
    url, received = http_collector
    p = compile_pipeline([{"loadHttp": {"url": url, "batchSize": 2}}])
    df = spark.createDataFrame([(i, f"doc{i}") for i in range(5)], "id int, body string").coalesce(1)
    p(df)
    docs = [d for batch in received for d in batch]
    assert sorted(d["id"] for d in docs) == [0, 1, 2, 3, 4]
    assert all(len(b) <= 2 for b in received)  # batchSize respected


def test_load_solr_zkhost_locator(spark, http_collector):
    """solrLocator {zkHost, collection} (reference cloudsolr.conf:1-7):
    the ensemble resolves to a base URL via the pluggable ZK_RESOLVERS
    registry and the posts target <base>/<collection>/update."""
    from kafka_connect_morphlines_spark.commands import schema as schema_mod

    url, received = http_collector
    base = url.rsplit("/update", 1)[0]  # collector accepts any POST path
    schema_mod.ZK_RESOLVERS["zk1:2181,zk2:2181/solr"] = lambda zk: base
    try:
        p = compile_pipeline(
            [{"loadSolr": {"solrLocator": {"zkHost": "zk1:2181,zk2:2181/solr", "collection": "col1"}}}]
        )
        p(spark.createDataFrame([(1,)], "id int").coalesce(1))
        assert [d for batch in received for d in batch] == [{"id": 1}]
    finally:
        schema_mod.ZK_RESOLVERS.clear()


def test_load_solr_zkhost_unresolvable(spark):
    from kafka_connect_morphlines_spark.commands.schema import resolve_zk_host

    with pytest.raises(PipelineSpecError, match="no ZooKeeper resolver"):
        resolve_zk_host("nowhere:2181")


def test_sanitize_unknown_fields_zkhost(spark):
    """sanitizeUnknownSolrFields with a zkHost locator resolves the schema
    through the same registry (stubbed schema endpoint)."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            body = json.dumps({"fields": [{"name": "id"}, {"name": "title"}]}).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    from kafka_connect_morphlines_spark.commands import schema as schema_mod

    schema_mod.ZK_RESOLVERS[None] = f"http://127.0.0.1:{server.server_port}"
    try:
        p = compile_pipeline(
            [{"sanitizeUnknownSolrFields": {"solrLocator": {"zkHost": "zk:2181", "collection": "c"}}}]
        )
        df = spark.createDataFrame([(1, "t", "x")], "id int, title string, junk string")
        assert p(df).columns == ["id", "title"]
    finally:
        schema_mod.ZK_RESOLVERS.clear()
        server.shutdown()


def test_load_solr_memory_buffer(spark):
    MEMORY_SINKS.pop("solr", None)
    p = compile_pipeline([{"loadSolr": {}}])
    p(spark.createDataFrame([(1,)], "id int"))
    assert MEMORY_SINKS["solr"] == [{"id": 1}]


def test_load_solr_drops_reserved_fields(spark):
    MEMORY_SINKS.pop("solr", None)
    p = compile_pipeline([{"loadSolr": {}}])
    df = spark.createDataFrame([("t", 1, "keep")], "_topic string, _kafkaPartition int, field string")
    p(df)
    assert MEMORY_SINKS["solr"] == [{"field": "keep"}]


def test_kafka_producer_topic_field_roundtrip(spark, broker):
    """kafkaProducer {topicField} -> read_kafka_batch: each record lands on
    the topic its row names, values survive, and the consumed frame is a
    canonical envelope a pipeline can process."""
    from pyspark.sql import functions as F

    from kafka_connect_morphlines_spark.sources.kafka import read_kafka_batch

    df = spark.createDataFrame(
        [("a", 1, "t1"), ("b", 2, "t2"), ("c", 3, "t1")], "name string, n int, dest string"
    )
    produce = compile_pipeline(
        [
            {"sqlExpr": {"_value": "struct(name, n)"}},
            {"kafkaProducer": {"topicField": "dest", "properties": {"bootstrap-servers": broker}}},
        ]
    )
    produce(df).count()  # executes the pass-through publish

    env = read_kafka_batch(spark, broker, "t1").withColumn("_value", F.col("_value").cast("string"))
    consume = compile_pipeline([{"readJson": {"inputField": "_value", "schemaDdl": "name string, n int"}}])
    rows = sorted((r["name"], r["n"]) for r in consume(env).select("_json.name", "_json.n").collect())
    assert rows == [("a", 1), ("c", 3)]
    assert sorted(r["_kafkaOffset"] for r in env.collect()) == [0, 1]
    assert [r["_topic"] for r in read_kafka_batch(spark, broker, "t2").collect()] == ["t2"]


@pytest.mark.parametrize(
    "config",
    [
        {"transport": "files", "path": "out", "topic": "t"},
        {"transport": "memory", "name": "sink", "topic": "t"},
        {"transport": "noop", "topic": "t"},
        {"transport": "bogus", "topic": "t"},
        {"transport": "kafka", "topic": "t"},
        {"transport": "rest", "topic": "t"},
    ],
    ids=["files", "memory", "noop", "bogus", "kafka-without-bootstrap", "rest-without-url"],
)
def test_kafka_producer_rejects_bad_transport_at_compile(config):
    """kafkaProducer has the reference's two transports, kafka and rest, and
    a transport it cannot run fails when the pipeline compiles."""
    with pytest.raises(PipelineSpecError):
        compile_pipeline([{"kafkaProducer": config}])


def test_kafka_producer_rest_transport_plain_string_value(spark):
    """A non-JSON string value must not fail the partition task with a
    JSONDecodeError — the rest transport sends the raw string as the record
    value instead."""
    from kafka_connect_morphlines_spark import compile_pipeline

    received = []

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append(json.loads(body))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_port}"
        df = spark.createDataFrame([("plain text, not json",)], "_value string").coalesce(1)
        p = compile_pipeline([{"kafkaProducer": {"transport": "rest", "kafka-rest-url": url, "topic": "t"}}])
        p(df).count()
        assert received[0]["records"] == [{"value": "plain text, not json"}]
    finally:
        server.shutdown()


def test_kafka_producer_rest_transport_with_retry(spark):
    """kafkaProducer {transport: rest}: Confluent REST-proxy POSTs
    (vnd.kafka.avro.v2+json, value_schema + records envelope, per-record
    topic routing) with one retry on error_code 50003
    (KafkaDataProducerCommandBuilder.java:318-374)."""
    from kafka_connect_morphlines_spark import compile_pipeline

    received = []
    failed_once = {"done": False}

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            if not failed_once["done"]:
                failed_once["done"] = True
                self.send_response(500)
                self.end_headers()
                self.wfile.write(b'{"error_code": 50003, "message": "no leader"}')
                return
            received.append((self.path, self.headers["Content-Type"], json.loads(body)))
            self.send_response(200)
            self.end_headers()
            self.wfile.write(b"{}")

        def log_message(self, *args):
            pass

    server = HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_port}"
        schema = '{"type":"record","name":"E","fields":[{"name":"name","type":"string"}]}'
        df = spark.createDataFrame([("a", "t1"), ("b", "t2")], "name string, dest string").coalesce(1)
        p = compile_pipeline(
            [
                {"sqlExpr": {"_value": "struct(name)"}},
                {
                    "kafkaProducer": {
                        "transport": "rest",
                        "kafka-rest-url": url,
                        "topicField": "dest",
                        "valueSchemaString": schema,
                    }
                },
            ]
        )
        p(df).count()
        by_topic = {path: (ctype, body) for path, ctype, body in received}
        assert set(by_topic) == {"/topics/t1", "/topics/t2"}
        ctype, body = by_topic["/topics/t1"]
        assert ctype == "application/vnd.kafka.avro.v2+json"
        assert body["value_schema"] == schema
        assert body["records"] == [{"value": {"name": "a"}}]
        assert failed_once["done"]  # the 50003 retry path executed
    finally:
        server.shutdown()
