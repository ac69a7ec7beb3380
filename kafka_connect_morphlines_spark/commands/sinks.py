"""Sink commands — kafkaProducer / loadSolr parity (SURVEY.md §2 A, B.3).

Morphline loaders are side-effecting commands at the end of a chain
(kafkaProducer publishes mid-chain and passes through —
KafkaDataProducerCommandBuilder.java:260-331; loadSolr buffers and sends).
In a declarative plan a sink is an *action*, so these commands compile to
transforms that (a) mark the pipeline's sink config and (b) when the engine
runner executes the pipeline in batch mode, perform the write via the
DataFrame writer (Kafka) or ``foreachPartition`` bulk HTTP (Solr-shaped).

kafkaProducer transports (the reference's two,
KafkaDataProducerCommandBuilder.java:251-374):
- ``kafka`` — ``sources.kafka.write_kafka_batch`` (spark-sql-kafka, or the
              embedded broker after ``sources.embedded_broker.install``;
              ``KafkaUnavailableError`` when neither is there)
- ``rest``  — Confluent REST-proxy POSTs, executor-side ``foreachPartition``
"""

from __future__ import annotations

import json
import struct
from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F, types as T

from kafka_connect_morphlines_spark import record as R
from kafka_connect_morphlines_spark.avro_schema import BoundSchema, bind_schema
from kafka_connect_morphlines_spark.commands import command
from kafka_connect_morphlines_spark.pipeline import PipelineSpecError
from kafka_connect_morphlines_spark.sources.kafka import write_kafka_batch
from kafka_connect_morphlines_spark.templates import colref

# In-process sink buffers for tests (name -> list of row dicts), mirroring the
# reference's mock-loader test strategy.
MEMORY_SINKS: dict[str, list] = {}

# Pluggable bulk-load clients for the Solr-shaped sink: name -> callable(list-of-dicts).
LOAD_CLIENTS: dict[str, Callable[[list[dict]], Any]] = {}


def _avro_value_bytes(df, value_col, dtype, bound: BoundSchema):
    """Avro-encode the value column with the compile-time ``bound`` writer
    schema; Confluent wire framing when it carries a schema id (magic 0x00 +
    BE id + datum — the bytes any Schema-Registry-aware consumer expects).

    JVM ``to_avro`` with the bound writer schema when the spark-avro jar is
    present (vectorized; the header is a codegen concat), else the
    pure-Python codec behind an Arrow-batched pandas UDF — bytes are
    identical, the Avro binary encoding is deterministic for a schema.
    """
    from kafka_connect_morphlines_spark.commands.parsers import (  # noqa: PLC0415
        _avro_functions,
        _jvm_from_avro_usable,
    )

    schema_json = bound.avro_json
    header = None if bound.schema_id is None else b"\x00" + struct.pack(">I", bound.schema_id)
    if _jvm_from_avro_usable(df):
        _, to_avro = _avro_functions()
        encoded = to_avro(value_col, schema_json) if schema_json else to_avro(value_col)
    elif schema_json is not None:
        encoded = _python_encode_datum_udf(schema_json, dtype)(value_col)
    else:
        raise NotImplementedError(
            "format=avro without the spark-avro jar needs schemaString/schemaFile "
            "or schemaRegistryUrl + (subject|schemaId) for the pure-Python encoder"
        )
    return F.concat(F.lit(header), encoded) if header else encoded


def _python_encode_datum_udf(schema_json: str, dtype):
    """Arrow-batched pandas UDF encoding one Avro datum per row with the
    pure-Python codec — the jar-less fallback, partition-parallel."""
    from kafka_connect_morphlines_spark.avro_codec import encode_datum

    is_struct = isinstance(dtype, T.StructType)

    @F.pandas_udf(returnType=T.BinaryType())
    def enc(v):
        import pandas as pd  # noqa: PLC0415

        if is_struct:
            # StructType input arrives as a pandas DataFrame (one column per
            # field); encode each row dict against the record schema
            rows = v.to_dict("records")
            return pd.Series([encode_datum(r, schema_json) for r in rows])
        return pd.Series([encode_datum(x, schema_json) for x in v])

    return enc


def _value_columns(df: DataFrame, config, value_schema: BoundSchema | None, key_schema: BoundSchema | None) -> DataFrame:
    """Project the frame to (key, value, topic) for a Kafka-shaped write;
    ``value_schema``/``key_schema`` are bound when the value/key leg is Avro."""
    topic = config.get("topic")
    topic_field = config.get("topicField", R.TOPIC)
    key_field = config.get("keyField")
    value_field = config.get("valueField", R.VALUE)
    value_col = colref(value_field) if value_field in df.columns else F.struct(*[colref(c) for c in df.columns])
    dtype = {f.name: f.dataType for f in df.schema.fields}.get(value_field)
    if value_schema is not None:
        value_out = _avro_value_bytes(df, value_col, dtype, value_schema)
    elif config.get("format", "json") == "json" and isinstance(dtype, (T.StructType, T.MapType, T.ArrayType)):
        value_out = F.to_json(value_col)
    else:
        value_out = value_col.cast("string")

    cols = [value_out.alias("value")]
    if key_field and key_field in df.columns:
        # keyFormat=avro: the reference's default key.serializer is also
        # KafkaAvroSerializer (KafkaDataProducerCommandBuilder.java:253);
        # key schema/id bind from the keySchema* keys, so keys get the same
        # wire framing.
        if key_schema is not None:
            key_dtype = {f.name: f.dataType for f in df.schema.fields}.get(key_field)
            cols.insert(0, _avro_value_bytes(df, colref(key_field), key_dtype, key_schema).alias("key"))
        else:
            cols.insert(0, colref(key_field).cast("string").alias("key"))
    if topic:
        cols.append(F.lit(topic).alias("topic"))
    elif topic_field in df.columns:
        cols.append(colref(topic_field).cast("string").alias("topic"))
    return df.select(*cols)


@command("kafkaProducer")
def kafka_producer(config, ctx):
    """Publish rows to Kafka and pass the frame through (reference
    KafkaDataProducerCommandBuilder.java:260-331: a pass-through publisher).

    ``properties { ... }`` map onto ``kafka.*`` writer options; per-record
    topic comes from ``topicField`` exactly like the reference's
    topic/topicField pair (ref :129-134).  Value, key (``keySchema*``) and
    REST (``valueSchemaString``/``valueSchemaFile``) schemas bind once, here,
    at compile time.
    """
    transport = config.get("transport", "kafka")
    if transport == "kafka":
        if "topic" not in config and "topicField" not in config:
            raise PipelineSpecError("kafkaProducer requires topic or topicField (ref :129-134)")
        properties = config.get("properties", {})
        bootstrap = properties.get("bootstrap-servers") or properties.get("bootstrap.servers")
        if not bootstrap:
            raise PipelineSpecError("transport=kafka requires properties { bootstrap-servers : ... }")
        # the reference's dash->dot key rewrite (ref :229-233)
        options = {"kafka." + str(k).replace("-", "."): str(v) for k, v in properties.items()}
    elif transport == "rest":
        rest_url = config.get("kafka-rest-url", config.get("kafkaRestUrl"))
        if not rest_url:
            raise PipelineSpecError("transport=rest requires kafka-rest-url")
        rest_schema = bind_schema(config, ctx, "value", avro=True).avro_json
    else:
        raise PipelineSpecError(f"kafkaProducer transport must be kafka or rest, not {transport!r}")
    value_schema = bind_schema(config, ctx, avro=True) if config.get("format") == "avro" else None
    key_schema = bind_schema(config, ctx, "key", avro=True) if config.get("keyFormat") == "avro" else None

    def transform(df: DataFrame) -> DataFrame:
        out = _value_columns(df, config, value_schema, key_schema)
        if transport == "kafka":
            write_kafka_batch(out, str(bootstrap), options=options)
        else:
            # Confluent REST-proxy publish (reference
            # KafkaDataProducerCommandBuilder.java:333-374): POST
            # /topics/{topic} with application/vnd.kafka.avro.v2+json and
            # {"value_schema": ..., "records": [{"key":..,"value":..}]};
            # one retry on error_code 50003 ("no leader", ref :318-328),
            # connection errors propagate (RetriableException analog).
            fixed_topic = config.get("topic")
            fixed_partition = config.get("partition")
            batch_size = int(config.get("batchSize", 500))

            def post_partition(rows):
                import urllib.error  # noqa: PLC0415
                import urllib.request  # noqa: PLC0415

                def send(topic, batch):
                    body = {"records": batch}
                    if rest_schema:
                        body["value_schema"] = rest_schema
                    # partition-targeted endpoint (ref :341-346:
                    # /topics/{t}/partitions/{p}) when a fixed partition is set
                    suffix = f"/partitions/{int(fixed_partition)}" if fixed_partition is not None else ""
                    req = urllib.request.Request(
                        f"{rest_url.rstrip('/')}/topics/{topic}{suffix}",
                        data=json.dumps(body, default=str).encode(),
                        headers={"Content-Type": "application/vnd.kafka.avro.v2+json"},
                    )
                    try:
                        urllib.request.urlopen(req, timeout=30)  # noqa: S310
                    except urllib.error.HTTPError as e:
                        payload = e.read()
                        if b"50003" in payload:  # broker leader unavailable: retry once
                            urllib.request.urlopen(req, timeout=30)  # noqa: S310
                        else:
                            raise

                by_topic: dict[str, list] = {}
                for row in rows:
                    d = row.asDict(recursive=True)
                    topic = fixed_topic or d.get("topic") or "default"
                    v = d.get("value")
                    if isinstance(v, str):
                        # a string value is usually a JSON document (format=json
                        # upstream); a plain non-JSON string is sent as-is
                        # instead of failing the whole partition task
                        try:
                            v = json.loads(v)
                        except ValueError:
                            pass
                    rec = {"value": v}
                    if d.get("key") is not None:
                        rec["key"] = d["key"]
                    by_topic.setdefault(topic, []).append(rec)
                    if len(by_topic[topic]) >= batch_size:
                        send(topic, by_topic.pop(topic))
                for topic, batch in by_topic.items():
                    send(topic, batch)

            out.foreachPartition(post_partition)
        return df  # pass-through, like the reference command

    return transform


@command("loadSolr", "loadHttp")
def load_solr(config, ctx):
    """Solr-shaped bulk loader (reference usage config/cloudsolr.conf:74-78).

    ``client`` names a registered callable in ``LOAD_CLIENTS`` receiving
    document batches as lists of dicts — mirroring how the reference tests
    mock SolrClient (MorphlineSinkTaskTest.java:59-91).  The callable is
    pickled into a ``foreachPartition`` closure and runs executor-side,
    partition-parallel (the 100 TB shape: no driver collect).  It must
    therefore (a) be picklable and (b) produce externally visible side
    effects — a driver-side list mock will NOT see executor appends; set
    ``clientMode: driver`` for such mocks (documents are then collected to
    the driver, test-scale only).  ``url`` posts JSON batches over HTTP
    (stdlib urllib; executor-side, partition-parallel).  Without either,
    documents buffer into MEMORY_SINKS['solr'] (driver memory, test sink).
    """
    client_name = config.get("client")
    locator = config.get("solrLocator", {}) or {}
    url = config.get("url") or locator.get("solrUrl")
    if not url and locator.get("zkHost"):
        # SolrCloud by ZooKeeper ensemble (cloudsolr.conf:1-7) — resolve the
        # ensemble to a base URL through the pluggable registry, then target
        # the collection's update endpoint.
        from kafka_connect_morphlines_spark.commands.schema import resolve_zk_host  # noqa: PLC0415

        base = resolve_zk_host(locator["zkHost"])
        collection = locator.get("collection")
        url = f"{base.rstrip('/')}/{collection}/update" if collection else base
    batch_size = int(config.get("batchSize", 1000))
    drop_reserved = config.get("dropReserved", True)

    def transform(df: DataFrame) -> DataFrame:
        doc_df = df.drop(*[c for c in df.columns if c in R.RESERVED_FIELDS]) if drop_reserved else df
        if client_name:
            client = LOAD_CLIENTS.get(client_name)
            if client is None:
                raise PipelineSpecError(f"no registered load client {client_name!r}")
            if config.get("clientMode", "partition") == "driver":
                # explicit test-scale escape hatch for driver-side mocks
                docs = [r.asDict(recursive=True) for r in doc_df.collect()]
                for i in range(0, len(docs), batch_size):
                    client(docs[i : i + batch_size])
            else:
                def client_partition(rows, _client=client, _bs=batch_size):
                    buf = []
                    for row in rows:
                        buf.append(row.asDict(recursive=True))
                        if len(buf) >= _bs:
                            _client(buf)
                            buf = []
                    if buf:
                        _client(buf)

                doc_df.foreachPartition(client_partition)
        elif url:

            def post_partition(rows):
                import urllib.request  # noqa: PLC0415

                buf = []
                for row in rows:
                    buf.append(row.asDict(recursive=True))
                    if len(buf) >= batch_size:
                        _post(buf)
                        buf.clear()
                if buf:
                    _post(buf)

            def _post(docs):
                import urllib.request  # noqa: PLC0415

                req = urllib.request.Request(
                    url,
                    data=json.dumps(docs, default=str).encode(),
                    headers={"Content-Type": "application/json"},
                )
                urllib.request.urlopen(req, timeout=30)  # noqa: S310

            doc_df.foreachPartition(post_partition)
        else:
            MEMORY_SINKS.setdefault("solr", []).extend(r.asDict(recursive=True) for r in doc_df.collect())
        return df

    return transform


@command("logSink", "show")
def log_sink(config, ctx):
    """Debug sink: show N rows (explicit action, unlike the no-op log* commands)."""
    n = int(config.get("numRows", 20))

    def transform(df: DataFrame) -> DataFrame:
        df.show(n, truncate=False)
        return df

    return transform
