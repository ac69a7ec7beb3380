"""End-to-end runs of the example pipeline configs in examples/ — the
port-parity demonstration: reference-shaped confs compile and run on the
engine's test tables."""

import json
import os

from kafka_connect_morphlines_spark import Pipeline
from kafka_connect_morphlines_spark.commands.sinks import LOAD_CLIENTS
from kafka_connect_morphlines_spark.functions import driver_table, skew
from kafka_connect_morphlines_spark.sources.files import load_table

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")


def test_cloudsolr_like_pipeline(spark):
    received = []
    LOAD_CLIENTS["example_collector"] = received.extend
    pipe = Pipeline.from_file(os.path.join(EXAMPLES, "cloudsolr_like.conf"), morphline_id="index_events")
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(50)
    pipe(events)
    assert len(received) == 50
    doc = received[0]
    assert set(doc) == {"id", "doc_key", "k_value", "event_type", "ts"}
    assert "#" in doc["id"] and doc["ts"].endswith("Z")


def test_heterogeneous_topic_branching(spark, broker):
    """Mixed-schema topic -> branch_by_schema -> per-schema pipelines ->
    union: the frame-wide analog of the reference's per-record _valueSchema
    dispatch (SURVEY §7.3.1), driven end-to-end through the embedded
    broker so the consume side is the real kafka reader path."""
    from pyspark.sql import functions as F

    from kafka_connect_morphlines_spark import branch_by_schema
    from kafka_connect_morphlines_spark.sources.kafka import read_kafka_batch, write_kafka_batch

    records = [
        (None, '{"type":"order","order_id":1,"amount":9.5}', "mixed"),
        (None, '{"type":"user","user_id":7,"name":"ada"}', "mixed"),
        (None, '{"type":"order","order_id":2,"amount":1.25}', "mixed"),
        (None, '{"type":"mystery","x":1}', "mixed"),
    ]
    write_kafka_batch(driver_table(spark, records, "key string, value string, topic string"), broker)

    env = read_kafka_batch(spark, broker, "mixed").withColumn("_value", F.col("_value").cast("string"))
    conf = os.path.join(EXAMPLES, "heterogeneous_topic.conf")
    orders = Pipeline.from_file(conf, morphline_id="orders_branch")
    users = Pipeline.from_file(conf, morphline_id="users_branch")
    unknown = Pipeline.from_file(conf, morphline_id="unknown_branch")
    disc = F.get_json_object(F.col("_value"), "$.type")
    out = branch_by_schema(
        env,
        [(disc == "order", orders), (disc == "user", users)],
        otherwise=unknown,
    )
    rows = out.select("kind", "order_id", "amount", "user_id", "name").collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    assert len(by_kind["order"]) == 2 and len(by_kind["user"]) == 1 and len(by_kind["unknown"]) == 1
    o = {r["order_id"]: r["amount"] for r in by_kind["order"]}
    assert o == {"1": 9.5, "2": 1.25}  # toString'd ids, typed amounts
    u = by_kind["user"][0]
    assert (u["user_id"], u["name"]) == ("7", "ada")
    assert u["order_id"] is None and u["amount"] is None  # null-filled union


def test_producer_like_pipeline(spark, broker, monkeypatch):
    """examples/producer_like.conf republishes each event to
    enriched-<event_type> through the native transport."""
    from kafka_connect_morphlines_spark.sources.kafka import read_kafka_batch

    monkeypatch.setenv("PRODUCER_BOOTSTRAP", broker)
    pipe = Pipeline.from_file(os.path.join(EXAMPLES, "producer_like.conf"), morphline_id="republish")
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    result = pipe(events.limit(20))
    assert result.count() == 20  # pass-through publisher
    event_type = {r["event_id"]: r["event_type"] for r in events.select("event_id", "event_type").collect()}
    topics = ",".join(sorted({f"enriched-{t}" for t in event_type.values()}))
    written = read_kafka_batch(spark, broker, topics).collect()
    assert len(written) == 20
    for row in written:
        payload = json.loads(bytes(row["_value"]))
        assert set(payload) >= {"event_id", "uid", "user_id"}
        assert row["_topic"] == f"enriched-{event_type[payload['event_id']]}"


def test_salted_aggregate_matches_plain(spark):
    from pyspark.sql import functions as F

    df = load_table(spark, "/root/testdata/sf0.001", "events")
    salted = skew.salted_aggregate(
        df, ["event_type"], {"n": ("count", "event_id"), "total": ("sum", "value"), "mx": ("max", "value")}, salt=8
    )
    got = {r["event_type"]: (r["n"], round(r["total"], 2), r["mx"]) for r in salted.collect()}
    want_df = df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"), F.max("value").alias("mx")
    )
    want = {r["event_type"]: (r["n"], r["total"], r["mx"]) for r in want_df.collect()}
    assert got == want


def test_salted_join_matches_plain(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select("event_id", "user_id")
    users = ev.groupBy("user_id").count().withColumnRenamed("count", "n_events")
    from kafka_connect_morphlines_spark.functions.skew import salted_join

    got = salted_join(ev, users, "user_id", salt=4).count()
    want = ev.join(users, "user_id").count()
    assert got == want


def test_session_window_stream(spark, tmp_path):
    from kafka_connect_morphlines_spark.streaming import runner

    src = str(tmp_path / "sess")
    load_table(spark, "/root/testdata/sf0.001", "events").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = runner.session_windows(stream, gap="30 minutes")
    q = agg.writeStream.queryName("sess_out").outputMode("complete").format("memory").start()
    q.processAllAvailable()
    q.stop()
    total_events = spark.sql("SELECT sum(n_events) AS t FROM sess_out").collect()[0]["t"]
    assert total_events == spark.read.parquet(src).count()
    # session count matches the batch sessionize logic
    from kafka_connect_morphlines_spark.plans.queries import QUERIES

    batch_sessions = (
        QUERIES["sessionize"].build(spark, "/root/testdata/sf0.001").agg({"n_sessions": "sum"}).collect()[0][0]
    )
    stream_sessions = spark.sql("SELECT count(*) AS c FROM sess_out").collect()[0]["c"]
    assert stream_sessions == batch_sessions
    # and the batch face of the same native operator: one row per session
    batch_face = QUERIES["session_window_agg"].build(spark, "/root/testdata/sf0.001").count()
    assert batch_face == stream_sessions


def test_streaming_dlq_example(spark, broker, tmp_path):
    """The full jar-less loop: kafkaProducer -> embedded broker -> streaming
    consume (read_kafka_stream) -> examples/streaming_dlq.conf pipeline ->
    good rows to the sink, bad payloads to the quarantine DLQ."""
    from pyspark.sql import functions as F

    from kafka_connect_morphlines_spark import compile_pipeline
    from kafka_connect_morphlines_spark.sources.kafka import read_kafka_stream
    from kafka_connect_morphlines_spark.streaming import runner

    # produce: two valid JSON payloads and one broken one
    src = spark.createDataFrame(
        [('{"name":"a","n":1}',), ('{"name":"b","n":2}',), ("broken",)], "_value string"
    )
    produce = compile_pipeline([{"kafkaProducer": {"topic": "demo", "properties": {"bootstrap-servers": broker}}}])
    produce(src).count()

    pipe = Pipeline.from_file(os.path.join(EXAMPLES, "streaming_dlq.conf"), morphline_id="consume_clean")
    good, bad = [], []
    stream = read_kafka_stream(spark, broker, "demo").withColumn("_value", F.col("_value").cast("string"))
    q = runner.run_stream(
        stream,
        pipe,
        sink=lambda df, epoch: good.extend(r["doc_key"] for r in df.collect()),
        quarantine_sink=lambda df, epoch: bad.extend(r["_value"] for r in df.collect()),
        checkpoint=str(tmp_path / "ck"),
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(good) == ["demo-1", "demo-2"]
    assert bad == ["broken"]


def test_corpus_prep_end_to_end(spark):
    """The full training-corpus preparation composition (examples/
    corpus_prep.py): clean -> quality gate -> exact + near-dup dedup ->
    decontaminate -> mixture/split -> shuffle -> encode -> pack, with the
    invariants each stage must preserve."""
    import importlib.util

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location("corpus_prep", os.path.join(EXAMPLES, "corpus_prep.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    benchmark = docs.orderBy("doc_id").limit(20)
    out = mod.prepare_corpus(docs, benchmark, vocab_size=128)

    n_docs = docs.count()
    n_dedup = out["deduped"].count()
    assert 0 < n_dedup <= n_docs

    # every benchmark doc that survived into the corpus would be 100%
    # contaminated with itself — the gate must have dropped any such doc
    max_contam = out["contamination"].agg(F.max("contamination")).collect()[0][0]
    assert max_contam <= 1.0

    # shuffle: (shard, pos) is a permutation — pos unique within shard
    sh = out["train_shuffled"]
    assert sh.groupBy("shard", "pos").count().filter("count > 1").count() == 0

    # encode: ids bounded by vocab size, 0 reserved for OOV
    vmax = out["vocab"].agg(F.max("token_id")).collect()[0][0]
    assert vmax <= 128
    idmax = out["encoded"].agg(F.max(F.array_max("token_ids"))).collect()[0][0]
    assert idmax <= vmax

    # packing: no bin exceeds budget unless a single doc alone overflows it
    over = out["packed"].groupBy("source", "bin_id").agg(
        F.sum("n_tokens").alias("tot"), F.count("*").alias("n")
    ).filter((F.col("tot") > 512) & (F.col("n") > 1))
    # a multi-doc bin may exceed budget only by less than its last doc
    assert over.filter(F.col("tot") > 2 * 512).count() == 0

    # r08 dataset-card audits: CDC dup ratio in [0,1] per source; the
    # overlap matrix is the full upper triangle with valid Jaccards
    cdc = out["cdc_audit"].collect()
    assert cdc and all(0.0 <= r["dup_chunk_ratio"] <= 1.0 for r in cdc)
    ov = out["overlap_audit"].collect()
    m = out["cdc_audit"].count()
    assert len(ov) == m * (m - 1) // 2
    assert all(0.0 <= r["jaccard"] <= 1.0 and r["src_a"] < r["src_b"] for r in ov)


def test_corpus_prep_incremental_and_semantic(spark):
    """The optional stages: bloom incremental dedup drops every re-ingested
    document (digest seen in the prior snapshot) and the SemDeDup stage
    runs end-to-end when embeddings are supplied."""
    import importlib.util

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location("corpus_prep2", os.path.join(EXAMPLES, "corpus_prep.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    benchmark = docs.orderBy("doc_id").limit(5)
    prior = docs.filter(F.col("doc_id") % 2 == 0)
    out = mod.prepare_corpus(
        docs, benchmark, vocab_size=128, embeddings=emb, prior_corpus=prior
    )
    # every even-id doc was already ingested: its digest is in the prior
    # snapshot, so nothing even-id may survive into the deduped corpus
    assert out["deduped"].filter(F.col("doc_id") % 2 == 0).count() == 0
    assert out["deduped"].count() > 0
    # the gopher audit covers exactly the post-ingest batch
    assert out["gopher_audit"].filter(F.col("doc_id") % 2 == 0).count() == 0


def test_warehouse_analytics_end_to_end(spark):
    """The event-warehouse analytics composition (examples/
    warehouse_analytics.py): SCD2 build -> point-in-time enrichment ->
    funnel/cohort -> heavy-hitter sketch -> audit search, with the
    invariants each stage must preserve."""
    import importlib.util

    from pyspark.sql import functions as F

    spec = importlib.util.spec_from_file_location(
        "warehouse_analytics", os.path.join(EXAMPLES, "warehouse_analytics.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = mod.analyze_events(events, docs, search_terms=["spark", "window"])

    # SCD2: exactly one open (current) version per user with versions
    v = out["dim_versions"]
    per_user_current = v.filter("is_current").groupBy("user_id").count()
    assert per_user_current.filter("count != 1").count() == 0

    # enrichment keeps every click exactly once (left as-of join)
    n_clicks = events.filter(F.col("event_type") == "click").count()
    assert out["enriched_clicks"].count() == n_clicks

    # funnel monotonicity: each step's completions <= previous step's
    conv = out["conversion"].collect()[0]
    assert conv["n_signup"] >= conv["n_click"] >= conv["n_purchase"]

    # retention offsets are non-negative; heavy hitters returns k rows max
    assert out["retention"].filter("week_offset < 0").count() == 0
    assert out["heavy_hitters"].count() <= 10
    assert out["audit_search"].count() <= 10


def test_observability_pipeline_end_to_end(spark):
    """The monitoring composition (examples/observability_pipeline.py):
    morphline parse -> z-score anomalies -> DDSketch quantile rollup ->
    rolling HLL uniques -> Markov transitions -> event-type PageRank."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "observability_pipeline", os.path.join(EXAMPLES, "observability_pipeline.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from kafka_connect_morphlines_spark.sources.files import load_table

    frames = mod.monitor_events(load_table(spark, "/root/testdata/sf0.001", "events"))
    qpk = frames["quantiles_per_key"].collect()
    assert len(qpk) == 5 and all(r["p50"] <= r["p95"] <= r["p99"] for r in qpk)
    fleet = frames["quantiles_fleet"].collect()
    assert len(fleet) == 1 and fleet[0]["p50"] <= fleet[0]["p99"]
    assert frames["rolling_users"].count() > 0
    tr = frames["transitions"].collect()
    froms = {}
    for r in tr:
        froms[r["from_type"]] = froms.get(r["from_type"], 0.0) + r["prob"]
    assert all(abs(v - 1.0) < 1e-4 for v in froms.values())
    ranks = frames["event_type_ranks"].collect()
    assert len(ranks) == 5 and all(r["rank"] > 0 for r in ranks)
