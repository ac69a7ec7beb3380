"""Structured Streaming: pipeline reuse on streams, DLQ quarantine, windows.

The reference's streaming semantics are at-least-once batches with per-put
commit notifications (MorphlineSinkTask.java:129-149); these tests pin the
micro-batch analog plus the Spark-native event-time surface it never had.
"""

import pytest
from pyspark.sql import functions as F

from kafka_connect_morphlines_spark import compile_pipeline
from kafka_connect_morphlines_spark.functions import driver_table
from kafka_connect_morphlines_spark.streaming import runner


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    # re-write through the loader so the stream fixture has plain micros
    # timestamps (the raw file is TIMESTAMP(NANOS) — sources/files.py)
    from kafka_connect_morphlines_spark.sources.files import load_table

    d = str(tmp_path_factory.mktemp("events_stream") / "data")
    load_table(spark, "/root/testdata/sf0.001", "events").coalesce(1).write.parquet(d)
    return d


def test_pipeline_on_stream_matches_batch(spark, events_stream_dir):
    """The same compiled pipeline runs on batch and streaming frames."""
    pipe = compile_pipeline(
        [
            {"contains": {"event_type": ["purchase", "signup"]}},
            {"setValues": {"tag": "@{event_type}-@{user_id}"}},
        ]
    )
    schema = spark.read.parquet(events_stream_dir).schema
    src = spark.readStream.schema(schema).parquet(events_stream_dir)
    q = runner.run_stream_to_memory(src, pipe, query_name="stream_out")
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) AS n FROM stream_out").collect()[0]["n"]
    want = pipe(spark.read.parquet(events_stream_dir)).count()
    assert got == want > 0


def test_quarantine_dlq(spark, tmp_path):
    """flagInvalid + quarantine_split: bad records route to the DLQ instead
    of being silently dropped (reference log-and-skip, MorphlineSinkTask.java:137)."""
    rows = [('{"k": 1}',), ("not json",), ('{"k": 3}',)]
    src_dir = tmp_path / "json_src"
    src_dir.mkdir()
    driver_table(spark, rows, "payload string").coalesce(1).write.mode("overwrite").parquet(str(src_dir / "data"))

    pipe = compile_pipeline([{"readJson": {"inputField": "payload", "schemaDdl": "k int", "flagInvalid": True}}])
    good_batches, bad_batches = [], []
    schema = spark.read.parquet(str(src_dir / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(src_dir / "data"))
    q = runner.run_stream(
        stream,
        pipe,
        sink=lambda df, epoch: good_batches.extend(r["payload"] for r in df.collect()),
        quarantine_sink=lambda df, epoch: bad_batches.extend(r["payload"] for r in df.collect()),
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(good_batches) == ['{"k": 1}', '{"k": 3}']
    assert bad_batches == ["not json"]


def test_unflagged_pipeline_never_calls_the_quarantine_sink(spark, tmp_path):
    """A pipeline without flagInvalid has nothing to quarantine: every row
    reaches the main sink and the quarantine sink (a DLQ write job per
    call) is never invoked."""
    src_dir = str(tmp_path / "plain_src" / "data")
    driver_table(spark, [(1,), (2,), (3,)], "k long").coalesce(1).write.parquet(src_dir)
    pipe = compile_pipeline([{"setValues": {"tag": "row-@{k}"}}])
    good, quarantine_calls = [], []
    stream = spark.readStream.schema(spark.read.parquet(src_dir).schema).parquet(src_dir)
    q = runner.run_stream(
        stream,
        pipe,
        sink=lambda df, epoch: good.extend(r["k"] for r in df.collect()),
        quarantine_sink=lambda df, epoch: quarantine_calls.append(epoch),
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(good) == [1, 2, 3]
    assert quarantine_calls == []


def test_windowed_aggregation_stream(spark, events_stream_dir):
    """Watermarked tumbling windows over the stream (complete mode for a
    bounded fixture)."""
    schema = spark.read.parquet(events_stream_dir).schema
    src = spark.readStream.schema(schema).parquet(events_stream_dir)
    agg = runner.windowed_event_counts(src, window="6 hours", watermark="1 hour")
    q = agg.writeStream.queryName("win_out").outputMode("complete").format("memory").start()
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT sum(n) AS total FROM win_out").collect()[0]["total"]
    want = spark.read.parquet(events_stream_dir).count()
    assert got == want


def test_stream_checkpoint_resume(spark, events_stream_dir, tmp_path):
    """Checkpointed foreachBatch resumes without reprocessing — the engine's
    commit-transaction analog."""
    pipe = compile_pipeline([{"setValues": {"seen": "y"}}])
    counts = []
    schema = spark.read.parquet(events_stream_dir).schema
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        src = spark.readStream.schema(schema).parquet(events_stream_dir)
        q = runner.run_stream(src, pipe, sink=lambda df, e: counts.append(df.count()), checkpoint=ckpt)
        q.processAllAvailable()
        q.stop()

    run_once()
    first_total = sum(counts)
    run_once()  # same checkpoint, no new files -> no new batches
    assert sum(counts) == first_total > 0


def test_stateful_running_counts(spark, tmp_path):
    """applyInPandasWithState keeps per-key totals across micro-batches."""
    from kafka_connect_morphlines_spark.streaming.stateful import running_event_counts

    src = str(tmp_path / "ev")
    driver_table(spark, [(1, "a"), (1, "b"), (2, "a")], "user_id long, ev string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    schema = spark.read.parquet(src).schema
    ckpt = str(tmp_path / "ck")

    stream = spark.readStream.schema(schema).parquet(src)
    out = running_event_counts(stream)
    q = out.writeStream.queryName("state_out").outputMode("append").format("memory").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    # second micro-batch: new file arrives
    driver_table(spark, [(1, "c")], "user_id long, ev string").coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM state_out ORDER BY total_events").collect()
    per_user1 = [(r["batch_events"], r["total_events"]) for r in rows if r["user_id"] == 1]
    assert (2, 2) in per_user1 and (1, 3) in per_user1  # state carried: 2 then 2+1
    assert [(r["batch_events"], r["total_events"]) for r in rows if r["user_id"] == 2] == [(1, 1)]


def test_metrics_listener_collects_batches(spark, events_stream_dir):
    """MetricsListener + observe command: per-batch row counts flow to the
    listener (Codahale-reporter analog)."""
    from kafka_connect_morphlines_spark.streaming import metrics

    listener = metrics.attach(spark)
    try:
        pipe = compile_pipeline([{"observe": {"name": "seen"}}, {"contains": {"event_type": ["click"]}}])
        schema = spark.read.parquet(events_stream_dir).schema
        src = spark.readStream.schema(schema).parquet(events_stream_dir)
        q = runner.run_stream_to_memory(src, pipe, query_name="metrics_out")
        q.processAllAvailable()
        q.stop()
        # listener callbacks are async; wait briefly for delivery
        import time

        for _ in range(20):
            if any(b.query_name == "metrics_out" and b.num_input_rows > 0 for b in listener.batches):
                break
            time.sleep(0.5)
        ours = [b for b in listener.batches if b.query_name == "metrics_out" and b.num_input_rows > 0]
        assert ours, f"no batches collected: {listener.batches}"
        total_in = sum(b.num_input_rows for b in ours)
        assert total_in == spark.read.parquet(events_stream_dir).count()
        observed = next((b.observed for b in ours if "seen" in b.observed), None)
        assert observed and observed["seen"]["numRecords"] == total_in
    finally:
        spark.streams.removeListener(listener)


def test_transform_with_state_running_sums(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API) keeps per-key
    running sums across micro-batches.  Skipped where protobuf (the state
    protocol's wire format) isn't installed — the operator raises a clear
    NotImplementedError there, which this test pins too."""
    from kafka_connect_morphlines_spark.streaming.stateful import running_value_sums

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        df = spark.createDataFrame([(1, 1.0)], "user_id long, value double")
        with pytest.raises(NotImplementedError, match="protobuf"):
            running_value_sums(df)
        pytest.skip("protobuf not installed: transformWithState gated")

    src = str(tmp_path / "tws")
    driver_table(
        spark, [(1, 10.0), (1, 5.0), (2, 1.0)], "user_id long, value double"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    ckpt = str(tmp_path / "tws_ck")

    stream = spark.readStream.schema(schema).parquet(src)
    out = running_value_sums(stream)
    q = (
        out.writeStream.queryName("tws_out")
        .outputMode("append")
        .format("memory")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    driver_table(spark, [(1, 2.0)], "user_id long, value double").coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM tws_out ORDER BY running_sum").collect()
    u1 = [(r["batch_sum"], r["running_sum"]) for r in rows if r["user_id"] == 1]
    assert (15.0, 15.0) in u1 and (2.0, 17.0) in u1  # state carried across batches
    assert [(r["batch_sum"], r["running_sum"]) for r in rows if r["user_id"] == 2] == [(1.0, 1.0)]


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate keys across micro-batches
    inside the watermark delay are emitted once; state stays bounded."""
    import datetime

    from kafka_connect_morphlines_spark.streaming.stateful import dedup_stream

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    src = str(tmp_path / "dd")
    driver_table(
        spark, [(1, ts), (1, ts), (2, ts)], "k long, ts timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    ckpt = str(tmp_path / "dd_ck")

    stream = spark.readStream.schema(schema).parquet(src)
    out = dedup_stream(stream, ["k"], ts_col="ts", delay="10 minutes")
    q = (
        out.writeStream.queryName("dedup_out")
        .outputMode("append")
        .format("memory")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    # same key arrives again in a later micro-batch, still within the delay
    driver_table(spark, [(1, ts + datetime.timedelta(minutes=1))], "k long, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT k, count(*) AS n FROM dedup_out GROUP BY k ORDER BY k").collect()
    assert [(r["k"], r["n"]) for r in rows] == [(1, 1), (2, 1)]
    # batch fallback: plain dropDuplicates
    batch = spark.createDataFrame([(1, ts), (1, ts), (3, ts)], "k long, ts timestamp")
    assert dedup_stream(batch, ["k"]).count() == 2


def test_enrich_static_stream(spark, events_stream_dir):
    """Stream-static broadcast enrichment: every micro-batch row picks up its
    dimension attributes; result equals the batch join."""
    schema = spark.read.parquet(events_stream_dir).schema
    src = spark.readStream.schema(schema).parquet(events_stream_dir)
    dim = spark.createDataFrame(
        [("purchase", 1.0), ("signup", 0.5), ("click", 0.1)],
        "event_type string, weight double",
    )
    out = runner.enrich_static(src, dim, on="event_type")
    q = out.writeStream.queryName("enrich_out").outputMode("append").format("memory").start()
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) AS n, round(sum(weight), 2) AS w FROM enrich_out").collect()[0]
    batch = spark.read.parquet(events_stream_dir).join(dim, "event_type")
    want_w = round(batch.agg(F.sum("weight")).collect()[0][0], 2)
    assert got["n"] == spark.read.parquet(events_stream_dir).count()
    assert got["w"] == want_w


def test_interval_join_stream(spark, events_stream_dir, tmp_path):
    """Stream-stream interval join: purchases within 2 hours after a click by
    the same user, verified against the equivalent batch join."""
    batch = spark.read.parquet(events_stream_dir)
    schema = batch.schema
    clicks_dir, buys_dir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    batch.filter(F.col("event_type") == "click").write.parquet(clicks_dir)
    batch.filter(F.col("event_type") == "purchase").write.parquet(buys_dir)

    def build(cl, bu):
        return runner.interval_join(
            cl.select("user_id", "ts"),
            bu.select("user_id", F.col("ts").alias("ts2"), "value"),
            key="user_id",
            left_ts="ts",
            right_ts="ts2",
            upper="2 hours",
        ).select(F.col("l.user_id").alias("user_id"), "ts", "ts2", "value")

    out = build(
        spark.readStream.schema(schema).parquet(clicks_dir),
        spark.readStream.schema(schema).parquet(buys_dir),
    )
    q = out.writeStream.queryName("ij_out").outputMode("append").format("memory").start()
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) AS n FROM ij_out").collect()[0]["n"]
    want = build(
        spark.read.parquet(clicks_dir), spark.read.parquet(buys_dir)
    ).count()
    assert got == want > 0


def test_constraint_gate_quarantines_bad_batch(spark, tmp_path):
    """Per-batch quality gate: a micro-batch violating the constraint suite
    routes WHOLE to the quarantine sink (batch-level DLQ), a clean batch
    flows to the main sink."""
    from kafka_connect_morphlines_spark.functions import validation as V

    src_dir = tmp_path / "gate_src"
    src_dir.mkdir()
    # one clean file-batch, one poisoned (duplicate keys)
    driver_table(spark, [(1, "a"), (2, "b")], "k long, v string").coalesce(1).write.parquet(
        str(src_dir / "data")
    )
    pipe = compile_pipeline([{"setValues": {"tag": "row-@{k}"}}])
    good_rows, bad_rows = [], []
    schema = spark.read.parquet(str(src_dir / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(src_dir / "data"))
    q = runner.run_stream(
        stream,
        pipe,
        sink=lambda df, e: good_rows.extend(r["k"] for r in df.collect()),
        quarantine_sink=lambda df, e: bad_rows.extend(r["k"] for r in df.collect()),
        constraints=[V.NotNull("k"), V.Unique("k")],
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(good_rows) == [1, 2] and bad_rows == []

    # poisoned data: duplicate key violates Unique.  A fresh run (no
    # checkpoint) re-reads everything as ONE micro-batch, so the whole
    # batch — clean rows included — must land in quarantine: the gate is
    # batch-granular by design.
    driver_table(spark, [(7, "x"), (7, "y")], "k long, v string").coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir / "data"))
    good2, bad2 = [], []
    q = runner.run_stream(
        stream,
        pipe,
        sink=lambda df, e: good2.extend(r["k"] for r in df.collect()),
        quarantine_sink=lambda df, e: bad2.extend(r["k"] for r in df.collect()),
        constraints=[V.NotNull("k"), V.Unique("k")],
    )
    q.processAllAvailable()
    q.stop()
    assert good2 == [] and sorted(bad2) == [1, 2, 7, 7]


def test_upsert_sink_last_writer_wins_and_replay_idempotent(spark, tmp_path):
    """Epoch-staged upsert sink: later epochs win per key, deletes
    tombstone, and replaying an epoch leaves the published state unchanged
    (the exactly-once sink contract)."""
    from kafka_connect_morphlines_spark.streaming.upsert import UpsertParquetSink

    root = str(tmp_path / "upsert")
    sink = UpsertParquetSink(root, key_cols=["k"], op_col="op")
    b0 = spark.createDataFrame(
        [("a", 1.0, "upsert"), ("b", 2.0, "upsert")], "k string, v double, op string"
    )
    b1 = spark.createDataFrame(
        [("a", 10.0, "upsert"), ("c", 3.0, "upsert"), ("b", 0.0, "delete")],
        "k string, v double, op string",
    )
    sink(b0, 0)
    sink(b1, 1)
    got = {r["k"]: r["v"] for r in sink.read_current(spark).collect()}
    assert got == {"a": 10.0, "c": 3.0}  # a updated, b deleted, c inserted
    # replay epoch 1 (failure recovery): state must not change
    sink(b1, 1)
    again = {r["k"]: r["v"] for r in sink.read_current(spark).collect()}
    assert again == got


def test_upsert_sink_through_run_stream(spark, tmp_path):
    """The sink plugged into the foreachBatch runner end-to-end."""
    from kafka_connect_morphlines_spark.streaming.upsert import UpsertParquetSink

    src_dir = tmp_path / "upsrc"
    src_dir.mkdir()
    driver_table(spark, [(1, "x"), (2, "y"), (1, "z")], "k long, v string").coalesce(
        1
    ).write.parquet(str(src_dir / "data"))
    sink = UpsertParquetSink(str(tmp_path / "uptab"), key_cols=["k"])
    pipe = compile_pipeline([{"setValues": {"tag": "row-@{k}"}}])
    schema = spark.read.parquet(str(src_dir / "data")).schema
    stream = spark.readStream.schema(schema).parquet(str(src_dir / "data"))
    q = runner.run_stream(stream, pipe, sink=sink)
    q.processAllAvailable()
    q.stop()
    cur = sink.read_current(spark)
    # one row per key survives, with the deterministic struct-max winner
    assert cur.count() == 2
    assert {r["k"] for r in cur.collect()} == {1, 2}
    assert {r["v"] for r in cur.filter("k = 1").collect()} == {"z"}  # max payload tie-break


def test_ddsketch_streaming_incremental(spark, events_stream_dir):
    """The DDSketch build is an incrementally-maintainable streaming
    aggregate: groupBy(bucket) count in complete mode over a stream yields
    EXACTLY the batch sketch of the same data (mergeability = streamability
    — per-batch deltas fold into running bucket counts with no rescan).
    Quantile extraction then runs on the sketch table downstream."""
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import sketches

    schema = spark.read.parquet(events_stream_dir).schema
    src = spark.readStream.schema(schema).parquet(events_stream_dir)
    sk = sketches.dd_sketch(src, F.col("value"), keys=[F.col("event_type")])
    q = (
        sk.writeStream.queryName("dd_stream")
        .outputMode("complete")
        .format("memory")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in spark.sql("SELECT * FROM dd_stream").collect()
    }
    batch = spark.read.parquet(events_stream_dir)
    want = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in sketches.dd_sketch(batch, F.col("value"), keys=[F.col("event_type")]).collect()
    }
    assert got == want and len(want) > 0


def test_interval_join_left_outer_emits_unmatched(spark, events_stream_dir):
    """left_outer stream-stream interval join: unmatched left rows emit
    null-padded once the watermark clears their join window; every inner
    match of the inner-join variant is present too."""
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.streaming import runner

    schema = spark.read.parquet(events_stream_dir).schema

    def src():
        return spark.readStream.schema(schema).parquet(events_stream_dir)

    clicks = src().filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    buys = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id"), F.col("ts"), F.col("value"))
    )
    joined = runner.interval_join(
        clicks, buys, "user_id", upper="30 minutes", watermark="1 minute", how="left_outer"
    )
    q = (
        joined.select(F.col("l.event_id").alias("eid"), F.col("r.value").alias("v"))
        .writeStream.queryName("lo_join")
        .outputMode("append")
        .format("memory")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM lo_join").collect()
    matched = [r for r in rows if r["v"] is not None]
    unmatched = [r for r in rows if r["v"] is None]
    assert len(matched) > 0 and len(unmatched) > 0
    # no left row is both matched and null-padded
    assert set(r["eid"] for r in matched).isdisjoint(r["eid"] for r in unmatched)


def test_sketch_sink_streaming_maintenance(spark, events_stream_dir, tmp_path):
    """Streaming sketch maintenance end-to-end: each micro-batch writes its
    DDSketch partial (epoch-staged, replay-idempotent), the merged view
    equals the batch sketch exactly, and a checkpointed restart with no new
    data adds nothing."""
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import sketches
    from kafka_connect_morphlines_spark.streaming import runner
    from kafka_connect_morphlines_spark.streaming.upsert import SketchParquetSink

    schema = spark.read.parquet(events_stream_dir).schema
    sink = SketchParquetSink(str(tmp_path / "sk"), ["event_type", "bucket"])
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        src = spark.readStream.schema(schema).parquet(events_stream_dir)
        q = src.writeStream.foreachBatch(
            lambda df, e: sink(
                sketches.dd_sketch(df, F.col("value"), keys=[F.col("event_type")]), e
            )
        ).option("checkpointLocation", ckpt).start()
        q.processAllAvailable()
        q.stop()

    run_once()
    merged = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in sink.read_merged(spark).collect()
    }
    batch = spark.read.parquet(events_stream_dir)
    want = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in sketches.dd_sketch(batch, F.col("value"), keys=[F.col("event_type")]).collect()
    }
    assert merged == want
    run_once()  # restart, no new files -> merged view unchanged
    merged2 = {
        (r["event_type"], r["bucket"]): r["cnt"]
        for r in sink.read_merged(spark).collect()
    }
    assert merged2 == want


def test_enrich_scd2_stream_point_in_time(spark, events_stream_dir):
    """Streaming facts enrich against the SCD2 version valid AT EVENT TIME:
    results must equal the batch point-in-time semantics exactly."""
    from pyspark.sql import functions as F
    from kafka_connect_morphlines_spark.functions import temporal

    batch = spark.read.parquet(events_stream_dir)
    changes = (
        batch.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    versions = temporal.scd2_versions(changes, "user_id", "day", ["n_purchases"])

    schema = batch.schema
    src = spark.readStream.schema(schema).parquet(events_stream_dir)
    enriched = temporal.enrich_scd2_stream(
        src.filter(F.col("event_type") == "click"), versions, "user_id"
    ).select("event_id", "n_purchases")
    q = enriched.writeStream.queryName("scd2_out").outputMode("append").format("memory").start()
    q.processAllAvailable()
    q.stop()
    got = {r["event_id"]: r["n_purchases"] for r in spark.sql("SELECT * FROM scd2_out").collect()}

    want_df = temporal.enrich_scd2_stream(
        batch.filter(F.col("event_type") == "click"), versions, "user_id"
    ).select("event_id", "n_purchases")
    want = {r["event_id"]: r["n_purchases"] for r in want_df.collect()}
    assert got == want and len(got) > 0
    # at least one fact predates its user's first version -> null attribute kept
    assert any(v is None for v in got.values())


def test_available_now_trigger_drains_and_terminates(spark, events_stream_dir, tmp_path):
    """Trigger.AvailableNow: process everything available in bounded
    batches, then stop on its own — the batch-backfill mode of a streaming
    pipeline (one code path for replay and live tailing)."""
    from kafka_connect_morphlines_spark.pipeline import compile_pipeline
    from kafka_connect_morphlines_spark.streaming import runner

    schema = spark.read.parquet(events_stream_dir).schema
    src = spark.readStream.schema(schema).parquet(events_stream_dir)
    pipe = compile_pipeline([{"setValues": {"seen": "y"}}])
    counts = []
    q = runner.run_stream(
        src,
        pipe,
        sink=lambda df, e: counts.append(df.count()),
        checkpoint=str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert not q.isActive  # terminated by itself
    assert sum(counts) == spark.read.parquet(events_stream_dir).count()
