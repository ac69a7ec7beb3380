"""``stream_etl``: the sink task's put loop, run as a closed loop.

The generator appends chunk *i* to the ``events`` topic, the driver waits
for ``processAllAvailable()``, then chunk *i+1* is created — the way a Kafka
Connect worker polls again only after ``put()`` returns.  Each micro-batch
runs the compiled morphline, writes good rows to a parquet sink and
quarantined rows to the ``dlq`` topic of the same broker.
"""

from __future__ import annotations

import datetime
import os
import statistics
import sys
import time

import host
from streamgen import StreamGenerator, read_topic

CHUNK_RECORDS = 2000
WARMUP_CHUNKS = 2
TOPIC = "events"
DLQ_TOPIC = "dlq"

MORPHLINE = """
morphlines : [
  {
    id : access_events
    importCommands : ["org.kitesdk.**"]
    commands : [
      { readJson { inputField : _value, schemaDdl : "seq long, created_ms long, msg string", flagInvalid : true } }
      { extractJsonPaths { paths { seq : /seq, created_ms : /created_ms, msg : /msg } } }
      { grok {
          expressions { msg : "%{IP:client} %{WORD:method} %{URIPATHPARAM:path} %{INT:status:int} %{INT:bytes:int}" }
          numRequiredMatches : never
      } }
      { setValues { doc_key : "@{_topic}-@{seq}", ts : "@{created_ms}" } }
      { convertTimestamp {
          field : ts
          inputFormats : [unixTimeInMillis]
          outputFormat : "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
      } }
    ]
  }
]
"""

SINK_COLUMNS = ["seq", "doc_key", "status", "bytes", "ts"]


def _iso(ms: int) -> str:
    return datetime.datetime.fromtimestamp(ms / 1000, tz=datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def _pct(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1] if len(values) > 1 else values[0]


class StreamEtl:
    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.broker = os.path.join(work_dir, "broker")
        self.sink_dir = os.path.join(work_dir, "sink")
        self.checkpoint = os.path.join(work_dir, "checkpoint")
        self.gen = StreamGenerator(self.broker, TOPIC, seed)
        self.done: dict[int, float] = {}  # epoch -> both sinks returned

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from kafka_connect_morphlines_spark.pipeline import compile_pipeline
        from kafka_connect_morphlines_spark.sources import embedded_broker
        from kafka_connect_morphlines_spark.sources.kafka import read_kafka_stream, write_kafka_batch
        from kafka_connect_morphlines_spark.streaming.runner import run_stream

        tr = self.tracer
        with tr.span("source.install"):
            embedded_broker.install(self.spark)
        with tr.span("pipeline.compile"):
            pipe = compile_pipeline(MORPHLINE)

        def apply(batch_df):
            # the epoch is not passed to the pipeline; key the span by the
            # next epoch, which is the one this batch will report
            with tr.span("pipeline.apply", key=len(self.done)):
                return pipe(batch_df)

        def sink(df, epoch_id):
            with tr.span("sink.write", key=epoch_id):
                df.select(*SINK_COLUMNS).write.mode("append").parquet(self.sink_dir)
            self.done[epoch_id] = time.time()

        def dlq(df, epoch_id):
            with tr.span("dlq.write", key=epoch_id):
                write_kafka_batch(
                    df.select(F.col("_key").alias("key"), F.col("_value").alias("value")), self.broker, DLQ_TOPIC
                )

        self.gen.publish(0)  # the topic exists before the stream starts
        with tr.span("source.read_kafka_stream"):
            env = read_kafka_stream(self.spark, self.broker, TOPIC).withColumn(
                "_value", F.col("_value").cast("string")
            )
        with tr.span("runner.start"):
            self.query = run_stream(env, apply, sink=sink, quarantine_sink=dlq, checkpoint=self.checkpoint)
        with tr.span("runner.warmup"):
            self.loop(WARMUP_CHUNKS, None)

    def loop(self, chunks: int | None, seconds: float | None) -> dict:
        """Publish-and-wait until ``chunks`` chunks or ``seconds`` elapsed."""
        lat, steal, epochs = [], [], []
        start = host.mark()
        while (chunks is None or len(lat) < chunks) and (seconds is None or time.perf_counter() - start[0] < seconds):
            before = set(self.done)
            m = host.mark()
            created_ms = self.gen.publish(CHUNK_RECORDS)
            self.query.processAllAvailable()  # raises, ending the run, if a batch raised
            steal.append(host.steal_share(m))
            new = [e for e in self.done if e not in before]
            if not new:
                raise RuntimeError("a published chunk produced no micro-batch")
            lat.append(max(self.done[e] for e in new) - created_ms / 1000.0)
            epochs.append(max(new))
        wall, unstolen = time.perf_counter() - start[0], host.unstolen_s(start)
        return {"latencies": lat, "steal": steal, "epochs": epochs, "wall": wall, "unstolen": unstolen}

    def measure(self, seconds: float) -> dict:
        r = self.loop(None, seconds)
        self.timed = r
        print(f"# batch latencies (s): {[round(x, 3) for x in r['latencies']]}", file=sys.stderr)
        print(f"# batch steal shares: {[round(x, 3) for x in r['steal']]}", file=sys.stderr)
        records = len(r["latencies"]) * CHUNK_RECORDS
        return {
            "throughput_per_s": records / r["unstolen"],
            "latency_p50_s": statistics.median(lat * (1 - s) for lat, s in zip(r["latencies"], r["steal"])),
            "wall": {"throughput_per_s": records / r["wall"], "latency_p50_s": statistics.median(r["latencies"])},
            "samples": len(r["latencies"]),
        }

    def finish(self) -> tuple[int, int]:
        """Stop the query and check every record; returns (attempted, failed)."""
        progress = list(self.query.recentProgress)
        self.query.stop()
        self.progress = progress
        return self.check()

    def check(self) -> tuple[int, int]:
        import pyarrow.parquet as pq

        gen = self.gen
        rows = pq.read_table(self.sink_dir, columns=SINK_COLUMNS).to_pylist()
        dlq = read_topic(self.broker, DLQ_TOPIC)
        self.dlq_rows = len(dlq)
        failed = set()
        seen: dict[int, int] = {}
        for r in rows:
            seq = r["seq"]
            seen[seq] = seen.get(seq, 0) + 1
            want = gen.good.get(seq)
            if want is None or (r["status"], r["bytes"]) != want[:2]:
                failed.add(seq)
            elif r["doc_key"] != f"{TOPIC}-{seq}" or r["ts"] != _iso(want[2]):
                failed.add(seq)
        for key, value in dlq:
            seq = int(key)
            seen[seq] = seen.get(seq, 0) + 1
            if gen.bad.get(seq) != value:
                failed.add(seq)
        for seq in range(gen.seq):
            if seen.get(seq, 0) != 1:
                failed.add(seq)
        return gen.seq, len(failed)

    def layer_metrics(self) -> dict:
        """Per-layer numbers for the chunks of the timed loop, from the query's
        progress reports, its job group and the recorded spans."""
        tr = self.tracer
        r = self.timed
        by_id = {p["batchId"]: p for p in self.progress}
        rows = [(lat, by_id[e]) for lat, e in zip(r["latencies"], r["epochs"])]
        epochs = {p["batchId"] for _, p in rows}
        spans = {
            name: {s["key"]: s["end"] - s["start"] for s in tr.spans if s["name"] == name and s["key"] in epochs}
            for name in ("pipeline.apply", "sink.write", "dlq.write")
        }

        def med(f) -> float:
            return statistics.median(f(lat, p, p["durationMs"]) for lat, p in rows)

        def s(d: dict, key: str) -> float:
            return d.get(key, 0) / 1000.0

        def other(lat, p, d) -> float:
            e = p["batchId"]
            explained = sum(s(d, k) for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning"))
            explained += sum(spans[n].get(e, 0.0) for n in spans)
            return s(d, "triggerExecution") - s(d, "commitOffsets") - explained

        published = self.gen.seq
        latest = [s(p["durationMs"], "latestOffset") for _, p in rows]
        return {
            "source.latest_offset_s_p50": statistics.median(latest),
            "source.latest_offset_s_p90": _pct(latest, 0.9),
            "source.rows_read_per_record": sum(p["numInputRows"] for p in self.progress) / published,
            "runner.add_batch_s": med(lambda lat, p, d: s(d, "addBatch")),
            "runner.trigger_s": med(lambda lat, p, d: s(d, "triggerExecution")),
            "runner.commit_s": med(lambda lat, p, d: s(d, "walCommit") + s(d, "commitOffsets")),
            "runner.poll_wait_s": med(lambda lat, p, d: lat - s(d, "triggerExecution") + s(d, "commitOffsets")),
            "runner.jobs_per_batch": tr.jobs(str(self.query.runId)) / len(self.progress),
            "runner.batches": float(len(self.progress)),
            "pipeline.apply_s": statistics.median(spans["pipeline.apply"].values()),
            "sink.write_s": statistics.median(spans["sink.write"].values()),
            "dlq.write_s": statistics.median(spans["dlq.write"].values()),
            "dlq.rows_frac": self.dlq_rows / published,
            "e2e.other_s": med(other),
        }

    def scan_us_per_record(self) -> float:
        """Untimed noop batch scan of the final ``events`` log."""
        from kafka_connect_morphlines_spark.sources.kafka import read_kafka_batch

        t0 = time.perf_counter()
        read_kafka_batch(self.spark, self.broker, TOPIC).write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1e6 / self.gen.seq
