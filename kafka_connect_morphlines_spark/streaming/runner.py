"""Streaming pipeline runner.

Maps the reference's sink-task lifecycle (MorphlineSinkTask.java:105-157)
onto Structured Streaming:

| reference                         | here                                  |
|-----------------------------------|---------------------------------------|
| start(): compile morphline        | compile_pipeline once, reuse per batch|
| put(batch) + begin/commit TX      | micro-batch + checkpoint epoch        |
| failed record -> log + skip       | quarantine (DLQ) sink                 |
| stop(): notifyShutdown            | query.stop()                          |

The same compiled Pipeline object works for batch and streaming frames —
transforms are plan builders, agnostic to the source.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_morphlines_spark.pipeline import Pipeline

QUARANTINE_FLAG = "_invalid"


def quarantine_split(df: DataFrame, flag_col: str = QUARANTINE_FLAG) -> tuple[DataFrame, DataFrame]:
    """Split a flagged frame into (good, quarantined) — the DLQ analog of the
    reference's log-and-skip failure path (MorphlineSinkTask.java:137)."""
    if flag_col not in df.columns:
        return df, df.filter(F.lit(False))
    good = df.filter(~F.coalesce(F.col(flag_col), F.lit(False))).drop(flag_col)
    bad = df.filter(F.coalesce(F.col(flag_col), F.lit(False))).drop(flag_col)
    return good, bad


def _batch_violates(df: DataFrame, constraints: list[Any]) -> bool:
    """``run_stream``'s batch gate: whether ``df`` violates any of the
    validation constraints.  ``validation.check`` runs its aggregate and
    returns the verdict as a local relation, which ``collect()`` reads
    without a Spark job (a filtered ``count()`` of it would run two)."""
    from kafka_connect_morphlines_spark.functions import validation

    return not all(r["passed"] for r in validation.check(df, constraints).collect())


def run_stream(
    source: DataFrame,
    pipeline: Pipeline | Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], Any] | None = None,
    quarantine_sink: Callable[[DataFrame, int], Any] | None = None,
    checkpoint: str | None = None,
    query_name: str = "morphline_stream",
    trigger: dict[str, Any] | None = None,
    output_mode: str = "append",
    constraints: list[Any] | None = None,
) -> StreamingQuery:
    """Run a compiled pipeline over a streaming frame via ``foreachBatch``.

    ``sink(df, epoch_id)`` receives each transformed micro-batch — the
    transactional boundary, mirroring the reference's per-put
    begin/commit notifications (MorphlineSinkTask.java:132,148).  Exactly-once
    is the sink's contract (idempotent write keyed on epoch_id + checkpoint).

    ``quarantine_sink(df, epoch_id)`` receives the records the pipeline
    flagged ``_invalid``; it is not called for a micro-batch whose output
    has no ``_invalid`` column and that no constraint routed to it.

    ``constraints`` (validation.Constraint list) adds a per-batch quality
    gate AFTER the pipeline: a micro-batch that violates any constraint is
    routed whole to the quarantine sink instead of the main sink — the
    batch-level analog of the per-record DLQ, so one poisoned producer
    can't leak partial garbage into the sink's transaction.

    Each micro-batch reads its source once: the input is persisted (storage
    memory, spilling to disk) before the pipeline runs, so the quarantine
    sink, the gate and the main sink all read the cached input, each pruned
    to the columns its plan needs; it is released once they return.
    """

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            out = pipeline(batch_df)
            good, bad = quarantine_split(out)
            # without a flag column ``bad`` is statically empty: skip its
            # sink call unless the gate below routes the batch there
            may_quarantine = QUARANTINE_FLAG in out.columns
            if constraints and _batch_violates(good, constraints):
                bad = bad.unionByName(good, allowMissingColumns=True)
                good = good.filter(F.lit(False))
                may_quarantine = True
            if quarantine_sink is not None and may_quarantine:
                quarantine_sink(bad, epoch_id)
            if sink is not None:
                sink(good, epoch_id)
            # per-batch metrics flush (startReportingMetricsToCSV + observe):
            # inside foreachBatch the frame is a batch frame, so observe
            # registered real Observations; they only resolve once a sink
            # action ran on the observed plan
            if (sink is not None or quarantine_sink is not None) and isinstance(pipeline, Pipeline):
                pipeline.flush_metrics()
        finally:
            batch_df.unpersist()

    writer = source.writeStream.queryName(query_name).outputMode(output_mode).foreachBatch(process_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def run_stream_to_memory(
    source: DataFrame,
    pipeline: Pipeline | Callable[[DataFrame], DataFrame],
    query_name: str = "morphline_out",
    output_mode: str = "append",
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Transform-then-memory-sink runner for tests/smokes: the streaming
    analog of collecting a batch result (query results land in the
    ``query_name`` in-memory table)."""
    out = pipeline(source) if not isinstance(pipeline, Pipeline) else pipeline.apply(source)
    writer = out.writeStream.queryName(query_name).outputMode(output_mode).format("memory")
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def session_windows(
    source: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    key_col: str = "user_id",
) -> DataFrame:
    """Gap-based session windows (``session_window``) — the streaming-native
    form of the batch sessionize query (plans/queries.py), with state expiry
    driven by the watermark."""
    return (
        source.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("s"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("s.start").alias("session_start"), F.col("s.end").alias("session_end"), key_col, "n_events")
    )


def windowed_event_counts(source: DataFrame, ts_col: str = "ts", window: str = "1 hour", watermark: str = "2 hours", group_col: str = "event_type") -> DataFrame:
    """Watermarked tumbling-window aggregation — the Spark-native streaming
    operator surface beyond the reference (SURVEY.md §2 Part C streaming
    row: the reference has no event-time semantics at all)."""
    return (
        source.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(F.col("w.start").alias("window_start"), group_col, "n", "total")
    )


def enrich_static(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    (batch) dimension frame.

    This is the streaming analog of the reference's per-record lookup
    enrichment (a morphline command chain consulting side data before
    ``loadSolr`` — config/cloudsolr.conf pipelines); Spark-first it is a
    broadcast hash join re-planned per micro-batch, so a 100 TB stream never
    shuffles — only the small dim side ships to executors.  No watermark is
    needed: stream-static joins are stateless."""
    from pyspark.sql.functions import broadcast

    return stream.join(broadcast(dim), on, how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval condition:
    ``right.ts ∈ [left.ts + lower, left.ts + upper]`` on a shared key.

    Both sides carry watermarks so the join state store can expire rows once
    the event-time bound passes — without the time-range condition a
    stream-stream join would buffer both streams forever.  State is keyed on
    the equi-join key, so scale-out follows the key's hash partitioning, the
    same shape as a batch shuffle join.

    ``how`` may be ``inner`` or ``left_outer``/``full_outer``: outer results
    (null-padded unmatched rows) emit once the watermark passes the row's
    join-window upper bound — i.e. when the engine can PROVE no future match
    exists; rows near the head of a bounded stream therefore stay withheld
    until more data (or stream end) advances the watermark.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {lower}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how)
