"""Structured Streaming variant of the pipeline (SURVEY.md §1.3, S1).

The reference is a push pipeline (OTLP receiver -> processors -> exporter);
the streaming analog is:

- ``run_streaming``: file-source ``readStream`` over the transcript
  directory -> ``foreachBatch`` running the SAME batch pipeline per
  micro-batch -> routed fan-out append.  foreachBatch is the idiomatic way
  to reuse multi-join/regroup batch logic (broadcast enrichment joins are
  not restricted inside it).  foreachBatch delivery is at-least-once; the
  batch write is keyed on batch_id (``batch=<id>`` subdirectory,
  overwrite), so a micro-batch replayed after a failure between the write
  and the checkpoint commit overwrites itself - effectively exactly-once.
- ``streaming_sink_metrics``: a NATIVE streaming aggregation — per-minute
  per-route counters with an event-time watermark for late data — the
  streaming form of the reference's internal telemetry (SURVEY.md §2.6).
- ``streaming_conversation_state``: a CUSTOM stateful operator
  (``applyInPandasWithState``) — per-conversation running counters
  (turns seen, routed turns, first/last event time) held in keyed state
  across micro-batches, emitted as cumulative updates and closed by a
  processing-time timeout when a conversation goes quiet.  This is the
  streaming analog of the reference's per-record caches/counters (SURVEY
  J7/A1-A3): state lives with the key, not in a driver-side map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQuery

from symspark.config import DEFAULT_CONFIG, PipelineConfig
from symspark.operators import route as route_op
from symspark.pipeline import Lookups, run_pipeline
from symspark.schemas import TRANSCRIPTS_SCHEMA
from symspark.sinks import write_fanout


def run_streaming(
    spark: SparkSession,
    input_dir: str,
    lookups: Lookups,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream transcript parquet files through the full pipeline."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent per-batch write: replay of a batch_id overwrites its
        # own subdirectory instead of blind-appending duplicates
        write_fanout(
            run_pipeline(batch_df, lookups, cfg), out_dir,
            mode="overwrite", subdir=f"batch={batch_id}",
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sink_metrics(
    spark: SparkSession,
    input_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    watermark: str = "10 minutes",
    window: str = "1 minute",
) -> DataFrame:
    """Native streaming aggregation: per-window per-route record counts with
    an event-time watermark (late rows beyond the watermark are dropped)."""
    stream = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)
    routed = route_op.gate_and_route(stream, cfg)
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("route"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("route"),
            F.col("n"),
        )
    )


CONV_STATE_OUTPUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turns", T.LongType(), False),
        T.StructField("routed_turns", T.LongType(), False),
        T.StructField("first_ts_us", T.LongType(), True),
        T.StructField("last_ts_us", T.LongType(), True),
        T.StructField("closed", T.BooleanType(), False),
    ]
)

_CONV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("turns", T.LongType(), False),
        T.StructField("routed_turns", T.LongType(), False),
        T.StructField("first_ts_us", T.LongType(), True),
        T.StructField("last_ts_us", T.LongType(), True),
    ]
)


def streaming_conversation_state(
    spark: SparkSession,
    input_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    quiet_timeout_ms: int | None = None,
    max_files_per_trigger: int | None = 8,
) -> DataFrame:
    """Custom stateful operator over the transcript stream.

    ``applyInPandasWithState`` keyed by ``conv_id``: each key carries
    (turns, routed_turns, first_ts, last_ts) across micro-batches; every
    batch that touches a conversation emits a cumulative snapshot row
    (``closed=false``).  State is partitioned with the key by the shuffle
    (RocksDB/HDFS state store on a real cluster), so the operator scales
    horizontally with no driver-side bookkeeping — the distributed
    replacement for the reference's in-process mutable counters
    (internal/metrics.go gauges; SURVEY A1-A3, J7).

    ``quiet_timeout_ms`` (opt-in, for CONTINUOUS deployments): a
    conversation with no traffic for that much processing time is closed —
    one final ``closed=true`` row — and its state dropped.  A query with
    processing-time timers never self-terminates: Spark keeps scheduling
    empty micro-batches to service pending timeouts even under
    ``trigger(availableNow=True)`` (observed: hundreds of empty epochs,
    and ``processAllAvailable()`` blocks indefinitely).  The default
    (``None`` -> NoTimeout) makes bounded drives terminate cleanly;
    cumulative snapshots carry the same totals either way.

    The per-batch work is vectorized: the pandas batches are reduced with
    ``len``/``sum``/``min``/``max`` — no per-row Python.
    """
    def update(key, pdfs, state):
        import pandas as pd

        (conv_id,) = key
        if state.hasTimedOut:
            turns, routed, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "turns": [turns],
                    "routed_turns": [routed],
                    "first_ts_us": [first_us],
                    "last_ts_us": [last_us],
                    "closed": [True],
                }
            )
            return
        turns, routed, first_us, last_us = (
            state.get if state.exists else (0, 0, None, None)
        )
        for pdf in pdfs:
            turns += len(pdf)
            routed += int((pdf["route"] != "skip").sum())
            ts = pdf["ts"].dropna()
            if len(ts):
                lo = int(ts.min().value // 1000)
                hi = int(ts.max().value // 1000)
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
        state.update((turns, routed, first_us, last_us))
        if quiet_timeout_ms is not None:
            state.setTimeoutDuration(quiet_timeout_ms)
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "turns": [turns],
                "routed_turns": [routed],
                "first_ts_us": [first_us],
                "last_ts_us": [last_us],
                "closed": [False],
            }
        )

    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    routed = route_op.gate_and_route(stream, cfg)
    return (
        routed.select("conv_id", "ts", "route")
        .groupBy("conv_id")
        .applyInPandasWithState(
            update,
            CONV_STATE_OUTPUT,
            _CONV_STATE_SCHEMA,
            "update",
            "ProcessingTimeTimeout" if quiet_timeout_ms is not None else "NoTimeout",
        )
    )
