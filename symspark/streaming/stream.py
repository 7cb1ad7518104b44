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
  The query runs with ``trigger(availableNow=True)``: it drains what the
  directory holds, then stops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from symspark.config import DEFAULT_CONFIG, PipelineConfig
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

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
