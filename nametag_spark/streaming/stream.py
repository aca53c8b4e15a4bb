"""Structured Streaming surface (engine extension; the reference is strictly
batch — SURVEY.md §2.8 notes streaming is absent there).

Incremental KG construction over a stream of transcript turns: a file-based
streaming source (`read_transcript_stream`) feeds `run_incremental_kg`,
which sinks each micro-batch into the incremental store of kg.graph_io, the
same store a batch append writes.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcript_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 8) -> DataFrame:
    """File-based streaming source of transcript turns (parquet dir)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def run_incremental_kg(stream_df: DataFrame, model_dir: str, out_dir: str, checkpoint_path: str):
    """Incremental KG construction over a transcript stream: each
    micro-batch is one graph_io.append_mentions ingest into out_dir (NER
    mentions plus the batch's surface-level triple evidence, recorded in
    `_batches.json`). build_knowledge_graph(spark, None, model_dir, out_dir,
    incremental=True) then builds the graph over everything ingested so far.

    The ingest id is derived from the checkpoint path and the micro-batch
    id: a replayed micro-batch (restart with the same checkpoint) is a
    recorded no-op, so each batch is stored exactly once, while a fresh
    checkpoint over an existing store ingests under new ids.

    Returns the StreamingQuery (availableNow trigger: drains what exists,
    then stops; restart with the same checkpoint resumes exactly)."""
    from ..kg.graph_io import append_mentions

    run = hashlib.sha256(os.path.abspath(checkpoint_path).encode()).hexdigest()[:12]

    def process(batch_df, batch_id: int):
        append_mentions(batch_df.sparkSession, batch_df, model_dir, out_dir, f"{run}-{batch_id}")

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )

