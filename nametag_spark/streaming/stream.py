"""Structured Streaming surface (engine extension; the reference is strictly
batch — SURVEY.md §2.8 notes streaming is absent there).

Incremental transcript processing for pipelines: a streaming source of
turns flows through the same stateless NER transform (mapInPandas works
identically on streaming DataFrames), then into watermarked windowed
aggregations for late-data-tolerant mention statistics, plus a custom
stateful operator (per-conversation turn dedup) via
applyInPandasWithState. The incremental KG sinks each micro-batch into the
incremental store of kg.graph_io (`run_incremental_kg`), the same store a
batch append writes.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

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


def recognize_stream(stream_df: DataFrame, model_dir: str) -> DataFrame:
    """Streaming mention extraction with ts passthrough for windowing."""
    from ..ner.pipeline import recognize_df

    return recognize_df(stream_df, model_dir, passthrough=("role", "tool", "ts"))


def windowed_mention_counts(
    mentions: DataFrame,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Late-data-tolerant per-type mention counts over event-time windows."""
    m = mentions.withWatermark("ts", watermark)
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        m.groupBy(win.alias("window"), F.col("type"))
        .agg(F.count(F.lit(1)).alias("n_mentions"), F.approx_count_distinct("surface").alias("n_surfaces"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "type",
            "n_mentions",
            "n_surfaces",
        )
    )


DEDUP_STATE_SCHEMA = "seen_hashes array<long>"
DEDUP_OUT_SCHEMA = TRANSCRIPT_SCHEMA


def dedup_turns_stateful(stream_df: DataFrame) -> DataFrame:
    """Custom stateful operator: drop turns whose text already appeared in
    the same conversation (exact dedup with per-group state), via
    applyInPandasWithState.
    """

    def stable_hash(s: str) -> int:
        # process/restart-stable (python's builtin hash is salted)
        return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big", signed=True)

    def fn(key, pdf_iter, state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdf_iter:
            h = pdf["text"].fillna("").map(stable_hash)
            keep = ~h.isin(seen) & ~h.duplicated()
            seen.update(h[keep])
            out = pdf[keep.values]
            if len(out):
                yield out
        state.update(([int(x) for x in seen],))

    return stream_df.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
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


def run_stream_to_parquet(
    mentions_or_counts: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_available_now: bool = True,
):
    """Sink a streaming DataFrame to parquet with checkpointed progress
    (exactly-once file sink; resume = restart with the same checkpoint)."""
    w = (
        mentions_or_counts.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
