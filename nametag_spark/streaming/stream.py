"""Structured Streaming surface (engine extension; the reference is strictly
batch — SURVEY.md §2.8 notes streaming is absent there).

Incremental transcript processing for pipelines: a streaming source of
turns flows through the same stateless NER transform (mapInPandas works
identically on streaming DataFrames), then into watermarked windowed
aggregations for late-data-tolerant mention statistics, plus a custom
stateful operator (per-conversation turn dedup) via
applyInPandasWithState.
"""

from __future__ import annotations

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
    import hashlib

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


def run_incremental_kg(
    stream_df: DataFrame,
    model_dir: str,
    out_dir: str,
    checkpoint_path: str,
    window: str = "sentence",
):
    """Incremental KG construction over a transcript stream.

    Per micro-batch (foreachBatch = exactly-once with the checkpoint;
    batch-id-keyed overwrite makes replays idempotent):
      turns -> NER mentions -> canonicalized SURFACE-level triple evidence
      appended under out_dir/evidence/batch=<id>/, plus the batch's full
      mention-surface counts under out_dir/surfaces/batch=<id>/ (ALL
      surfaces, not just paired ones — resolution needs the complete
      surface population or clustering diverges from the batch pipeline).
    Entity resolution is deliberately deferred to compact_triples():
    clustering is a global decision (a surface observed in batch 900 can
    merge entities first seen in batch 3), so the stream stays stateless
    and append-only — the classic evidence-log + periodic-compaction split.

    Returns the StreamingQuery (availableNow trigger: drains what exists,
    then stops; restart with the same checkpoint resumes exactly)."""
    from ..kg.resolution import canonicalize_mentions
    from ..kg.triples import triple_evidence
    from ..ner.pipeline import recognize_df

    def process(batch_df, batch_id: int):
        mentions = recognize_df(batch_df, model_dir)
        m = canonicalize_mentions(mentions).where(F.length("norm") > 0).persist()
        ev = triple_evidence(
            m, batch_df.select("conv_id", "turn_idx", "role", "tool"), window, id_cols=()
        )
        ev.write.mode("overwrite").parquet(f"{out_dir}/evidence/batch={batch_id}")
        m.groupBy("type", "norm").agg(F.count(F.lit(1)).alias("n_mentions")).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/surfaces/batch={batch_id}")
        m.unpersist()

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def compact_triples(
    spark: SparkSession,
    out_dir: str,
    evidence_cap: int | None = 1000,
    lsh_hashes: int = 12,
    lsh_bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.6,
    max_bucket: int = 200,
):
    """Compaction over the accumulated evidence log: resolve entities across
    ALL surfaces seen so far (LSH blocking + connected components on the
    distinct (type, norm) table — small relative to the evidence), assign
    ids to both pair sides, and run the fused triple aggregation. Returns
    the triples DataFrame; callers persist it with graph_io.write_stage for
    lineage + pred partitioning."""
    from ..kg.resolution import assign_entity_ids
    from ..kg.triples import aggregate_triples

    ev = spark.read.parquet(f"{out_dir}/evidence")

    surfaces = (
        spark.read.parquet(f"{out_dir}/surfaces")
        .groupBy("type", "norm")
        .agg(F.sum("n_mentions").alias("n_mentions"))
        .persist()
    )
    # the batch pipeline's assignment with the same blocking/verify
    # parameters as resolve_entities' defaults, so the compacted clustering
    # equals the batch pipeline's
    assign = assign_entity_ids(
        surfaces,
        lsh_hashes=lsh_hashes,
        lsh_bands=lsh_bands,
        shingle_k=shingle_k,
        jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket,
    )

    subj_assign = assign.select(
        F.col("type").alias("subj_type"),
        F.col("norm").alias("subj_norm"),
        F.col("entity_id").alias("subj"),
    )
    obj_assign = assign.select(
        F.col("type").alias("obj_type"),
        F.col("norm").alias("obj_norm"),
        F.col("entity_id").alias("obj"),
    )
    keyed = (
        ev.join(subj_assign, ["subj_type", "subj_norm"])
        .join(obj_assign, ["obj_type", "obj_norm"])
        .where(F.col("subj") != F.col("obj"))
    )
    out = aggregate_triples(keyed, evidence_cap)
    surfaces.unpersist()
    return out


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
