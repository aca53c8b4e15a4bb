"""Graph materialization with per-stage lineage manifests and exact resume.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". Each pipeline stage writes:

  out_dir/<stage>/                      partitioned parquet
  out_dir/<stage>._lineage.json         stage manifest: config fingerprint,
                                        input fingerprint, row count,
                                        per-file row counters, schema

A stage re-runs only when its fingerprint (config + upstream fingerprint)
changes; otherwise the parquet is reused as-is (exact resume — contents are
deterministic given the fingerprint).

Manifests come from the committed files, not a read-back: row counters from
each file's parquet footer, the schema from the row schema Spark stores there
(as inference would return it). Stages are read back with that schema, so no
build or resume runs a counting or schema-inference job. Footers are read on
the driver, so `out_dir` must be mounted there (it is already for the
manifests). Manifests are replaced atomically (temp file + os.replace).
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import time

import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

# footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
_NULLABLE = ("nullable", "containsNull", "valueContainsNull")


def _fingerprint(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, f"{stage}._lineage.json")


def _batches_path(out_dir: str) -> str:
    return os.path.join(out_dir, "mentions_incremental._batches.json")


def _read_json(path: str):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def _write_json(path: str, obj) -> None:
    """Replace path atomically: a failed write leaves the old file intact."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=f".{os.path.basename(path)}.")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise


def read_manifest(out_dir: str, stage: str):
    p = _manifest_path(out_dir, stage)
    return _read_json(p) if os.path.exists(p) else None


def _data_files(path: str) -> list:
    """Data files under path, relative and sorted; like Spark's file index,
    skips `.`- and `_`-prefixed entries (`_SUCCESS`, checksums)."""
    if not os.path.exists(path):
        return []
    return sorted(os.path.relpath(f, path) for f in pads.dataset(path, format="parquet").files)


def _as_nullable(t):
    """JSON type t with every field, element and value nullable, as Spark
    reads a parquet schema back."""
    if isinstance(t, list):
        return [_as_nullable(v) for v in t]
    if not isinstance(t, dict):
        return t
    return {
        k: True if k in _NULLABLE else v if k == "metadata" else _as_nullable(v)
        for k, v in t.items()
    }


def _committed(df: DataFrame, path: str, partition_by: list | None, before=()) -> tuple:
    """(files, per-file rows, JSON schema) of what a write of df committed
    under path: the data files not in `before`, their footer row counts, and
    the Spark row schema of the first footer (df's own if no file was
    committed), made nullable, partition columns last, typed from df."""
    part = partition_by or []
    files = [f for f in _data_files(path) if f not in before]
    metas = [pq.read_metadata(os.path.join(path, f)) for f in files]
    data = json.loads(metas[0].metadata[_SPARK_ROW_SCHEMA]) if metas else df.schema.jsonValue()
    fields = [f for f in _as_nullable(data)["fields"] if f["name"] not in part]
    fields += [StructField(c, df.schema[c].dataType).jsonValue() for c in part]
    return files, [m.num_rows for m in metas], {"type": "struct", "fields": fields}


def write_stage(
    df: DataFrame,
    out_dir: str,
    stage: str,
    fingerprint: str,
    partition_by: list | None = None,
) -> dict:
    """Write a stage's parquet + lineage manifest; returns the manifest."""
    path = stage_path(out_dir, stage)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)

    files, rows, schema = _committed(df, path, partition_by)
    manifest = {
        "stage": stage,
        "fingerprint": fingerprint,
        "rows": sum(rows),
        "partitions": [
            {"partition": i, "file": f, "rows": n} for i, (f, n) in enumerate(zip(files, rows))
        ],
        "written_at": time.time(),
        "schema": schema,
    }
    _write_json(_manifest_path(out_dir, stage), manifest)
    return manifest


def run_stage(
    spark: SparkSession,
    out_dir: str,
    stage: str,
    fingerprint_inputs: dict,
    build,
    partition_by: list | None = None,
):
    """Run or resume a stage.

    build: () -> DataFrame, invoked only on cache miss.
    Returns (df, manifest, resumed: bool).
    """
    os.makedirs(out_dir, exist_ok=True)
    fp = _fingerprint(fingerprint_inputs)
    manifest = read_manifest(out_dir, stage)
    path = stage_path(out_dir, stage)
    resumed = bool(manifest and manifest.get("fingerprint") == fp and os.path.exists(path))
    if not resumed:
        manifest = write_stage(build(), out_dir, stage, fp, partition_by)
    df = spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(path)
    return df, manifest, resumed


def append_mentions(
    spark: SparkSession,
    new_transcripts: DataFrame,
    model_dir: str,
    out_dir: str,
    batch_id: str,
) -> dict:
    """Incremental ingest: NER over ONLY the new turns, appended to the
    mention store partitioned by ingest batch. The expensive stage (NER)
    never recomputes old data; downstream stages (resolution, triples) are
    rebuilt from the full cached mention table by build_knowledge_graph
    (global entity resolution cannot be incrementally patched without
    changing its semantics — rebuilding from cached mentions is the honest
    standard pattern).

    Idempotent per batch_id: re-appending an already-ingested batch is a
    no-op (recorded in the batches manifest).
    """
    from ..ner.pipeline import recognize_df

    os.makedirs(out_dir, exist_ok=True)
    path = stage_path(out_dir, "mentions_incremental")
    manifest_path = _batches_path(out_dir)
    batches = _read_json(manifest_path) if os.path.exists(manifest_path) else {}
    if batch_id in batches:
        return {"batch_id": batch_id, "rows": batches[batch_id]["rows"], "appended": False}

    mentions = recognize_df(new_transcripts, model_dir).withColumn(
        "ingest_batch", F.lit(batch_id)
    )
    before = set(_data_files(path))
    mentions.write.mode("append").partitionBy("ingest_batch").parquet(path)
    _, rows, schema = _committed(mentions, path, ["ingest_batch"], before)
    batches[batch_id] = {"rows": sum(rows), "written_at": time.time(), "schema": schema}
    _write_json(manifest_path, batches)
    # existence of new mentions invalidates the downstream fingerprint chain
    return {"batch_id": batch_id, "rows": sum(rows), "appended": True}


def read_incremental_mentions(spark: SparkSession, out_dir: str) -> DataFrame:
    """The mention store, read with the schema its latest batch recorded."""
    schema = list(_read_json(_batches_path(out_dir)).values())[-1]["schema"]
    return spark.read.schema(StructType.fromJson(schema)).parquet(
        stage_path(out_dir, "mentions_incremental")
    )


def incremental_batches_fingerprint(out_dir: str) -> str:
    p = _batches_path(out_dir)
    return _fingerprint(_read_json(p)) if os.path.exists(p) else "none"


def build_knowledge_graph(
    spark: SparkSession,
    transcripts: DataFrame | None,
    model_dir: str,
    out_dir: str,
    config: dict | None = None,
    incremental: bool = False,
) -> dict:
    """Full pipeline: transcripts -> mentions -> entities -> triples,
    each stage checkpointed with lineage for exact resume.

    incremental=True reads the append-only mention store maintained by
    append_mentions() instead of recomputing NER; downstream stages rebuild
    whenever the ingested-batch set changed (their fingerprints chain off
    it) and resume otherwise.

    Returns {"mentions": df, "entities": df, "triples": df, "manifests": [...],
    "resumed": [...]}.
    """
    from ..ner.pipeline import recognize_df
    from .resolution import resolve_entities
    from .triples import extract_triples

    config = dict(config or {})
    base_fp = {"model_dir": model_dir, "config": config}

    def stage(name, build, upstream=None, partition_by=None):
        fp = {**base_fp, "stage": name, **({"upstream": upstream} if upstream else {})}
        return run_stage(spark, out_dir, name, fp, build, partition_by)

    if incremental:
        mentions = read_incremental_mentions(spark, out_dir).drop("ingest_batch")
        m1 = {"stage": "mentions_incremental", "fingerprint": incremental_batches_fingerprint(out_dir)}
        r1 = True
    else:
        mentions, m1, r1 = stage("mentions", lambda: recognize_df(transcripts, model_dir))

    # the mention->entity assignment is the stage output
    mention_entities, m2, r2 = stage(
        "mention_entities",
        lambda: resolve_entities(mentions, **config.get("resolution", {}))[0],
        m1["fingerprint"],
    )

    def build_entity_table():
        surf = mention_entities.groupBy("entity_id", "type", "norm").agg(
            F.count(F.lit(1)).alias("n_mentions")
        )
        # single min_by agg (no window): highest n_mentions, ties lexical asc
        return surf.groupBy("entity_id").agg(
            F.min_by(
                F.struct(F.col("norm"), F.col("type")),
                F.struct((-F.col("n_mentions")).alias("_negn"), F.col("norm").alias("_n")),
            ).alias("_c"),
            F.sum("n_mentions").alias("n_mentions"),
            F.count(F.lit(1)).alias("n_surfaces"),
        ).select(
            "entity_id",
            F.col("_c.norm").alias("canonical"),
            F.col("_c.type").alias("type"),
            "n_mentions",
            "n_surfaces",
        )

    entities, m3, r3 = stage("entities", build_entity_table, m2["fingerprint"])
    triples, m4, r4 = stage(
        "triples",
        lambda: extract_triples(mention_entities, transcripts),
        m2["fingerprint"],
        partition_by=["pred"],
    )

    return {
        "mentions": mentions,
        "mention_entities": mention_entities,
        "entities": entities,
        "triples": triples,
        "manifests": [m1, m2, m3, m4],
        "resumed": [r1, r2, r3, r4],
    }
