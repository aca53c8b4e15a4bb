"""Graph materialization with per-stage lineage manifests and exact resume.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". Each pipeline stage writes:

  out_dir/<stage>/                      partitioned parquet
  out_dir/<stage>._lineage.json         stage manifest: config fingerprint,
                                        input fingerprint, row count,
                                        per-file row counters, schema

A stage re-runs when its fingerprint (config + upstream fingerprint)
changes or a file its manifest lists is gone; otherwise the parquet is reused
as-is (exact resume — contents are deterministic given the fingerprint).

Manifests come from the committed files, not a read-back: row counters from
each file's parquet footer, the schema from the row schema Spark stores there
(as inference would return it). Footers are read on the driver, so `out_dir`
must be mounted there (it is already for the manifests). Manifests are
replaced atomically (temp file + os.replace).

Reads follow the manifest: `read_files` reads exactly the files a stage
manifest (or, for the incremental stores, `_batches.json`) lists, with
the stored schema, and Spark stats them on the driver instead of listing the
directory. A file the manifest does not list is never served, so no build
runs a counting, schema-inference or listing job, and a resumed build
launches no Spark job at all.

Incremental ingest (`append_mentions`, also the sink of the streaming path)
keeps an append-only log per ingest batch:

  out_dir/mentions_incremental/ingest_batch=<id>/   the batch's NER mentions
  out_dir/evidence_incremental/ingest_batch=<id>/   its surface-level triple
                                                    evidence
  out_dir/mentions_incremental._batches.json        per batch: rows, files,
                                                    schema of both

`build_knowledge_graph(incremental=True)` is the view over that log: global
entity resolution over all mentions, then the stored evidence joined to the
entity ids and aggregated.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
import time
from urllib.parse import unquote

import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

# footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
_NULLABLE = ("nullable", "containsNull", "valueContainsNull")
# over this many paths, Spark lists them with a distributed job
_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _fingerprint(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def stage_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage)


def _manifest_path(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, f"{stage}._lineage.json")


# the incremental stores append_mentions writes, one directory each
_STORES = {"mentions": "mentions_incremental", "evidence": "evidence_incremental"}


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


def read_files(spark: SparkSession, path: str, files: list, schema: dict) -> DataFrame:
    """The parquet `files` (relative to path) read with the JSON `schema`, and
    with basePath=path so partition columns come from the file paths.

    Spark stats the listed files on the driver and lists nothing: for this
    read the discovery threshold is set to the number of files, so no
    parallel-listing job runs; the session's value is restored afterwards.
    """
    previous = spark.conf.get(_DISCOVERY_THRESHOLD, None)
    spark.conf.set(_DISCOVERY_THRESHOLD, str(len(files)))
    try:
        return (
            spark.read.schema(StructType.fromJson(schema))
            .option("basePath", path)
            .parquet(*(os.path.join(path, f) for f in files))
        )
    finally:
        if previous is None:
            spark.conf.unset(_DISCOVERY_THRESHOLD)
        else:
            spark.conf.set(_DISCOVERY_THRESHOLD, previous)


def _listed_files(manifest: dict) -> list:
    return [p["file"] for p in manifest["partitions"]]


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
    resumed = bool(
        manifest
        and manifest.get("fingerprint") == fp
        and os.path.isdir(path)
        and all(os.path.isfile(os.path.join(path, f)) for f in _listed_files(manifest))
    )
    if not resumed:
        manifest = write_stage(build(), out_dir, stage, fp, partition_by)
    df = read_files(spark, path, _listed_files(manifest), manifest["schema"])
    return df, manifest, resumed


def append_mentions(
    spark: SparkSession,
    new_transcripts: DataFrame,
    model_dir: str,
    out_dir: str,
    batch_id: str,
) -> dict:
    """Incremental ingest: NER over ONLY the new turns, appended to the
    mention store, and the batch's surface-level triple evidence (pairs of
    canonical surfaces with the role/tool context of the batch's own turns),
    appended to the evidence store; both partitioned by ingest batch.
    Neither is ever recomputed: evidence depends only on a turn's own
    mentions. Only the entity-id assignment is global, so
    build_knowledge_graph(incremental=True) re-resolves entities over the
    whole mention store and joins the ids onto the stored evidence. A turn
    (conv_id, turn_idx) split across two batches is not paired across them.

    Idempotent per batch_id: re-appending an already-ingested batch is a
    no-op (recorded in the batches manifest). A batch counts once the
    manifest records it with its mention and evidence files; files an
    earlier, failed append of the same batch_id left behind are deleted
    before it is written again.
    """
    from ..ner.pipeline import recognize_df
    from .resolution import canonicalize_mentions
    from .triples import triple_evidence

    os.makedirs(out_dir, exist_ok=True)
    manifest_path = _batches_path(out_dir)
    batches = _read_json(manifest_path) if os.path.exists(manifest_path) else {}
    if batch_id in batches:
        return {"batch_id": batch_id, "rows": batches[batch_id]["rows"], "appended": False}

    paths = {part: stage_path(out_dir, store) for part, store in _STORES.items()}
    for path in paths.values():
        if os.path.isdir(path):
            for d in os.listdir(path):
                if unquote(d) == f"ingest_batch={batch_id}":
                    shutil.rmtree(os.path.join(path, d))

    def append(df, path):
        df = df.withColumn("ingest_batch", F.lit(batch_id))
        before = set(_data_files(path))
        df.write.mode("append").partitionBy("ingest_batch").parquet(path)
        files, rows, schema = _committed(df, path, ["ingest_batch"], before)
        return {"rows": sum(rows), "files": files, "schema": schema}

    entry = append(recognize_df(new_transcripts, model_dir), paths["mentions"])
    mentions = read_files(spark, paths["mentions"], entry["files"], entry["schema"])
    evidence = triple_evidence(
        canonicalize_mentions(mentions).where(F.length("norm") > 0),
        new_transcripts.select("conv_id", "turn_idx", "role", "tool"),
        id_cols=(),
    )
    entry["evidence"] = append(evidence, paths["evidence"])
    batches[batch_id] = {**entry, "written_at": time.time()}
    _write_json(manifest_path, batches)
    # existence of new mentions invalidates the downstream fingerprint chain
    return {"batch_id": batch_id, "rows": entry["rows"], "appended": True}


def _read_store(spark: SparkSession, out_dir: str, part: str) -> DataFrame:
    """The `part` ("mentions" or "evidence") files of every recorded batch,
    read with the schema its latest batch recorded."""
    manifest_path = _batches_path(out_dir)
    batches = _read_json(manifest_path)
    entries = {b: m if part == "mentions" else m.get(part, {}) for b, m in batches.items()}
    unlisted = [b for b, m in entries.items() if "files" not in m]
    if unlisted:
        raise ValueError(
            f"{manifest_path} records no {part} files for batches {unlisted}: re-ingest the "
            "store (delete its directories and _batches.json, then append_mentions every "
            "batch again)"
        )
    files = [f for m in entries.values() for f in m["files"]]
    schema = list(entries.values())[-1]["schema"]
    return read_files(spark, stage_path(out_dir, _STORES[part]), files, schema)


def read_incremental_mentions(spark: SparkSession, out_dir: str) -> DataFrame:
    """The files of every recorded batch of the mention store, read with the
    schema its latest batch recorded."""
    return _read_store(spark, out_dir, "mentions")


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

    incremental=True reads the append-only stores maintained by
    append_mentions() instead of recomputing NER: entities are resolved over
    the whole mention store, and the triples are the stored surface-level
    evidence with entity ids joined onto both sides. transcripts is unused
    then (the evidence carries each batch's role/tool context). Downstream
    stages rebuild whenever the ingested-batch set changed (their
    fingerprints chain off it) and resume otherwise.

    Returns {"mentions": df, "entities": df, "triples": df, "manifests": [...],
    "resumed": [...]}.
    """
    from ..ner.pipeline import recognize_df
    from .resolution import entity_table, resolve_entities
    from .triples import aggregate_triples, extract_triples

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
        return entity_table(
            mention_entities.groupBy("entity_id", "type", "norm").agg(
                F.count(F.lit(1)).alias("n_mentions")
            )
        )

    def build_triples():
        if not incremental:
            return extract_triples(mention_entities, transcripts)
        ids = mention_entities.select("type", "norm", "entity_id").distinct()

        def side(s):
            return ids.select(
                F.col("type").alias(f"{s}_type"), F.col("norm").alias(f"{s}_norm"),
                F.col("entity_id").alias(s),
            )

        evidence = (
            _read_store(spark, out_dir, "evidence")
            .join(side("subj"), ["subj_type", "subj_norm"])
            .join(side("obj"), ["obj_type", "obj_norm"])
        )
        return aggregate_triples(evidence.where(F.col("subj") != F.col("obj")))

    entities, m3, r3 = stage("entities", build_entity_table, m2["fingerprint"])
    triples, m4, r4 = stage("triples", build_triples, m2["fingerprint"], partition_by=["pred"])

    return {
        "mentions": mentions,
        "mention_entities": mention_entities,
        "entities": entities,
        "triples": triples,
        "manifests": [m1, m2, m3, m4],
        "resumed": [r1, r2, r3, r4],
    }
