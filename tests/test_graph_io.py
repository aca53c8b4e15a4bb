"""graph_io manifests: footer-derived row counters and schema, schema-pinned
reads, atomic manifest writes, and the Spark jobs a stage write or resume
launches."""

import json
import os
from urllib.parse import unquote, urlparse

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nametag_spark.kg.graph_io import (
    append_mentions,
    build_knowledge_graph,
    read_incremental_mentions,
    read_manifest,
    run_stage,
    stage_path,
    write_stage,
)

STAGES = ["mentions", "mention_entities", "entities", "triples"]


def _jobs(spark, group, fn):
    """(number of Spark jobs fn launched, fn's result), from a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _rows_per_file(spark, path):
    """{file relative to path: rows}, counted by Spark."""
    counts = spark.read.parquet(path).groupBy(F.input_file_name().alias("f")).count().collect()
    return {os.path.relpath(unquote(urlparse(r["f"]).path), path): r["count"] for r in counts}


def _check_manifest(spark, path, manifest):
    back = spark.read.parquet(path)
    assert manifest["rows"] == back.count()
    files = {p["file"]: p["rows"] for p in manifest["partitions"]}
    assert sum(files.values()) == manifest["rows"]
    assert {f: n for f, n in files.items() if n} == _rows_per_file(spark, path)
    assert StructType.fromJson(manifest["schema"]) == back.schema


def _transcripts(spark, n, seed, suffix=""):
    from nametag_spark.data.synth import synth_transcripts

    tdf, _ = synth_transcripts(n_conversations=n, seed=seed)
    tdf["conv_id"] = tdf["conv_id"] + suffix
    return spark.createDataFrame(tdf)


@pytest.fixture(scope="module")
def built(spark, tiny_model_dir, tmp_path_factory):
    """A fixture graph built once: (out_dir, transcripts, first build)."""
    out = str(tmp_path_factory.mktemp("graph_io") / "graph")
    sdf = _transcripts(spark, 10, 21)
    return out, sdf, build_knowledge_graph(spark, sdf, tiny_model_dir, out)


def test_stage_manifests_match_spark(spark, tiny_model_dir, built):
    """Footer row counters and stored schema equal what Spark reads back,
    for every stage (the triples partitioned by pred), and the frames a
    build and a resume return carry that schema."""
    out, sdf, res = built
    assert res["resumed"] == [False] * 4
    again = build_knowledge_graph(spark, sdf, tiny_model_dir, out)
    assert again["resumed"] == [True] * 4
    assert again["manifests"] == res["manifests"]
    assert any("/" in p["file"] for p in res["manifests"][3]["partitions"])  # pred=... dirs
    for name, manifest in zip(STAGES, res["manifests"]):
        path = stage_path(out, name)
        _check_manifest(spark, path, manifest)
        assert manifest == read_manifest(out, name)
        schema = StructType.fromJson(manifest["schema"])
        assert res[name].schema == schema
        assert again[name].schema == schema


def test_incremental_store_manifest_matches_spark(spark, tiny_model_dir, tmp_path):
    out = str(tmp_path / "inc")
    batches = {
        "batch-1": _transcripts(spark, 4, 41),
        "batch-2": _transcripts(spark, 4, 42, "-b2"),
    }
    for batch_id, sdf in batches.items():
        assert append_mentions(spark, sdf, tiny_model_dir, out, batch_id)["appended"]
    path = stage_path(out, "mentions_incremental")
    with open(os.path.join(out, "mentions_incremental._batches.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    back = spark.read.parquet(path)
    counts = back.groupBy("ingest_batch").count().collect()
    per_batch = {r["ingest_batch"]: r["count"] for r in counts}
    assert {b: m["rows"] for b, m in manifest.items()} == per_batch
    for m in manifest.values():
        assert StructType.fromJson(m["schema"]) == back.schema
    assert read_incremental_mentions(spark, out).schema == back.schema
    g = build_knowledge_graph(spark, None, tiny_model_dir, out, incremental=True)
    assert g["mentions"].schema == back.drop("ingest_batch").schema
    assert g["mentions"].count() == sum(per_batch.values())


def test_empty_partitioned_stage(spark, tmp_path):
    """A stage that commits no file (an empty frame written partitionBy)
    records the frame's schema, made nullable, and reads back empty."""
    out = str(tmp_path / "g")
    empty = spark.createDataFrame([], "subj long not null, pred string, obj long not null")
    df, manifest, resumed = run_stage(spark, out, "triples", {"k": 1}, lambda: empty, ["pred"])
    assert (manifest["rows"], manifest["partitions"], resumed) == (0, [], False)
    want = StructType.fromJson(
        {"type": "struct", "fields": [
            {"name": c, "type": "long", "nullable": True, "metadata": {}} for c in ("subj", "obj")
        ] + [{"name": "pred", "type": "string", "nullable": True, "metadata": {}}]}
    )
    assert df.schema == want and df.count() == 0
    df2, _, resumed = run_stage(spark, out, "triples", {"k": 1}, None, ["pred"])
    assert resumed and df2.schema == want and df2.count() == 0


def test_build_without_mentions(spark, tiny_model_dir, tmp_path):
    """A corpus with no entities builds (and resumes) an empty graph."""
    tdf = pd.DataFrame(
        {"conv_id": ["c1", "c1"], "turn_idx": [0, 1], "role": ["user", "assistant"],
         "text": ["hello there", "ok ."], "tool": ["", ""]}
    ).astype({"turn_idx": "int32"})
    sdf = spark.createDataFrame(tdf)
    out = str(tmp_path / "g")
    res = build_knowledge_graph(spark, sdf, tiny_model_dir, out)
    assert [m["rows"] for m in res["manifests"]] == [0, 0, 0, 0]
    assert res["triples"].count() == 0
    assert build_knowledge_graph(spark, sdf, tiny_model_dir, out)["resumed"] == [True] * 4


def _failing_dump(obj, f):
    f.write(json.dumps(obj)[:10])
    raise OSError("disk full")


def test_stage_manifest_write_is_atomic(spark, tmp_path, monkeypatch):
    out = str(tmp_path / "g")
    os.makedirs(out)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, pred string")
    first = write_stage(df, out, "s", "fp-1", ["pred"])
    names = sorted(os.listdir(out))
    monkeypatch.setattr(json, "dump", _failing_dump)
    with pytest.raises(OSError, match="disk full"):
        write_stage(df, out, "s", "fp-2", ["pred"])
    monkeypatch.undo()
    assert read_manifest(out, "s") == first
    assert sorted(os.listdir(out)) == names


def test_batches_manifest_write_is_atomic(spark, tiny_model_dir, tmp_path, monkeypatch):
    out = str(tmp_path / "inc")
    append_mentions(spark, _transcripts(spark, 2, 41), tiny_model_dir, out, "batch-1")
    manifest_path = os.path.join(out, "mentions_incremental._batches.json")
    with open(manifest_path, encoding="utf-8") as f:
        before = json.load(f)
    names = sorted(os.listdir(out))
    monkeypatch.setattr(json, "dump", _failing_dump)
    with pytest.raises(OSError, match="disk full"):
        append_mentions(spark, _transcripts(spark, 2, 42, "-b2"), tiny_model_dir, out, "batch-2")
    monkeypatch.undo()
    with open(manifest_path, encoding="utf-8") as f:
        assert json.load(f) == before
    assert sorted(os.listdir(out)) == names


@pytest.mark.parametrize("partition_by", [None, ["pred"]])
def test_stage_write_launches_only_the_write_jobs(spark, tmp_path, partition_by):
    """run_stage over a persisted frame launches exactly the jobs of a bare
    parquet write of it: no read-back, count or schema-inference job."""
    df = spark.range(200).select(
        "id", F.concat(F.lit("p"), (F.col("id") % 5).cast("string")).alias("pred")
    ).persist()
    df.count()
    writer = df.write.partitionBy(*partition_by) if partition_by else df.write
    try:
        bare, _ = _jobs(spark, "graph_io-bare", lambda: writer.parquet(str(tmp_path / "bare")))
        staged, (back, manifest, _) = _jobs(
            spark, "graph_io-stage",
            lambda: run_stage(spark, str(tmp_path / "g"), "s", {"k": 1}, lambda: df, partition_by),
        )
    finally:
        df.unpersist()
    assert bare >= 1 and staged == bare
    assert manifest["rows"] == 200 and back.count() == 200


def test_resumed_build_launches_no_jobs(spark, tiny_model_dir, built):
    """A resume reads four manifests and pins four schemas: no Spark job,
    except Spark's parallel listing of a triples stage with more pred
    directories than parallelPartitionDiscovery.threshold."""
    out, sdf, _ = built
    n, res = _jobs(
        spark, "graph_io-resume", lambda: build_knowledge_graph(spark, sdf, tiny_model_dir, out)
    )
    assert res["resumed"] == [True] * 4
    preds = [d for d in os.listdir(stage_path(out, "triples")) if d.startswith("pred=")]
    threshold = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
    assert n <= (1 if len(preds) > threshold else 0), (n, len(preds), threshold)
