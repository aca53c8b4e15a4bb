"""graph_io manifests: footer-derived row counters and schema, reads of
exactly the files a manifest lists, atomic manifest writes, the Spark jobs
a stage write or resume launches, and the incremental store (mentions plus
per-batch triple evidence) built without transcripts."""

import json
import os
import shutil
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
THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


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


def _triple_rows(df):
    pdf = df.toPandas()
    pdf["evidence"] = pdf["evidence"].map(tuple)
    return sorted(map(tuple, pdf.itertuples(index=False)))


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


@pytest.fixture(scope="module")
def store(spark, tiny_model_dir, tmp_path_factory):
    """A fixture mention store of two appended batches: its out_dir."""
    out = str(tmp_path_factory.mktemp("graph_io") / "inc")
    batches = {
        "batch-1": _transcripts(spark, 4, 41),
        "batch-2": _transcripts(spark, 4, 42, "-b2"),
    }
    for batch_id, sdf in batches.items():
        assert append_mentions(spark, sdf, tiny_model_dir, out, batch_id)["appended"]
    return out


@pytest.fixture
def low_threshold(spark):
    """The session's parallel-listing threshold lowered to 1, so that a
    directory listing of more than one partition directory would launch a
    Spark job; the previous value is restored afterwards."""
    previous = spark.conf.get(THRESHOLD, None)
    spark.conf.set(THRESHOLD, "1")
    yield "1"
    if previous is None:
        spark.conf.unset(THRESHOLD)
    else:
        spark.conf.set(THRESHOLD, previous)


def _copy(built, tmp_path):
    """A copy of the fixture graph's out_dir, which resumes like the original."""
    out = str(tmp_path / "graph")
    shutil.copytree(built[0], out)
    return out


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


def test_incremental_store_manifest_matches_spark(spark, tiny_model_dir, store):
    path = stage_path(store, "mentions_incremental")
    with open(os.path.join(store, "mentions_incremental._batches.json"), encoding="utf-8") as f:
        manifest = json.load(f)
    back = spark.read.parquet(path)
    counts = back.groupBy("ingest_batch").count().collect()
    per_batch = {r["ingest_batch"]: r["count"] for r in counts}
    assert {b: m["rows"] for b, m in manifest.items()} == per_batch
    files = _rows_per_file(spark, path)
    for batch_id, m in manifest.items():
        assert StructType.fromJson(m["schema"]) == back.schema
        assert all(f.startswith(f"ingest_batch={batch_id}/") for f in m["files"])
        assert {f: n for f, n in files.items() if f in m["files"]} == {
            f: n for f, n in files.items() if f.startswith(f"ingest_batch={batch_id}/")
        }
    assert read_incremental_mentions(spark, store).schema == back.schema
    ev_files = _rows_per_file(spark, stage_path(store, "evidence_incremental"))
    for batch_id, m in manifest.items():
        ev = m["evidence"]
        mine = {f: n for f, n in ev_files.items() if f.startswith(f"ingest_batch={batch_id}/")}
        assert all(f.startswith(f"ingest_batch={batch_id}/") for f in ev["files"])
        assert set(mine) <= set(ev["files"])
        assert ev["rows"] == sum(mine.values()) > 0
    g = build_knowledge_graph(spark, None, tiny_model_dir, store, incremental=True)
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


def test_store_serves_only_recorded_batches(spark, tiny_model_dir, tmp_path, monkeypatch):
    """The parquet of an append whose manifest write failed is not served,
    and a retry of that batch stores each of its rows exactly once."""
    out = str(tmp_path / "inc")
    b1 = _transcripts(spark, 2, 41)
    b2 = _transcripts(spark, 2, 42, "-b2")
    append_mentions(spark, b1, tiny_model_dir, out, "batch-1")
    first = sorted(map(tuple, read_incremental_mentions(spark, out).collect()))
    monkeypatch.setattr(json, "dump", _failing_dump)
    with pytest.raises(OSError, match="disk full"):
        append_mentions(spark, b2, tiny_model_dir, out, "batch-2")
    monkeypatch.undo()
    for store in ("mentions_incremental", "evidence_incremental"):
        assert os.path.isdir(os.path.join(stage_path(out, store), "ingest_batch=batch-2"))
    assert sorted(map(tuple, read_incremental_mentions(spark, out).collect())) == first
    triples = build_knowledge_graph(spark, None, tiny_model_dir, out, incremental=True)["triples"]
    provenance = [e for r in triples.select("evidence").collect() for e in r["evidence"]]
    assert provenance and not [e for e in provenance if "-b2:" in e]

    r = append_mentions(spark, b2, tiny_model_dir, out, "batch-2")
    assert r["appended"] and r["rows"] > 0
    back = read_incremental_mentions(spark, out)
    assert back.where(F.col("ingest_batch") == "batch-2").count() == r["rows"]
    raw = spark.read.parquet(stage_path(out, "mentions_incremental"))
    assert raw.where(F.col("ingest_batch") == "batch-2").count() == r["rows"]
    with open(os.path.join(out, "mentions_incremental._batches.json"), encoding="utf-8") as f:
        ev = json.load(f)["batch-2"]["evidence"]
    raw_ev = spark.read.parquet(stage_path(out, "evidence_incremental"))
    assert raw_ev.where(F.col("ingest_batch") == "batch-2").count() == ev["rows"] > 0


def test_store_without_file_lists_asks_to_reingest(spark, store, tmp_path):
    out = str(tmp_path / "inc")
    shutil.copytree(store, out)
    manifest_path = os.path.join(out, "mentions_incremental._batches.json")
    with open(manifest_path, encoding="utf-8") as f:
        batches = json.load(f)
    del batches["batch-1"]["files"]
    with open(manifest_path, "w", encoding="utf-8") as f:
        json.dump(batches, f)
    with pytest.raises(ValueError, match="re-ingest"):
        read_incremental_mentions(spark, out)


def test_store_without_evidence_asks_to_reingest(spark, tiny_model_dir, store, tmp_path):
    """A store whose _batches.json records no evidence for a batch (written
    before evidence was stored) is not built from a directory read."""
    out = str(tmp_path / "inc")
    shutil.copytree(store, out)
    manifest_path = os.path.join(out, "mentions_incremental._batches.json")
    with open(manifest_path, encoding="utf-8") as f:
        batches = json.load(f)
    del batches["batch-1"]["evidence"]
    with open(manifest_path, "w", encoding="utf-8") as f:
        json.dump(batches, f)
    with pytest.raises(ValueError, match=r"no evidence files for batches \['batch-1'\].*re-ingest"):
        build_knowledge_graph(spark, None, tiny_model_dir, out, incremental=True)


def test_incremental_build_keeps_tool_context(spark, tiny_model_dir, store, tmp_path):
    """An incremental build (no transcripts) has the triples of a full build
    over the same turns, with their transcripts, including the
    `*_via_<tool>` predicates of tool turns: each batch's evidence carries
    its own role/tool context."""
    full = build_knowledge_graph(
        spark,
        _transcripts(spark, 4, 41).union(_transcripts(spark, 4, 42, "-b2")),
        tiny_model_dir,
        str(tmp_path / "full"),
    )["triples"]
    inc = build_knowledge_graph(spark, None, tiny_model_dir, store, incremental=True)["triples"]
    assert full.where(F.col("pred").contains("_via_")).count() > 0
    assert _triple_rows(inc.select(full.columns)) == _triple_rows(full)


def test_batch_without_mentions(spark, tiny_model_dir, tmp_path):
    """A batch in which NER finds nothing appends, builds and resumes."""
    tdf = pd.DataFrame(
        {"conv_id": ["c1", "c1"], "turn_idx": [0, 1], "role": ["user", "tool"],
         "text": ["hello there", "ok ."], "tool": ["", "search"]}
    ).astype({"turn_idx": "int32"})
    out = str(tmp_path / "inc")
    r = append_mentions(spark, spark.createDataFrame(tdf), tiny_model_dir, out, "empty")
    assert r == {"batch_id": "empty", "rows": 0, "appended": True}
    with open(os.path.join(out, "mentions_incremental._batches.json"), encoding="utf-8") as f:
        entry = json.load(f)["empty"]
    assert (entry["files"], entry["evidence"]["rows"], entry["evidence"]["files"]) == ([], 0, [])
    res = build_knowledge_graph(spark, None, tiny_model_dir, out, incremental=True)
    assert [m["rows"] for m in res["manifests"][1:]] == [0, 0, 0]
    assert res["mentions"].count() == 0 and res["triples"].count() == 0
    again = build_knowledge_graph(spark, None, tiny_model_dir, out, incremental=True)
    assert again["resumed"] == [True] * 4


def test_resume_rebuilds_a_stage_with_a_missing_file(spark, tiny_model_dir, built, tmp_path):
    """A resume whose manifest lists a file that is gone rebuilds that stage
    instead of serving it short."""
    out = _copy(built, tmp_path)
    want = read_manifest(out, "triples")
    lost = next(p["file"] for p in want["partitions"] if p["rows"] and "pred=" in p["file"])
    os.remove(os.path.join(stage_path(out, "triples"), lost))
    res = build_knowledge_graph(spark, built[1], tiny_model_dir, out)
    assert res["resumed"] == [True, True, True, False]
    assert res["manifests"][3]["rows"] == want["rows"]
    assert res["triples"].count() == want["rows"]
    _check_manifest(spark, stage_path(out, "triples"), res["manifests"][3])


def test_resume_serves_only_listed_files(spark, tiny_model_dir, built, tmp_path):
    """A stray parquet file copied into a stage directory is not served."""
    out = _copy(built, tmp_path)
    manifest = read_manifest(out, "triples")
    part = next(p for p in manifest["partitions"] if p["rows"] and "pred=" in p["file"])
    path = stage_path(out, "triples")
    src = os.path.join(path, part["file"])
    shutil.copy(src, os.path.join(os.path.dirname(src), "part-99999-stray.snappy.parquet"))
    res = build_knowledge_graph(spark, built[1], tiny_model_dir, out)
    assert res["resumed"] == [True] * 4
    assert res["triples"].count() == manifest["rows"]
    assert spark.read.parquet(path).count() == manifest["rows"] + part["rows"]


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


def test_resumed_build_launches_no_jobs(spark, tiny_model_dir, built, low_threshold):
    """A resume reads four manifests and the files they list: no Spark job,
    even when the triples stage has more pred directories than the
    parallel-listing threshold."""
    out, sdf, _ = built
    preds = [d for d in os.listdir(stage_path(out, "triples")) if d.startswith("pred=")]
    assert len(preds) > int(low_threshold)
    n, res = _jobs(
        spark, "graph_io-resume", lambda: build_knowledge_graph(spark, sdf, tiny_model_dir, out)
    )
    assert res["resumed"] == [True] * 4
    assert n == 0
    assert spark.conf.get(THRESHOLD) == low_threshold


def test_incremental_resume_launches_no_jobs(spark, tiny_model_dir, store, low_threshold):
    """An incremental build over an unchanged mention store resumes with no
    Spark job; the store has more batch directories than the threshold."""
    def build():
        return build_knowledge_graph(spark, None, tiny_model_dir, store, incremental=True)

    build()
    assert len(os.listdir(stage_path(store, "mentions_incremental"))) > int(low_threshold)
    n, res = _jobs(spark, "graph_io-inc-resume", build)
    assert res["resumed"] == [True] * 4
    assert n == 0
    assert spark.conf.get(THRESHOLD) == low_threshold


@pytest.mark.parametrize("lowered", [False, True])
def test_reads_restore_the_discovery_threshold(
    spark, tiny_model_dir, built, store, tmp_path, request, lowered
):
    """A build, a resume and a read that raises all leave the session's
    parallel-listing threshold as they found it, set or unset."""
    if lowered:
        request.getfixturevalue("low_threshold")
    before = spark.conf.get(THRESHOLD, None)
    out = _copy(built, tmp_path)
    lost = read_manifest(out, "entities")["partitions"][0]["file"]
    os.remove(os.path.join(stage_path(out, "entities"), lost))
    for resumed in ([True, True, False, True], [True] * 4):  # a build, then a resume
        assert build_knowledge_graph(spark, built[1], tiny_model_dir, out)["resumed"] == resumed
        assert spark.conf.get(THRESHOLD, None) == before

    inc = str(tmp_path / "inc")
    shutil.copytree(store, inc)
    with open(os.path.join(inc, "mentions_incremental._batches.json"), encoding="utf-8") as f:
        lost = json.load(f)["batch-2"]["files"][0]
    os.remove(os.path.join(stage_path(inc, "mentions_incremental"), lost))
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        read_incremental_mentions(spark, inc)
    assert spark.conf.get(THRESHOLD, None) == before
