"""KG extension tests: connected components, LSH blocking, resolution,
triples, checkpoint/resume."""

import contextlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nametag_spark.kg.resolution import (
    connected_components,
    jaccard_filter,
    lsh_bucket_histogram,
    lsh_similarity_edges,
    minhash_signatures,
    resolve_entities,
)
from nametag_spark.kg.triples import extract_triples


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully
    return {n: find(n) for n in nodes}


# per connected_components route: its LAST_CC_INFO tier label and the
# session confs that force it (the route depends on nothing else)
_CC_ROUTES = {
    "numpy": ("driver-numpy", {}),
    "streaming": ("driver-streaming", {"spark.nametag.cc.driverEdgeCap": "0"}),
    "star": (
        "distributed-star",
        {"spark.nametag.cc.driverEdgeCap": "0", "spark.nametag.cc.driverNodeCap": "0"},
    ),
}


@contextlib.contextmanager
def _cc_route(spark, route):
    confs = _CC_ROUTES[route][1]
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k in confs:
            spark.conf.unset(k)


def _cc_labels(spark, df, route):
    from nametag_spark.kg.resolution import LAST_CC_INFO

    with _cc_route(spark, route):
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert LAST_CC_INFO["tier"] == _CC_ROUTES[route][0]
    return got


@pytest.mark.parametrize("tier", ["numpy", "streaming", "star"])
def test_connected_components_matches_union_find(spark, tier):
    """All three routes must agree exactly with reference union-find (the
    caps only pick the execution strategy, never the result), and
    LAST_CC_INFO must report the route actually taken."""
    import random

    rng = random.Random(4)
    # 10k edges over 3k nodes: dense enough for multi-round star convergence
    # on the distributed path, and all paths must agree exactly
    nodes = list(range(1, 3_000))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(10_000)]
    edges = [(a, b) for a, b in edges if a != b]

    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(8)
    got = _cc_labels(spark, df, tier)

    expect = _uf_components(edges, set([a for a, _ in edges] + [b for _, b in edges]))
    # engine returns only nodes appearing in edges; min-id representative
    for n, c in got.items():
        assert expect[n] == c, f"node {n}: got {c}, expect {expect[n]}"
    # every non-singleton node is present
    nonsingle = {n for n, c in expect.items() if c != n or any(expect[m] == n for m in expect if m != n)}
    for n in nonsingle:
        assert n in got


def test_numpy_components_matches_dict_union_find():
    """_numpy_components (vectorized hook-and-compress) must agree exactly
    with the dict union-find _uf_components on adversarial shapes: random
    multigraphs, cliques, and a long chain (worst case for label
    propagation — converges via pointer doubling, not via hooking)."""
    import random

    import numpy as np

    from nametag_spark.kg.resolution import _numpy_components

    cases = []
    rng = random.Random(7)
    nodes = list(range(1, 500))
    cases.append([(rng.choice(nodes), rng.choice(nodes)) for _ in range(2_000)])
    cases.append([(i, j) for i in range(10, 30) for j in range(10, i)])  # clique
    cases.append([(i, i + 1) for i in range(1, 5_000)])  # chain
    cases.append([])  # empty
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        src = np.array([a for a, _ in edges], dtype=np.int64)
        dst = np.array([b for _, b in edges], dtype=np.int64)
        got_nodes, got_labels = _numpy_components(src, dst)
        expect = _uf_components(edges, {n for e in edges for n in e})
        assert len(got_nodes) == len(expect)
        for n, c in zip(got_nodes.tolist(), got_labels.tolist()):
            assert expect[n] == c, f"node {n}: got {c}, expect {expect[n]}"


@pytest.mark.parametrize("tier", ["numpy", "streaming", "star"])
def test_connected_components_chain_graph(spark, tier):
    """Path graph = the adversarial case for label propagation: one
    component spans EVERY partition (and every streaming batch), so no
    single local pass can finish it — pointer doubling (numpy/streaming)
    and the alternating-star rounds must still converge to the one global
    minimum for every node."""
    n = 20_001
    edges = [(i, i + 1) for i in range(1, n)]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(16)
    got = _cc_labels(spark, df, tier)
    assert set(got.values()) == {1}
    assert len(got) == n


def test_star_route_fails_loudly_when_rounds_run_out(spark, monkeypatch):
    """A 2,001-node chain needs 12 star rounds. With 2 allowed the rounds
    stop before every node is hooked to the minimum, and the route must
    raise instead of returning wrong labels."""
    import nametag_spark.kg.resolution as R

    monkeypatch.setattr(R, "_STAR_MAX_ROUNDS", 2)
    edges = [(i, i + 1) for i in range(1, 2_001)]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(4)
    with _cc_route(spark, "star"), pytest.raises(
        RuntimeError, match="did not converge within 2 rounds on 2000 edges"
    ):
        R.connected_components(df)


def test_cc_collect_route_job_count(spark):
    """Job-count guard for the driver collect route on a small graph:
    the cached edge count, the Arrow collect, and the caller's count of the
    broadcast component table — 8 jobs, as before the route cleanup."""
    import random

    rng = random.Random(11)
    nodes = list(range(1, 400))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(1_500)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(8)
    sc = spark.sparkContext
    sc.setJobGroup("cc_collect_route_jobs", "cc_collect_route_jobs")
    try:
        n = connected_components(df).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert n == 399
    assert len(sc.statusTracker().getJobIdsForGroup("cc_collect_route_jobs")) == 8


def test_cc_driver_tier_is_memory_aware(spark):
    """The collect-route edge cap derives from spark.driver.memory (with a
    session-conf override) instead of being an absolute constant, and a
    low cap routes the SAME graph past the collect route with an
    identical result."""
    from nametag_spark.kg.resolution import LAST_CC_INFO, _driver_cap, _parse_mem_bytes

    assert _parse_mem_bytes("24g") == 24 << 30
    assert _parse_mem_bytes("4096m") == 4096 << 20
    assert _parse_mem_bytes("1073741824") == 1 << 30
    # derived caps: 1/8 of driver mem at 48 B/edge, clamped [2M, 32M], and
    # at 64 B/node, clamped [1M, 256M]
    assert _driver_cap(spark, "edges") >= 2_000_000
    assert _driver_cap(spark, "nodes") >= 1_000_000
    try:
        spark.conf.set("spark.nametag.cc.driverEdgeCap", "7")
        spark.conf.set("spark.nametag.cc.driverNodeCap", "9")
        assert _driver_cap(spark, "edges") == 7
        assert _driver_cap(spark, "nodes") == 9
        spark.conf.unset("spark.nametag.cc.driverNodeCap")
        import random

        rng = random.Random(11)
        nodes = list(range(1, 400))
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(1_500)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, ["src", "dst"]).repartition(8)
        # cap 7 << 1500 edges: must route past the collect route (the node
        # set still fits, so the streaming route takes it), same answer
        got = {r["node"]: r["component"] for r in connected_components(df).collect()}
        assert LAST_CC_INFO["tier"] == "driver-streaming"
        expect = _uf_components(
            edges, set([a for a, _ in edges] + [b for _, b in edges])
        )
        for n, c in got.items():
            assert expect[n] == c
    finally:
        spark.conf.unset("spark.nametag.cc.driverEdgeCap")
        spark.conf.unset("spark.nametag.cc.driverNodeCap")


def test_cc_streaming_tier_multi_batch(spark, monkeypatch):
    """The streaming route must be exact across BATCH boundaries: force
    ~15 tiny Arrow batches so components span many ingests (the chain is
    the adversarial case — every batch must hook into labels established
    by earlier ones, and the final labels must be the global minimum)."""
    import random

    import nametag_spark.kg.resolution as R

    monkeypatch.setattr(R, "_STREAM_BATCH_EDGES", 100)
    rng = random.Random(5)
    edges = [(i, i + 1) for i in range(1, 700)]  # one chain component
    edges += [(rng.randrange(1000, 1200), rng.randrange(1000, 1200)) for _ in range(800)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(8)
    got = _cc_labels(spark, df, "streaming")
    expect = _uf_components(edges, set([a for a, _ in edges] + [b for _, b in edges]))
    for n, c in got.items():
        assert expect[n] == c
    assert got[700] == 1  # chain collapsed to the global minimum


def test_cc_streaming_tier_detects_unshared_spill(spark, monkeypatch):
    """If the spill dir is not actually shared (a real-cluster
    misconfiguration), the driver reads back fewer edges than were
    written; the route must raise instead of silently emitting singleton
    components (r7 advisor, medium)."""
    import pyarrow.dataset as pads

    import nametag_spark.kg.resolution as R

    real_dataset = pads.dataset

    def truncated_dataset(path, *a, **k):
        ds = real_dataset(path, *a, **k)

        class _Trunc:
            def to_batches(self, **kw):
                batches = list(ds.to_batches(**kw))
                return batches[:-1]  # drop the last batch: partial read-back

        return _Trunc()

    monkeypatch.setattr(R, "_STREAM_BATCH_EDGES", 100)
    monkeypatch.setattr(pads, "dataset", truncated_dataset)
    edges = [(i, i + 1) for i in range(1, 500)]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(4)
    with _cc_route(spark, "streaming"), pytest.raises(
        RuntimeError, match="spill directory is not shared"
    ):
        R.connected_components(df)


def test_minhash_similar_strings_collide(spark):
    rows = [
        (1, "acme corporation"),
        (2, "acme corp"),
        (3, "completely different words here"),
    ]
    df = spark.createDataFrame(rows, ["id", "norm"])
    # threshold 0: the verify passes every candidate the banding produces
    pairs = lsh_similarity_edges(df, "norm", "id", n_hashes=12, bands=6, threshold=0.0).collect()
    got = {(r["src"], r["dst"]) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_jaccard_filter(spark):
    rows = [(1, "abcdef"), (2, "abcdeg"), (3, "zzzzzz")]
    df = spark.createDataFrame(rows, ["id", "norm"])
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["a", "b"])
    out = jaccard_filter(pairs, df, "norm", "id", threshold=0.5).collect()
    assert {(r["a"], r["b"]) for r in out} == {(1, 2)}


def test_lsh_prefilter_intersection_collision_bypass(spark):
    """Round-7 soundness guard for the two-tier verify: when two shingles
    INSIDE the intersection share a 28-bit hash, hash-Jaccard drops BELOW
    exact Jaccard ((i-1)/(u-1) < i/u), so an unguarded prefilter would
    reject a pair whose exact Jaccard passes. The guard detects the
    intra-surface collision (size(_hd) < _n) and bypasses the prefilter,
    so the pair must survive."""
    import hashlib

    from nametag_spark.kg.resolution import lsh_similarity_edges

    # two letters whose md5-prefix-28 hashes collide (found by scan)
    ca, cb = "㣉", "\U000144c0"
    h28 = lambda s: int(hashlib.md5(s.encode("utf8")).hexdigest()[:7], 16)
    assert h28(ca) == h28(cb) == 112410888  # fixture precondition
    common = "uvwxyz"
    others = [*common, "q", "j"]
    assert len({h28(c) for c in others} | {h28(ca)}) == len(others) + 1
    # k=1 shingles = distinct chars. A∩B = {u..z, ca, cb} (8), A\B={q},
    # B\A={j}: exact J = 8/10 = 0.8; hash sets collapse ca/cb into one
    # hash: |Hd|=8 each, ∩=7, ∪=9 -> hash J = 7/9 ≈ 0.778 < 0.8.
    s1 = common + ca + cb + "q"
    s2 = common + ca + cb + "j"
    df = spark.createDataFrame([(1, s1), (2, s2)], ["id", "norm"])
    edges = lsh_similarity_edges(
        df, "norm", "id", n_hashes=12, bands=6, k=1, threshold=0.8
    )
    assert {(r["src"], r["dst"]) for r in edges.collect()} == {(1, 2)}


def test_resolve_entities_merges_variants(spark):
    mentions = pd.DataFrame(
        [
            # same org with two spellings, one person, in several turns
            {"conv_id": "c1", "turn_idx": 0, "sent_idx": 0, "tok_start": 0, "tok_len": 2,
             "char_start": 0, "char_len": 9, "type": "ORG", "surface": "Acme Corporation"},
            {"conv_id": "c1", "turn_idx": 1, "sent_idx": 0, "tok_start": 0, "tok_len": 2,
             "char_start": 0, "char_len": 9, "type": "ORG", "surface": "Acme Corporation"},
            {"conv_id": "c2", "turn_idx": 0, "sent_idx": 0, "tok_start": 0, "tok_len": 2,
             "char_start": 0, "char_len": 9, "type": "ORG", "surface": "ACME corporations"},
            {"conv_id": "c2", "turn_idx": 1, "sent_idx": 0, "tok_start": 3, "tok_len": 1,
             "char_start": 9, "char_len": 5, "type": "PER", "surface": "Alice"},
        ]
    )
    df = spark.createDataFrame(mentions)
    me, ents = resolve_entities(df, jaccard_threshold=0.5)
    ents_pd = ents.toPandas()
    orgs = ents_pd[ents_pd.type == "ORG"]
    assert len(orgs) == 1, f"expected merged ORG entity, got {orgs}"
    assert orgs.iloc[0]["canonical"] == "acme corporation"  # most frequent norm
    assert orgs.iloc[0]["n_mentions"] == 3
    assert len(ents_pd[ents_pd.type == "PER"]) == 1


def test_extract_triples_cooccurrence(spark):
    me = spark.createDataFrame(
        pd.DataFrame(
            [
                {"conv_id": "c1", "turn_idx": 0, "sent_idx": 0, "tok_start": 0,
                 "type": "PER", "entity_id": 10, "norm": "alice johnson"},
                {"conv_id": "c1", "turn_idx": 0, "sent_idx": 0, "tok_start": 4,
                 "type": "ORG", "entity_id": 20, "norm": "acme labs"},
                {"conv_id": "c1", "turn_idx": 0, "sent_idx": 0, "tok_start": 7,
                 "type": "LOC", "entity_id": 30, "norm": "prague"},
                # different sentence: no triple with the above
                {"conv_id": "c1", "turn_idx": 0, "sent_idx": 1, "tok_start": 0,
                 "type": "PER", "entity_id": 11, "norm": "bob"},
            ]
        )
    )
    t = extract_triples(me).toPandas()
    trip = {(r.subj, r.pred, r.obj) for r in t.itertuples(index=False)}
    assert (10, "affiliated_with", 20) in trip
    assert (10, "located_in", 30) in trip
    assert (20, "located_in", 30) in trip
    assert not any(s == 11 or o == 11 for s, _, o in trip)


def test_extract_triples_deterministic(spark):
    """Two runs over mentions with MULTIPLE surface norms per entity must
    produce identical rows (min() head attributes, not first() — the hash
    oracle relies on this)."""
    rows = []
    for t in range(6):
        rows.append({"conv_id": f"c{t}", "turn_idx": t, "sent_idx": 0, "tok_start": 0,
                     "type": "PER", "entity_id": 1, "norm": "alice j" if t % 2 else "alice johnson"})
        rows.append({"conv_id": f"c{t}", "turn_idx": t, "sent_idx": 0, "tok_start": 3,
                     "type": "ORG", "entity_id": 2, "norm": "acme" if t % 3 else "acme corp"})
    me = spark.createDataFrame(pd.DataFrame(rows))

    def run():
        pdf = extract_triples(me).toPandas()
        pdf["evidence"] = pdf["evidence"].map(lambda v: tuple(v))
        return sorted(map(tuple, pdf.itertuples(index=False)))

    a, b = run(), run()
    assert a == b
    # head norms are the lexicographic minimum of the observed surfaces
    t = extract_triples(me).toPandas().iloc[0]
    assert t["subj_norm"] == "alice j" and t["obj_norm"] == "acme"
    assert t["n_evidence"] == 6 and t["n_cooccur"] == 6


def test_triples_tool_predicate(spark):
    me = spark.createDataFrame(
        pd.DataFrame(
            [
                {"conv_id": "c1", "turn_idx": 0, "sent_idx": 0, "tok_start": 0,
                 "type": "PER", "entity_id": 1, "norm": "alice"},
                {"conv_id": "c1", "turn_idx": 0, "sent_idx": 0, "tok_start": 2,
                 "type": "ORG", "entity_id": 2, "norm": "acme"},
            ]
        )
    )
    tr = spark.createDataFrame(
        pd.DataFrame(
            [{"conv_id": "c1", "turn_idx": 0, "role": "tool", "tool": "crm", "text": "x", "ts": None}]
        ).astype({"turn_idx": "int32"})[["conv_id", "turn_idx", "role", "tool"]]
    )
    t = extract_triples(me, tr).toPandas()
    assert t.iloc[0]["pred"] == "affiliated_with_via_crm"


def test_build_knowledge_graph_resume(spark, tiny_model_dir, tmp_path):
    from nametag_spark.data.synth import synth_transcripts
    from nametag_spark.kg.graph_io import build_knowledge_graph

    tdf, _ = synth_transcripts(n_conversations=10, seed=21)
    sdf = spark.createDataFrame(tdf)
    out = str(tmp_path / "graph")

    res1 = build_knowledge_graph(spark, sdf, tiny_model_dir, out)
    assert res1["resumed"] == [False, False, False, False]
    n_triples = res1["triples"].count()
    assert n_triples > 0
    assert res1["entities"].count() > 0
    # manifests carry per-partition lineage
    assert all(m["rows"] >= 0 and "partitions" in m for m in res1["manifests"])

    # second run: everything resumes from checkpoint, same results
    res2 = build_knowledge_graph(spark, sdf, tiny_model_dir, out)
    assert res2["resumed"] == [True, True, True, True]
    assert res2["triples"].count() == n_triples

    # config change invalidates downstream stages
    res3 = build_knowledge_graph(
        spark, sdf, tiny_model_dir, out, config={"resolution": {"jaccard_threshold": 0.9}}
    )
    assert res3["resumed"][0] is False or res3["resumed"][1] is False


def test_resolve_entities_table_matches_built_entities_stage(spark, tiny_model_dir, tmp_path):
    """resolve_entities' entity table (aggregated from the surface
    assignment) and the `entities` stage build_knowledge_graph writes
    (aggregated from mention_entities) are the same table."""
    from nametag_spark.data.synth import synth_transcripts
    from nametag_spark.kg.graph_io import build_knowledge_graph

    tdf, _ = synth_transcripts(n_conversations=10, seed=21)
    res = build_knowledge_graph(spark, spark.createDataFrame(tdf), tiny_model_dir, str(tmp_path / "g"))
    cols = ["entity_id", "canonical", "type", "n_mentions", "n_surfaces"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    built = rows(res["entities"])
    assert len(built) > 0
    assert rows(resolve_entities(res["mentions"])[1]) == built


def test_partition_pruning_on_pred(spark, tmp_path):
    """The triples table is written partitionBy('pred'); a pred-equality
    filter must prune at the source (PartitionFilters in the scan, not a
    post-scan Filter over all partitions) — the property that makes
    per-predicate queries touch 1/N of a 100-TB graph table."""
    t = spark.createDataFrame(
        [(1, "located_in", 2), (1, "affiliated_with", 3), (2, "located_in", 4)],
        ["subj", "pred", "obj"],
    )
    path = str(tmp_path / "triples")
    t.write.partitionBy("pred").parquet(path)
    back = spark.read.parquet(path).where(F.col("pred") == "located_in")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "located_in" in plan, plan
    assert back.count() == 2


def test_graph_queries(spark):
    from nametag_spark.kg.queries import entity_degrees, two_hop_paths

    t = spark.createDataFrame(
        [(1, "p", 2), (1, "q", 3), (2, "p", 3), (4, "p", 1)], ["subj", "pred", "obj"]
    )
    deg = {r["entity"]: (r["out_degree"], r["in_degree"]) for r in entity_degrees(t).collect()}
    assert deg[1] == (2, 1) and deg[3] == (0, 2) and deg[4] == (1, 0)
    paths = {(r["a"], r["b"], r["c"]) for r in two_hop_paths(t).collect()}
    assert (4, 1, 2) in paths and (1, 2, 3) in paths and (4, 1, 3) in paths


def test_incremental_ingest(spark, tiny_model_dir, tmp_path):
    """Append-only NER over new batches; downstream rebuild on new data,
    resume when the batch set is unchanged; idempotent per batch."""
    from nametag_spark.data.synth import synth_transcripts
    from nametag_spark.kg.graph_io import append_mentions, build_knowledge_graph

    out = str(tmp_path / "inc")
    t1, _ = synth_transcripts(n_conversations=6, seed=41)
    t2, _ = synth_transcripts(n_conversations=6, seed=42)
    t2["conv_id"] = t2["conv_id"] + "-b2"

    r1 = append_mentions(spark, spark.createDataFrame(t1), tiny_model_dir, out, "batch-1")
    assert r1["appended"] and r1["rows"] > 0
    # idempotent re-append
    r1b = append_mentions(spark, spark.createDataFrame(t1), tiny_model_dir, out, "batch-1")
    assert not r1b["appended"] and r1b["rows"] == r1["rows"]

    g1 = build_knowledge_graph(spark, None, tiny_model_dir, out, incremental=True)
    n1 = g1["triples"].count()
    assert n1 > 0

    # no new batches -> downstream resumes
    g1b = build_knowledge_graph(spark, None, tiny_model_dir, out, incremental=True)
    assert g1b["resumed"][1:] == [True, True, True]

    # new batch -> downstream rebuilds and covers both batches
    r2 = append_mentions(spark, spark.createDataFrame(t2), tiny_model_dir, out, "batch-2")
    assert r2["appended"]
    g2 = build_knowledge_graph(spark, None, tiny_model_dir, out, incremental=True)
    assert g2["resumed"][1] is False  # mention_entities rebuilt
    assert g2["triples"].count() > n1
    convs = {r["conv_id"] for r in g2["mentions"].select("conv_id").distinct().collect()}
    assert any(c.endswith("-b2") for c in convs)


def test_lsh_edges_string_keys_and_tiny_arrow_batches(spark):
    """The bucket kernel must (a) carry non-numeric key types through its
    derived output schema (np.minimum on object arrays orders strings),
    and (b) regroup buckets whose rows span Arrow batch boundaries — the
    kernel concatenates its partition's batches before grouping. Forcing
    3-row batches makes every bucket span batches."""
    from nametag_spark.kg.resolution import lsh_similarity_edges

    rows = [(f"k{i:03d}", f"surface number {i % 5} variant {i}") for i in range(40)]
    df = spark.createDataFrame(rows, ["key", "norm"])
    kw = dict(n_hashes=12, bands=4, k=3, threshold=0.5)
    baseline = sorted(map(tuple, lsh_similarity_edges(df, "norm", "key", **kw).collect()))
    assert baseline and all(a < b for a, b in baseline)  # string-ordered pairs
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        tiny = sorted(map(tuple, lsh_similarity_edges(df, "norm", "key", **kw).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert tiny == baseline


def _widevocab_surfaces(spark):
    """470 distinct (type, norm) surfaces of a vocab_scale=10 corpus's gold
    mentions, keyed like resolve_entities' surface table."""
    from nametag_spark.data.synth import synth_transcripts
    from nametag_spark.kg.resolution import canonicalize_mentions

    _, gdf = synth_transcripts(n_conversations=20, seed=5, vocab_scale=10)
    surfaces = (
        canonicalize_mentions(spark.createDataFrame(gdf[["type", "surface"]]))
        .where(F.length("norm") > 0)
        .select("type", "norm")
        .distinct()
        .selectExpr("concat(type, '\t', norm) AS k", "norm", "type")
    )
    return spark.createDataFrame(surfaces.toPandas())


# small enough that the bucket policy both splits and drops on that table
_SPLIT_CAP = 3


def test_lsh_edges_jaccard_mode_matches_reference(spark):
    """The pair kernel's jaccard mode with a block column, with buckets
    split and dropped, equals the declarative self-join reference: as a
    set (dedupe=True) and as a multiset, one row per bucket occurrence
    (dedupe=False)."""
    from tests.reference_impls import lsh_similarity_edges as reference_edges

    surfaces = _widevocab_surfaces(spark)
    hist = lsh_bucket_histogram(surfaces, "norm", "k", max_bucket=_SPLIT_CAP, block_col="type")
    assert hist["split_buckets"] > 0 and hist["dropped_buckets"] > 0
    kw = dict(max_bucket=_SPLIT_CAP, block_col="type")
    want = sorted(map(tuple, reference_edges(surfaces, "norm", "k", **kw).collect()))
    assert len(want) > len(set(want))  # some pair shares several buckets
    for dedupe, expected in ((True, sorted(set(want))), (False, want)):
        got = lsh_similarity_edges(surfaces, "norm", "k", dedupe=dedupe, **kw).collect()
        assert sorted(map(tuple, got)) == expected, dedupe


def test_lsh_bucket_histogram_matches_reference(spark):
    """lsh_bucket_histogram reports the pair kernel's policy: its counts
    equal the reference frames', and rows the kernel never buckets (NULL
    text) are not counted."""
    from tests.reference_impls import bucket_histogram

    surfaces = _widevocab_surfaces(spark)
    kw = dict(max_bucket=_SPLIT_CAP, block_col="type")
    got = lsh_bucket_histogram(surfaces, "norm", "k", **kw)
    assert got == bucket_histogram(surfaces, "norm", "k", **kw)
    assert got["split_buckets"] > 0 and got["dropped_buckets"] > 0

    org = [("ORG\tacme corp", "acme corp", "ORG"),
           ("ORG\tacme corporation", "acme corporation", "ORG")]
    nulls = [(f"PER\t{i}", None, "PER") for i in range(5)]
    schema = "k string, norm string, type string"
    with_nulls = lsh_bucket_histogram(
        spark.createDataFrame(org + nulls, schema), "norm", "k", block_col="type"
    )
    org_only = lsh_bucket_histogram(
        spark.createDataFrame(org, schema), "norm", "k", block_col="type"
    )
    assert with_nulls == org_only
    assert with_nulls["max_bucket_size"] == 2
