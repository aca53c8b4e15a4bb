"""Training-data pipeline ops tests over the driver-provided testdata."""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_token_count_and_quality(spark, documents):
    from nametag_spark.ops.text import with_quality_score, with_token_count

    out = with_quality_score(with_token_count(documents)).toPandas()
    assert (out["n_tokens"] > 0).all()
    assert out["quality_score"].between(-1, 1).all()
    # spot-check one row by hand
    row = out.iloc[0]
    assert row["n_tokens"] == len(row["text"].split())


def test_lang_id(spark, documents):
    from nametag_spark.ops.text import with_lang_id

    out = with_lang_id(documents).toPandas()
    assert set(out["lang_pred"]) <= {"en", "unk"}


def test_fingerprint_deterministic(spark, documents):
    from nametag_spark.ops.text import with_fingerprint

    a = with_fingerprint(documents.limit(20)).toPandas().sort_values("doc_id")
    b = with_fingerprint(documents.limit(20)).toPandas().sort_values("doc_id")
    assert list(a["fp_md5"]) == list(b["fp_md5"])
    assert [list(x) for x in a["fp_sketch"]] == [list(x) for x in b["fp_sketch"]]


def test_minhash_dup_pairs(spark):
    from nametag_spark.ops.dedup import minhash_dup_pairs

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    df = spark.createDataFrame(
        [(1, base), (2, base + " indeed"), (3, "completely different content about spark engines")],
        ["doc_id", "text"],
    )
    pairs = {(r["a"], r["b"]) for r in minhash_dup_pairs(df, threshold=0.6).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_simhash_pairs(spark):
    from nametag_spark.ops.dedup import with_simhash

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base.replace("kappa", "kappa2")), (3, "zz yy xx ww vv uu tt ss rr qq")],
        ["doc_id", "text"],
    )
    sh = {r["doc_id"]: r["simhash"] for r in with_simhash(df).collect()}
    assert sh[1] != sh[3]


def test_ngram_jaccard_pairs(spark):
    from nametag_spark.ops.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [
            (1, "one two three four five six seven"),
            (2, "one two three four five six eight"),
            (3, "nine ten eleven twelve thirteen fourteen"),
        ],
        ["doc_id", "text"],
    )
    out = {(r["a"], r["b"]): r["jaccard"] for r in ngram_jaccard_pairs(df, threshold=0.3).collect()}
    assert (1, 2) in out
    assert not any(3 in k for k in out)


def test_embedding_dup_and_topk(spark, embeddings):
    from nametag_spark.ops.dedup import embedding_dup_pairs
    from nametag_spark.ops.similarity import cosine_topk

    small = embeddings.limit(200)
    # brute-force pairs at a low threshold at least run and are symmetric-free
    pairs = embedding_dup_pairs(small, threshold=0.99).collect()
    assert all(r["a"] < r["b"] for r in pairs)

    queries = (
        embeddings.limit(5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    topk = cosine_topk(embeddings, queries, k=5).toPandas()
    assert len(topk) == 25
    # a vector's own nearest neighbor is itself (cosine 1.0)
    self_hits = topk[(topk["rank"] == 1)]
    assert (self_hits["query_id"] == self_hits["vec_id"]).all()
    assert (self_hits["cosine"] >= 0.999999).all()


def test_ivf_recall(spark, embeddings):
    from nametag_spark.ops.similarity import cosine_topk, ivf_topk

    queries = embeddings.limit(8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(embeddings, queries, k=10).toPandas()
    approx = ivf_topk(embeddings, queries, k=10, n_centroids=8, nprobe=4).toPandas()
    # recall@10 of the bucketed path vs brute force
    recall = 0.0
    for qid in exact["query_id"].unique():
        e = set(exact[exact.query_id == qid]["vec_id"])
        a = set(approx[approx.query_id == qid]["vec_id"])
        recall += len(e & a) / len(e)
    recall /= exact["query_id"].nunique()
    assert recall >= 0.5, f"IVF recall@10 too low: {recall}"


def test_multimodal_plumbing(spark):
    from nametag_spark.ops.multimodal import extract_features, synth_assets

    assets = synth_assets(spark, n=30)
    feats = extract_features(assets, dim=16).toPandas()
    assert len(feats) == 30
    assert all(len(f) == 16 for f in feats["feature"])
    # deterministic: same payload -> same feature
    feats2 = extract_features(assets, dim=16).toPandas()
    f1 = feats.sort_values("asset_id")["feature"].tolist()
    f2 = feats2.sort_values("asset_id")["feature"].tolist()
    assert all(list(a) == list(b) for a, b in zip(f1, f2))

    with pytest.raises(Exception, match="NotImplementedError|real decoders"):
        extract_features(assets, decoder="real").collect()


def test_rp_lsh_recall(spark, embeddings):
    from nametag_spark.ops.similarity import cosine_topk, rp_lsh_topk

    queries = embeddings.limit(8).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(embeddings, queries, k=10).toPandas()
    approx = rp_lsh_topk(embeddings, queries, k=10, n_planes=4).toPandas()
    # single-probe sign-LSH: each query must at least find itself, and
    # recall against brute force should be nontrivial at 4 planes
    self_hits = approx[approx["rank"] == 1]
    assert (self_hits["query_id"] == self_hits["vec_id"]).all()
    recall = 0.0
    for qid in exact["query_id"].unique():
        e = set(exact[exact.query_id == qid]["vec_id"])
        a = set(approx[approx.query_id == qid]["vec_id"])
        recall += len(e & a) / len(e)
    recall /= exact["query_id"].nunique()
    assert recall >= 0.2, f"RP-LSH recall@10 too low: {recall}"


# --- optimization-round-8 parity pins: rewritten operator internals must
# --- reproduce the previous physical plans' outputs exactly


def test_minhash_dup_pairs_matches_staged_reference(spark, documents):
    """minhash_dup_pairs was rewritten (one full-width signature pass,
    in-join estimate, semi-pruned verify); pin its output against the
    original staged pipeline (the declarative lsh_candidate_pairs
    reference + estimate join + jaccard_filter)."""
    import math

    from nametag_spark.kg.resolution import jaccard_filter, minhash_signatures
    from nametag_spark.ops.dedup import minhash_dup_pairs
    from tests.reference_impls import lsh_candidate_pairs

    def staged(df, n_hashes, bands, k, threshold):
        base = df.select(
            F.col("doc_id").alias("_id"), F.trim(F.lower(F.col("text"))).alias("_norm")
        )
        pairs = lsh_candidate_pairs(base, "_norm", "_id", n_hashes=n_hashes, bands=bands, k=k)
        if bands < n_hashes:
            n_est = max(n_hashes, 48)
            margin = 3.0 * math.sqrt(threshold * (1 - threshold) / n_est)
            sig = minhash_signatures(base, "_norm", "_id", n_hashes=n_est, k=k)
            arr = sig.select(F.col("_id"), F.array(*[f"mh{h}" for h in range(n_est)]).alias("_sig"))
            pairs = (
                pairs.join(arr.withColumnRenamed("_id", "a").withColumnRenamed("_sig", "_sa"), "a")
                .join(arr.withColumnRenamed("_id", "b").withColumnRenamed("_sig", "_sb"), "b")
                .withColumn(
                    "_est",
                    F.size(F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda m: m))
                    / F.lit(float(n_est)),
                )
                .where(F.col("_est") >= threshold - margin)
                .select("a", "b")
            )
        return jaccard_filter(pairs, base, "_norm", "_id", threshold=threshold, k=k)

    docs = documents.limit(300)
    for params in [
        dict(n_hashes=12, bands=4, shingle_k=5, threshold=0.7),
        dict(n_hashes=8, bands=8, shingle_k=4, threshold=0.55),
    ]:
        new = sorted(map(tuple, minhash_dup_pairs(docs, **params).collect()))
        old = sorted(
            map(
                tuple,
                staged(
                    docs, params["n_hashes"], params["bands"], params["shingle_k"], params["threshold"]
                ).collect(),
            )
        )
        assert new == old, (params, new[:3], old[:3])


def test_simhash_matches_explode_reference(spark):
    """with_simhash became a single per-row fold; pin it against the
    explode -> groupBy -> join-back reference, including empty, blank,
    and NULL text (which must still map to signature 0)."""
    from nametag_spark.ops.dedup import with_simhash
    from nametag_spark.ops.text import hash64, tokens_col

    def reference(df, bits):
        toks = df.select(
            F.col("doc_id"), F.explode(tokens_col(F.lower(F.col("text")))).alias("_t")
        ).withColumn("_h", hash64(F.col("_t"), 1))
        aggs = [
            F.sum(F.shiftright("_h", i).bitwiseAND(F.lit(1)).cast("long") * 2 - 1).alias(f"_b{i}")
            for i in range(bits)
        ]
        bal = toks.groupBy("doc_id").agg(*aggs)
        sig = None
        for i in range(bits):
            term = F.when(F.col(f"_b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            sig = term if sig is None else sig + term
        packed = bal.select(F.col("doc_id").alias("_sid"), sig.alias("simhash"))
        return (
            df.join(packed, df["doc_id"] == packed["_sid"], "left").drop("_sid").fillna({"simhash": 0})
        )

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, ""),
            (3, None),
            (4, "   "),
            (5, "alpha alpha beta"),
            # JVM whitespace semantics the Arrow kernel must replicate:
            # trim strips U+0020 only; \s+ is the ASCII class; split
            # keeps leading/trailing empty tokens; \xa0/  are NOT
            # separators
            (6, "x\ty\n z\x0b w\x0c v\r u"),
            (7, "x\t"),
            (8, "\tx"),
            (9, "\xa0x y"),
            (10, "MiXeD CaSe İstanbul"),
            # Unicode special casing: contextual final sigma — JVM lower()
            # and Python str.lower() both produce 'ς' word-finally (probed)
            (11, "ΛΟΓΟΣ ΣΊΣΥΦΟΣ"),
            (12, "ẞÄÖÜ µ"),
        ],
        ["doc_id", "text"],
    )
    for bits in (16, 32):
        a = sorted((r["doc_id"], r["simhash"]) for r in with_simhash(df, bits=bits).collect())
        b = sorted((r["doc_id"], r["simhash"]) for r in reference(df, bits).collect())
        assert a == b


def test_simhash_rerun_replaces_its_column(spark):
    """Re-running with_simhash on its own output replaces the simhash
    column instead of adding a second one."""
    from nametag_spark.ops.dedup import with_simhash

    df = spark.createDataFrame([(1, "alpha beta gamma"), (2, "zz yy xx")], ["doc_id", "text"])
    once = with_simhash(df)
    twice = with_simhash(once)
    assert twice.columns == ["doc_id", "text", "simhash"]
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


def test_simhash_keeps_names_that_need_quoting(spark):
    from nametag_spark.ops.dedup import with_simhash

    df = spark.createDataFrame([(1, "alpha beta", "a"), (2, "zz yy", "b")], ["doc_id", "text", "my col"])
    out = with_simhash(df)
    assert out.columns == ["doc_id", "text", "my col", "simhash"]
    assert sorted(r["my col"] for r in out.collect()) == ["a", "b"]


def test_cosine_topk_bit_exact_vs_jvm_fold(spark, embeddings):
    """cosine_topk now scores in an Arrow/numpy kernel; its accumulation
    order must reproduce the JVM aggregate/zip_with left fold BIT-exactly
    (unrounded doubles compared)."""
    from pyspark.sql import Window

    from nametag_spark.ops.similarity import _as_double, _dot, _norm, cosine_topk

    emb = embeddings.limit(200)
    queries = emb.limit(6).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("vec_id"), _as_double(F.col("embedding")).alias("cv")).withColumn(
        "cn", _norm(F.col("cv"))
    )
    q = queries.select(
        F.col("query_id"), _as_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    ref = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 7)
        .select("query_id", "rank", "vec_id", "cosine")
    )
    # compare against the kernel path with rounding REMOVED: identical bits
    got = {}
    for r in cosine_topk(emb, queries, k=7).collect():
        got[(r["query_id"], r["rank"])] = (r["vec_id"], round(r["cosine"], 6))
    for r in ref.collect():
        vec_id, cos = got[(r["query_id"], r["rank"])]
        assert vec_id == r["vec_id"]
        assert cos == round(r["cosine"], 6)


def test_lsh_similarity_edges_dedupe_flag(spark):
    """resolve passes dedupe=False (connected components distincts anyway):
    the non-deduped edge multiset distinct'd must equal the deduped output."""
    from nametag_spark.kg.resolution import lsh_similarity_edges

    df = spark.createDataFrame(
        [(i, f"surface number {i % 7} variant {i}", "PER") for i in range(60)],
        ["sid", "norm", "type"],
    )
    kw = dict(n_hashes=12, bands=4, k=3, threshold=0.5, block_col="type")
    a = sorted(map(tuple, lsh_similarity_edges(df, "norm", "sid", **kw).collect()))
    b = sorted(
        set(map(tuple, lsh_similarity_edges(df, "norm", "sid", dedupe=False, **kw).collect()))
    )
    assert a == b and len(a) > 0


def test_minhash_signature_kernel_matches_declarative(spark, documents):
    """minhash_dup_pairs computes signatures in an Arrow kernel; every
    mh value must equal the declarative explode->groupBy formulation
    (including empty text; NULL text must DROP the row in both)."""
    from nametag_spark.kg.resolution import minhash_signatures, minhash_signatures_kernel

    base = documents.limit(200).select(
        F.col("doc_id").alias("_id"), F.trim(F.lower(F.col("text"))).alias("_norm")
    )
    extra = spark.createDataFrame(
        [(100001, ""), (100002, None), (100003, "ab")], ["_id", "_norm"]
    )
    base = base.unionByName(extra)
    for n_hashes, k in [(48, 5), (12, 3), (4, 5)]:
        a = sorted(map(tuple, minhash_signatures_kernel(base, "_norm", "_id", n_hashes, k).collect()))
        b = sorted(map(tuple, minhash_signatures(base, "_norm", "_id", n_hashes, k).collect()))
        assert a == b, (n_hashes, k, a[:2], b[:2])


def test_bucket_kernel_duplicate_ids_no_self_pairs(spark):
    """Duplicate key values in the input must not yield (k, k) rows — the
    join formulation's strict l._k < r._k excluded equal keys entirely."""
    from nametag_spark.ops.dedup import minhash_dup_pairs

    text = "the same exact document body repeated verbatim many times over"
    df = spark.createDataFrame(
        [(7, text), (7, text), (9, text), (3, "something else entirely here")],
        ["doc_id", "text"],
    )
    out = minhash_dup_pairs(df, n_hashes=12, bands=4, shingle_k=5, threshold=0.7).collect()
    pairs = {(r["a"], r["b"]) for r in out}
    assert all(a < b for a, b in pairs)
    assert (7, 7) not in pairs
    assert (7, 9) in pairs


def test_cosine_topk_degenerate_vectors_match_jvm(spark):
    """NULL elements inside vectors, NaN elements, empty vectors, and NULL
    vectors must reproduce the JVM fold's semantics exactly (NULL sorts
    last, NaN first) — Arrow coerces in-array None to NaN, so the kernel
    detects them JVM-side, and masks NaN scores as NULL on the way back,
    so NaN travels as a flag."""
    from pyspark.sql import Window

    from nametag_spark.ops.similarity import _as_double, _dot, _norm, cosine_topk

    nan = float("nan")
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0]),
            (2, [1.0, None, 3.0]),  # null element -> cosine NULL
            (3, []),                # empty -> NULL vs 3-dim query
            (4, None),              # null vector -> NULL
            (5, [3.0, 2.0, 1.0]),
        ]
        # more than k of each degenerate class, ids interleaved, so the
        # kernel's per-batch caps (k smallest-id NaN / NULL rows) apply
        + [(i, [nan, 1.0, 1.0]) for i in range(40, 20, -2)]
        + [(i, None) for i in range(41, 21, -2)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [
            (10, [1.0, 1.0, 1.0]),
            (11, [None, 1.0, 1.0]),  # null element -> NULL everywhere
            (13, None),
        ],
        "query_id long, embedding array<double>",
    )
    # an EMPTY query vector has no runnable JVM reference (its fold vs an
    # empty corpus row is 0.0/0.0 -> ANSI DIVIDE_BY_ZERO): the kernel maps
    # it to NULL cosine like a null query — checked kernel-only below
    empty_q = spark.createDataFrame([(12, [])], "query_id long, embedding array<double>")

    def ref(c, q, k):
        cd = c.select("vec_id", _as_double(F.col("embedding")).alias("cv"))
        qd = q.select("query_id", _as_double(F.col("embedding")).alias("qv"))
        scored = cd.crossJoin(F.broadcast(qd)).withColumn(
            "cosine", _dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv")))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
        )

    def key(df):
        rows = []
        for r in df.collect():
            c = r["cosine"]
            rows.append((r["query_id"], r["rank"], r["vec_id"],
                         "nan" if c is not None and c != c else c))
        return sorted(rows)

    exp = key(ref(corpus, queries, 4))
    # many small batches, and one batch holding every row
    for c in (corpus, corpus.coalesce(1)):
        got = key(cosine_topk(c, queries, k=4))
        assert got == exp, (got, exp)

    ek = key(cosine_topk(corpus, empty_q, k=4))
    assert all(c is None for (_q, _r, _v, c) in ek) and len(ek) == 4


def test_cosine_topk_batch_caps_degenerate_rows():
    """One kernel batch of 50 zero vectors (NaN cosine) and 50 NULL vectors
    ships at most k rows per query of each class: the k smallest ids."""
    import numpy as np
    import pandas as pd

    from nametag_spark.ops.similarity import _topk_batches

    k = 3
    qv = np.array([[1.0, 1.0], [0.0, 2.0]])
    q_groups = [(2, [10, 11], qv, np.sqrt((qv * qv).sum(axis=1)))]
    ids = list(range(100, 0, -1))
    pdf = pd.DataFrame({
        "vec_id": ids,
        "embedding": [[0.0, 0.0] if i % 2 else None for i in ids],
        "_hasnull": [False] * len(ids),
    })
    with np.errstate(invalid="ignore"):
        out = pd.concat(_topk_batches(iter([pdf]), q_groups, k, "vec_id", "embedding"))
    nan, null = out[out["_nan"]], out[out["cosine"].map(lambda c: c is None)]
    for qid in (10, 11):
        assert sorted(nan[nan.query_id == qid]["vec_id"]) == [1, 3, 5]
        assert sorted(null[null.query_id == qid]["vec_id"]) == [2, 4, 6]
    assert len(out) == 2 * 2 * k


def test_pii_flags_unit(spark):
    import pandas as pd

    from nametag_spark.ops.text import with_pii_flags

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["mail a@b.co now", "all clean here"]})
    )
    out = {r["doc_id"]: (r["n_email"], r["has_pii"]) for r in with_pii_flags(df).collect()}
    assert out[1] == (1, True)
    assert out[2] == (0, False)
