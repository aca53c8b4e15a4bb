"""Deduplication operators: MinHash+LSH, SimHash signatures, n-gram Jaccard,
embedding-cosine near-dup (task brief §ops).

All deterministic (md5-derived hashing) and — except the embedding LSH scale
path — DuckDB-oracle-expressible. Shuffle posture: every op reduces to
groupBy on a hash key or a bounded bucket self-join; nothing is quadratic in
the table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .text import spread_small_input, tokens_col


def minhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 12,
    bands: int = 4,
    shingle_k: int = 5,
    threshold: float = 0.7,
    estimate_margin: float | None = None,
    estimate_hashes: int = 48,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs verified with exact shingle Jaccard.

    shingle -> minhash -> band -> bucket-join, then candidates are
    prefiltered by a minhash Jaccard ESTIMATE (matching signature fraction,
    a cheap integer compare), and only the survivors pay the exact
    shingle-set verification (no false positives in the output).

    Physical plan (optimization round 8): ONE signature pass computes all
    max(n_hashes, estimate_hashes) minhashes (the affine family is
    prefix-stable, so mh0..mh{n_hashes-1} ARE the banding signature and
    the full width is the estimate's — the pre-r8 formulation ran the
    12-hash and 48-hash passes separately, shingling and md5-ing the
    corpus twice). The pass is the Arrow signature kernel
    (minhash_signatures_kernel — value-identical to the declarative
    explode->groupBy reference for unique ids, parity-pinned); banding,
    the cap/split policy, and the estimate prefilter then run
    partition-locally in the bucket kernel after one hash exchange
    (_kernel_banded_pairs). The
    exact-Jaccard verify (jaccard_filter) computes shingle ARRAYS only for
    docs that appear in a candidate pair (semi-join prune — the pre-r8
    verify built the arrays for the whole corpus). Outputs
    are identical (same hash family, same margin, same banding policy,
    same exact-Jaccard verify).

    The estimate margin is 3 standard deviations of the estimator at the
    threshold, 3*sqrt(t(1-t)/estimate_hashes): at the default 48 hashes a
    tight cut (~0.53 for t=0.7) while a true pair at exactly J=threshold is
    dropped with probability ~0.2%. When bands == n_hashes (1-row bands:
    LSH recall is already governed by any-single-hash collision) the
    prefilter is skipped entirely, since any extra filter would be strictly
    tighter than the banding the caller asked for.

    Precondition for reference equality: id_col is unique. The signature
    kernel emits one row per input row, so docs sharing an id are signed
    separately, where the declarative minhash_signatures merges them into
    one signature. Such ids still pair only with other ids (never (id, id)),
    but the pairs are not the reference's."""
    from ..kg.resolution import (
        _kernel_banded_pairs,
        _register_persisted,
        jaccard_filter,
        minhash_signatures_kernel,
    )

    use_est = bands < n_hashes
    n_sig = max(n_hashes, estimate_hashes) if use_est else n_hashes
    if use_est and estimate_margin is None:
        import math

        estimate_margin = 3.0 * math.sqrt(threshold * (1 - threshold) / n_sig)

    base = df.select(F.col(id_col).alias("_id"), F.trim(F.lower(F.col(text_col))).alias("_norm"))
    # one signature pass at full width; consumed exactly once by the bucket
    # kernel (the r8.0 formulation read it twice — banding + estimate
    # join-back — and persisted it; the kernel carries the estimate
    # signature on the bucket rows, so no cache is needed). The Arrow
    # signature kernel computes the identical pinned values without the
    # 290x shingle explosion (parity-tested vs minhash_signatures).
    sig = minhash_signatures_kernel(base, "_norm", "_id", n_hashes=n_sig, k=shingle_k)

    # banding + cap/split policy + the minhash-Jaccard estimate prefilter
    # all run partition-locally in the bucket kernel: the banding's
    # candidate mass (measured 3.0M pairs at 50k docs — loosely-similar
    # corpora fill capped buckets) is cut to estimate survivors (a few
    # thousand) inside one stage; only they reach the distinct and the
    # exact-verify join. The estimate is a pure function of the pair, so
    # filtering before the distinct is equivalent.
    light_cols = [F.col("_id").alias("_k"), *[F.col(f"mh{h}") for h in range(n_hashes)]]
    if use_est:
        light_cols.append(F.array(*[f"mh{h}" for h in range(n_sig)]).alias("_sg"))
    light = sig.select(*light_cols)
    pairs = _kernel_banded_pairs(
        light, n_hashes, bands, max_bucket=200, block=False,
        payload_col="_sg" if use_est else None,
        mode="estimate" if use_est else "all",
        cut=(threshold - estimate_margin) if use_est else None,
        n_sig=n_sig,
        # _sg's first n_hashes entries ARE the banding signature (prefix-
        # stable family): no redundant _mh array through the exchange
        mh_in_payload_prefix=use_est,
    ).select(F.col("src").alias("a"), F.col("dst").alias("b")).distinct()

    # result-sized; read twice below (candidate-id derivation + the verify
    # probe) — without the cache the bucket self-join would re-run for each
    pairs = pairs.persist()
    _register_persisted(pairs)

    # exact verify over shingle ARRAYS built only for candidate docs: the
    # semi-join prunes the corpus BEFORE the (interpreted, per-character)
    # shingle transform runs
    ids = pairs.select(F.explode(F.array("a", "b")).alias("_id")).distinct()
    return jaccard_filter(
        pairs, base.join(ids, "_id", "left_semi"), "_norm", "_id", threshold, shingle_k
    )


def with_simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash signature over whitespace tokens.

    Each token contributes +1/-1 per bit of its 60-bit md5 hash; the sign of
    each accumulated bit-balance becomes the signature bit.

    Physical plan (optimization round 8): the signature depends only on the
    row's own tokens, so it is ONE per-row Arrow kernel stage — zero
    shuffles (the pre-r8 explode -> groupBy(id) -> join-back plan paid two
    exchanges, and the first r8 rewrite — a JVM `aggregate` fold over a
    `bits`-wide balance struct — evaluated bits x tokens interpreted
    higher-order lambdas per row). The kernel replicates the JVM
    expression semantics EXACTLY (parity-pinned incl. NULL/blank text,
    non-ASCII whitespace, Greek final sigma, and bit-sign ties): `trim`
    strips U+0020 only, the `\\s+` split is Java's ASCII class
    [ \\t\\n\\x0b\\f\\r], Python str.lower() matches JVM lower() (both
    implement Unicode special casing incl. contextual final sigma —
    probed; caveat: a JVM running under a tr_TR default locale would
    diverge on dotted/dotless I, as Spark's non-ASCII path uses the
    default locale), and the token hash is the same md5-prefix-60
    integer (per-task memo — token vocabularies are Zipfian, so md5
    runs once per distinct token).

    Docs with no tokens get simhash 0 (all balances 0 -> no bits set);
    NULL text also maps to 0."""
    import re

    import numpy as np
    import pandas as pd

    # an existing simhash column is replaced; a StructType (not a DDL
    # string) keeps names that need quoting intact
    df = spread_small_input(df.drop("simhash"))
    split_re = re.compile("[ \t\n\x0b\x0c\r]+")  # Java \s (ASCII), not Python \s
    shifts = np.arange(bits, dtype=np.int64)
    weights = (np.int64(1) << shifts)
    schema = StructType(df.schema.fields + [StructField("simhash", LongType())])

    def kernel(batches):
        import hashlib

        memo: dict = {}

        def h60(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                v = int(hashlib.md5(("1|" + tok).encode("utf-8")).hexdigest()[:15], 16)
                memo[tok] = v
            return v

        for pdf in batches:
            texts = pdf[text_col]
            sigs = np.zeros(len(pdf), dtype=np.int64)
            for pos in range(len(pdf)):
                t = texts.iloc[pos]
                if t is None:
                    continue
                t = t.lower().strip(" ")
                if not t:
                    continue
                # Spark's split(limit=-1) keeps leading AND trailing empty
                # strings — exactly re.split's behavior (probed: "x\t" ->
                # ['x',''], "\t" -> ['',''])
                toks = split_re.split(t)
                hs = np.fromiter((h60(tok) for tok in toks), dtype=np.int64, count=len(toks))
                balance = (((hs[:, None] >> shifts[None, :]) & 1) * 2 - 1).sum(axis=0)
                sigs[pos] = weights[balance > 0].sum()
            yield pdf.assign(simhash=pd.Series(sigs, index=pdf.index))

    return df.mapInPandas(kernel, schema=schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df_count: int | None = None,
) -> DataFrame:
    """Word n-gram Jaccard near-dup pairs.

    Blocking: a pair must share at least one n-gram (explode + self-join on
    the n-gram hash), so cost is bounded by n-gram posting-list sizes rather
    than |df|^2; hot n-grams (stop phrases) are capped via max_df pruning.

    max_df_count: absolute hot-gram document-frequency cap. When None, the
    cap max(100, 1% of the corpus) is derived INSIDE the plan via a
    broadcast scalar count — the op stays fully lazy either way (round-2
    verdict wart #2: no driver-side count() on the default path)."""
    toks = tokens_col(F.lower(F.col(text_col)))
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    g = df.select(F.col(id_col).alias("_id"), grams.alias("_grams"))
    posting = g.select("_id", F.explode("_grams").alias("gram"))
    # prune n-grams occurring in >1% of docs (or >100 docs) — boilerplate
    df_counts = posting.groupBy("gram").count()
    if max_df_count is not None:
        hot = df_counts.where(F.col("count") > F.lit(max_df_count))
    else:
        total = g.agg(F.count(F.lit(1)).alias("_total"))
        hot = (
            df_counts.crossJoin(F.broadcast(total))
            .where(F.col("count") > F.greatest(F.lit(100), (F.col("_total") * 0.01).cast("long")))
        )
    posting = posting.join(F.broadcast(hot.select("gram")), "gram", "left_anti")
    l, r = posting.alias("l"), posting.alias("r")
    cand = (
        l.join(r, (F.col("l.gram") == F.col("r.gram")) & (F.col("l._id") < F.col("r._id")))
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )
    sizes = g.select("_id", F.size("_grams").alias("sz"), F.col("_grams"))
    out = (
        cand.join(sizes.select(F.col("_id").alias("a"), F.col("_grams").alias("ga"), F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col("_id").alias("b"), F.col("_grams").alias("gb"), F.col("sz").alias("sb")), "b")
        .withColumn("inter", F.size(F.array_intersect("ga", "gb")))
        .withColumn("jaccard", F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def embedding_dup_pairs_sharded(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_centroids: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """Embedding near-dup pairs at scale: IVF sharding + per-shard exact
    verification (the composition of ops.similarity's bucketing with the
    brute-force building block).

    Every vector is assigned to its n_probe nearest coarse centroids; the
    candidate self-join runs WITHIN shards only (cost sum of squared shard
    sizes, not |df|^2), then exact cosine filters and cross-shard duplicates
    collapse. Near-duplicates (cosine >= a high threshold) are nearly
    parallel vectors, so they share a nearest centroid almost surely;
    multi-assign covers Voronoi-boundary pairs. Recall vs the brute-force
    oracle is exact on the clustered fixture in __spark_entry__."""
    from pyspark.sql import Window

    from .similarity import _as_double, _dot, _norm, ivf_centroids

    cents = ivf_centroids(df, n_centroids, id_col, vec_col)
    spark = df.sparkSession
    if not cents:  # empty corpus -> no pairs
        return spark.createDataFrame([], "a long, b long, cosine double")
    cdf = spark.createDataFrame(cents, ["cid", "cvec"])

    v = df.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("_v")).withColumn(
        "_n", _norm(F.col("_v"))
    )
    scored = v.crossJoin(F.broadcast(cdf)).withColumn(
        "_sim", _dot(F.col("_v"), F.col("cvec")) / (F.col("_n") * _norm(F.col("cvec")))
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_sim"), F.asc("cid"))
    assigned = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_probe)
        .select("cid", "_id", "_v", "_n")
    )
    l, r = assigned.alias("l"), assigned.alias("r")
    dot = F.aggregate(
        F.zip_with(F.col("l._v"), F.col("r._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        l.join(r, (F.col("l.cid") == F.col("r.cid")) & (F.col("l._id") < F.col("r._id")))
        .withColumn("cosine", dot / (F.col("l._n") * F.col("r._n")))
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("l._id").alias("a"),
            F.col("r._id").alias("b"),
            F.round("cosine", 6).alias("cosine"),
        )
        .distinct()
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    max_rows_bruteforce: int | None = 20000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Brute-force self-join (exact) — intended for per-bucket use at scale;
    callers shard by an IVF/LSH bucket first (see ops.similarity). The row
    cap guards accidental quadratic blowups and raises instead of silently
    truncating. The guard is a LIMIT cap+1 existence probe (scans at most
    cap+1 rows, stopping early) rather than a full count, and
    max_rows_bruteforce=None disables the probe entirely for callers that
    already bounded the input (e.g. the sharded IVF composition calling
    once per bucket inside a loop: one job per bucket adds up)."""
    if max_rows_bruteforce is not None:
        over = df.limit(max_rows_bruteforce + 1).count()
        if over > max_rows_bruteforce:
            raise ValueError(
                f"input exceeds brute-force cap {max_rows_bruteforce}; "
                "bucket the input first (ops.similarity.ivf_assign) or pass "
                "max_rows_bruteforce=None if the input is already bounded"
            )
    v = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).withColumn("_norm", F.sqrt(F.aggregate("_v", F.lit(0.0), lambda a, x: a + x * x)))
    l, r = v.alias("l"), v.alias("r")
    dot = F.aggregate(
        F.zip_with(F.col("l._v"), F.col("r._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        l.join(r, F.col("l._id") < F.col("r._id"))
        .withColumn("cosine", dot / (F.col("l._norm") * F.col("r._norm")))
        .where(F.col("cosine") >= threshold)
        .select(
            F.col("l._id").alias("a"),
            F.col("r._id").alias("b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )
