"""Similarity search over embedding columns (task brief §ops).

- brute-force cosine top-k: the exact baseline, one broadcast of the query
  set, JVM-side dot products via zip_with/aggregate (no Python UDF)
- IVF-bucketed top-k: the scale path — deterministic coarse centroids,
  nprobe-bucket search; recall measured against the brute-force baseline in
  tests
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, vec_id, cosine).

    Physical plan (optimization round 8): the query set is tiny (it was
    already broadcast) so it collects to the driver and ships inside an
    Arrow-batched mapInPandas kernel over the corpus scan; each batch
    computes all query scores with vectorized numpy and emits only its
    per-query top-k (plus its k smallest-id NaN-scored and k smallest-id
    NULL-scored rows, so degenerate inputs keep the exact JVM ordering
    semantics), and a final window over the tiny union ranks globally. The previous formulation evaluated the dot
    products as interpreted higher-order functions over the corpus x
    queries cross join and sorted the full scored set before the partial
    window group limit — both now touch k*queries rows per batch instead.

    BIT-EXACT with the JVM expression path: the kernel accumulates the dot
    product and norms dimension-by-dimension in ascending index order —
    the same IEEE-754 operation sequence as Catalyst's left-fold
    `aggregate(zip_with(...))` — so every cosine is the identical double.
    Degenerate inputs match the JVM NULL semantics too (null vectors,
    null ELEMENTS inside vectors — detected JVM-side, since Arrow coerces
    in-array None to NaN — and dimension mismatches all yield NULL,
    sorting last), except empty query vectors, whose JVM fold would hit
    ANSI DIVIDE_BY_ZERO against an empty corpus row: the kernel maps them
    to NULL instead of raising.

    Ties break by vec_id ascending."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    qid_t = queries.schema[query_id_col].dataType.simpleString()
    vid_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_t}, vec_id {vid_t}, cosine double, _nan boolean"
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).collect()
    if not q_rows:
        return spark.createDataFrame([], f"query_id {qid_t}, rank int, vec_id {vid_t}, cosine double")

    # group queries by dimensionality (one group in practice); qn uses the
    # same ascending-index fold as _norm so the divisor is bit-identical.
    # Degenerate semantics:
    #   - NULL query vector, or a NULL ELEMENT inside it: zip_with's
    #     product is NULL somewhere -> the JVM fold is NULL -> cosine NULL
    #     for every corpus row (grouped as dim -1; Arrow would silently
    #     turn the None into NaN, which sorts on the OPPOSITE end)
    #   - EMPTY query vector: the JVM fold against an empty corpus row is
    #     0.0/0.0, which under ANSI mode (Spark 4 default) THROWS
    #     DIVIDE_BY_ZERO — there is no runnable JVM semantics to match, so
    #     the kernel maps empty queries to NULL cosine like null ones
    by_dim: dict = {}
    for r in q_rows:
        v = r["qv"]
        key = -1 if v is None or len(v) == 0 or any(x is None for x in v) else len(v)
        by_dim.setdefault(key, []).append((r["query_id"], v))
    q_groups = []
    for dim, members in by_dim.items():
        if dim <= 0:
            q_groups.append((dim, [m[0] for m in members], None, None))
            continue
        qv = np.array([m[1] for m in members], dtype=np.float64)
        qn_acc = np.zeros(len(members))
        for d in range(dim):
            qn_acc += qv[:, d] * qv[:, d]
        q_groups.append((dim, [m[0] for m in members], qv, np.sqrt(qn_acc)))

    from ..ops.text import spread_small_input

    # a single-file corpus would run the whole kernel on one task
    scored = spread_small_input(
        corpus.select(
            id_col,
            vec_col,
            F.exists(F.col(vec_col), lambda x: x.isNull()).alias("_hasnull"),
        )
    ).mapInPandas(
        lambda it: _topk_batches(it, q_groups, k, id_col, vec_col), schema=out_schema
    ).withColumn("cosine", F.when(F.col("_nan"), F.lit(float("nan"))).otherwise(F.col("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
    )


def _k_smallest_ids(ids, pos, k: int):
    """The (at most) k positions of `pos` with the smallest ids (non-NULL
    ids, as the finite-score tiebreak also assumes)."""
    import numpy as np

    return pos if len(pos) <= k else pos[np.argsort(ids[pos], kind="stable")[:k]]


def _topk_batches(batches, q_groups, k: int, id_col: str, vec_col: str):
    """cosine_topk's per-batch kernel: for each query, the batch's k best
    finite scores, its k smallest-id NaN-scored rows and its k smallest-id
    NULL-scored rows. Exact for the final (cosine DESC, vec_id ASC) window:
    NaN sorts first and NULL last, and within each class ties break on
    vec_id, so the global top-k draws from these per-batch candidates."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if len(pdf) == 0:
            continue
        ids = pdf[id_col].to_numpy()
        vecs = pdf[vec_col]
        lens = np.array([-1 if v is None else len(v) for v in vecs])
        # corpus rows with a NULL ELEMENT inside the vector: the JVM
        # fold is NULL (Arrow already coerced the None to NaN inside
        # the array, so it is detected JVM-side — `_hasnull` — not
        # from the converted values)
        hasnull = np.array([bool(h) for h in pdf["_hasnull"]])
        out_q, out_v, out_c = [], [], []
        for dim, qids, qv, qn in q_groups:
            if qv is None:
                good = np.zeros(len(pdf), dtype=bool)
            else:
                good = (lens == dim) & ~hasnull
                if good.any():
                    cv = np.stack(
                        [np.asarray(v, dtype=np.float64) for v in vecs[good]]
                    )
                    dot = np.zeros((len(cv), len(qids)))
                    cn_acc = np.zeros(len(cv))
                    for d in range(dim):
                        c_d = cv[:, d]
                        dot += c_d[:, None] * qv[:, d][None, :]
                        cn_acc += c_d * c_d
                    cos = dot / (np.sqrt(cn_acc)[:, None] * qn[None, :])
                    gid = ids[good]
                    for qi, qid in enumerate(qids):
                        col = cos[:, qi]
                        finite = ~np.isnan(col)
                        ok = np.flatnonzero(finite)
                        if len(ok) > k:
                            neg = -col[ok]
                            kth = np.partition(neg, k - 1)[k - 1]
                            ok = ok[neg <= kth]  # keep kth-value ties for id tiebreak
                        keep = sorted(ok, key=lambda i: (-col[i], gid[i]))[:k]
                        for i in keep:
                            out_q.append(qid)
                            out_v.append(gid[i])
                            out_c.append(float(col[i]))
                        # NaN scores sort FIRST under Spark's DESC (NaN >
                        # any double), ties on vec_id: the k smallest ids
                        # are the only NaN rows that can reach the top k
                        for i in _k_smallest_ids(gid, np.flatnonzero(~finite), k):
                            out_q.append(qid)
                            out_v.append(gid[i])
                            out_c.append(float(col[i]))
            # rows whose vector is null / length-mismatched score NULL
            # (zip_with pads with null in the JVM path); NULLS LAST can
            # still reach the output when a query has < k scored rows,
            # and then only the k smallest ids
            for i in _k_smallest_ids(ids, np.flatnonzero(~good), k):
                for qid in qids:
                    out_q.append(qid)
                    out_v.append(ids[i])
                    out_c.append(None)
        yield pd.DataFrame(
            {
                "query_id": out_q,
                "vec_id": out_v,
                # Spark's pandas->Arrow conversion masks NaN as NULL (they
                # sort on opposite ends), so NaN scores also travel as a
                # flag that cosine_topk turns back into NaN JVM-side
                "cosine": pd.Series(out_c, dtype=object),
                "_nan": [c is not None and c != c for c in out_c],
            }
        )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
):
    """Deterministic coarse centroids: the n lowest-id vectors refined by
    `iterations` Lloyd steps. Returns a list of (centroid_id, vector)
    suitable for broadcasting in a literal plan.

    The mean update uses posexplode -> groupBy(cid, pos) -> avg: ONE
    aggregate over (centroid, dimension) pairs regardless of dimensionality
    (the previous per-dimension F.avg(element_at(...)) built one aggregate
    expression per dim — fine at 64-d, pathological at 768-d+). Per-iteration
    driver traffic is just the n_centroids x dim centroid table."""
    seeds = {
        i: [float(x) for x in r[vec_col]]
        for i, r in enumerate(corpus.orderBy(id_col).limit(n_centroids).collect())
    }
    if not seeds:
        return []
    spark = corpus.sparkSession
    cents = dict(seeds)
    vecs = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    for _ in range(max(1, iterations)):
        cdf = spark.createDataFrame(sorted(cents.items()), ["cid", "cvec"])
        assigned = _assign(corpus, cdf, id_col, vec_col)
        means = (
            assigned.join(vecs, id_col)
            .selectExpr("cid", "posexplode(_v) AS (pos, val)")
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("cvec")
            )
        )
        new = {r["cid"]: [float(x) for x in r["cvec"]] for r in means.collect()}
        # empty clusters keep their previous centroid (deterministic)
        cents = {cid: new.get(cid, vec) for cid, vec in cents.items()}
    return sorted(cents.items())


def _assign(corpus: DataFrame, centroids_df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Nearest-centroid assignment: broadcast the centroid table, pick the
    argmax per vector with a min_by aggregation (map-side combinable — no
    window/shuffle of the full corpus x centroids product). Ties break by
    lowest cid (min_by over the (-sim, cid) struct)."""
    c = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    scored = c.crossJoin(F.broadcast(centroids_df)).withColumn(
        "sim", _dot(F.col("_v"), F.col("cvec")) / (_norm(F.col("_v")) * _norm(F.col("cvec")))
    )
    return scored.groupBy(id_col).agg(
        F.min_by(F.col("cid"), F.struct((-F.col("sim")).alias("_s"), F.col("cid").alias("_c"))).alias("cid")
    )


def rp_lsh_buckets(
    corpus: DataFrame,
    n_planes: int = 12,
    seed: int = 99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Random-hyperplane (sign) LSH bucket per vector: bucket id packs the
    sign bit of the dot product with n_planes seeded Gaussian hyperplanes.
    Cosine-similar vectors collide with probability (1 - theta/pi)^n.
    Hyperplanes are driver-generated (deterministic) literal arrays — tiny,
    so they inline into the plan; no shuffle until the bucket groupBy.

    dim: embedding dimensionality. Pass it to keep this fully lazy; when
    None a one-row probe job runs once to learn it (library-API wart noted
    in round 4 — callers on the hot path should thread dim through)."""
    import numpy as np

    if dim is None:
        first = corpus.select(vec_col).first()
        if first is None:
            return corpus.select(F.col(id_col), F.lit(0).cast("long").alias("bucket"))
        dim = len(first[vec_col])
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)

    v = _as_double(F.col(vec_col))
    bucket = None
    for b in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[b]])
        bit = (_dot(v, plane) > 0).cast("long") * (1 << b)
        bucket = bit if bucket is None else bucket + bit
    return corpus.select(F.col(id_col), bucket.alias("bucket"))


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 99,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k searching the query's LSH bucket in each of
    n_tables independent hash tables (multi-table OR-amplification: a
    neighbor at angle theta is missed only if it splits from the query in
    EVERY table, p_miss = (1-(1-theta/pi)^n_planes)^n_tables). The scale
    path when the corpus is bucketed+persisted once and queried many times;
    each table is one (table, bucket) join key, so candidates stay
    posting-list-bounded."""
    # learn the dimensionality ONCE (was: a first() probe per table per
    # side — 2*n_tables one-row jobs); queries share the corpus dim
    probe = corpus.select(vec_col).first()
    if probe is None:
        empty = corpus.sparkSession.createDataFrame(
            [], f"query_id string, rank int, vec_id string, cosine double"
        )
        return empty
    dim = len(probe[vec_col])
    tables = []
    qtables = []
    for t in range(n_tables):
        cb = rp_lsh_buckets(corpus, n_planes, seed + 7919 * t, id_col, vec_col, dim=dim).select(
            F.col(id_col), F.lit(t).alias("table"), F.col("bucket")
        )
        qb = rp_lsh_buckets(
            queries.select(F.col(query_id_col).alias(id_col), F.col(vec_col)),
            n_planes,
            seed + 7919 * t,
            id_col,
            vec_col,
            dim=dim,
        ).select(F.col(id_col).alias("query_id"), F.lit(t).alias("table"), F.col("bucket"))
        tables.append(cb)
        qtables.append(qb)
    from functools import reduce

    cball = reduce(lambda a, b: a.unionByName(b), tables)
    qball = reduce(lambda a, b: a.unionByName(b), qtables)

    bucketed = corpus.join(cball, id_col)
    cand = (
        bucketed.join(qball, ["table", "bucket"])
        .select(F.col(id_col).alias("vec_id"), "query_id")
        .distinct()  # a pair colliding in several tables scores once
        .join(
            corpus.select(F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("cv")),
            "vec_id",
        )
    )
    q = queries.select(F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    scored = cand.join(q, "query_id").withColumn(
        "cosine", _dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: search only the nprobe nearest centroid buckets.

    At scale the assignment is computed once and persisted (partitioned by
    cid); queries then touch nprobe/n_centroids of the corpus."""
    spark = corpus.sparkSession
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    if not cents:  # empty corpus -> empty result with the output schema
        return spark.createDataFrame(
            [], "query_id long, rank int, vec_id long, cosine double"
        )
    cdf = spark.createDataFrame(cents, ["cid", "cvec"])

    assignment = _assign(corpus, cdf, id_col, vec_col)
    bucketed = corpus.join(assignment, id_col)

    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cdf)).withColumn(
        "sim", _dot(F.col("qv"), F.col("cvec")) / (_norm(F.col("qv")) * _norm(F.col("cvec")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cid"))
    probes = qc.withColumn("rn", F.row_number().over(wq)).where(F.col("rn") <= nprobe).select(
        "query_id", "cid"
    )

    cand = bucketed.join(probes, "cid").select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        "query_id",
    )
    scored = cand.join(q, "query_id").withColumn(
        "cosine", _dot(F.col("cv"), F.col("qv")) / (_norm(F.col("cv")) * _norm(F.col("qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", F.round("cosine", 6).alias("cosine"))
    )
