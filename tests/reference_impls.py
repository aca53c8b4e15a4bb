"""Declarative references for the minhash-LSH blocking kernels in
nametag_spark.kg.resolution, used only by parity tests.

Each is the plain explode -> groupBy -> within-bucket self-join form of the
bucket policy that resolution._bucket_policy runs partition-locally: group
rows on (block, band, sig); re-key every member of a bucket over
max_bucket under both half-signatures (sig#1:md5(mh0..mh{n/2-1}) and
sig#2:md5(mh{n/2}..mh{n-1})); drop sub-buckets still over max_bucket.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, functions as F

from nametag_spark.kg.resolution import _band_columns, minhash_signatures, shingles


def banded_bucket_frames(
    sig: DataFrame, carry: list, n_hashes: int, bands: int, max_bucket: int, block_cols=()
):
    """Signature rows (mh0..mh{n-1} + carry columns, block_cols among them)
    -> (ok, split_ok, oversized, still_over): ok holds the (*carry, band,
    sig) rows of buckets within the cap, split_ok those of the re-keyed
    sub-buckets within it, oversized the keys of the buckets split and
    still_over the keys of the sub-buckets dropped."""
    half = n_hashes // 2
    sub1 = F.md5(F.concat_ws("_", *[F.col(f"mh{h}").cast("string") for h in range(half)]))
    sub2 = F.md5(F.concat_ws("_", *[F.col(f"mh{h}").cast("string") for h in range(half, n_hashes)]))
    buckets = sig.select(
        *carry, sub1.alias("_s1"), sub2.alias("_s2"),
        F.explode(F.array(*_band_columns(n_hashes, bands))).alias("bk"),
    ).select(*carry, "_s1", "_s2", F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))
    bucket_key = list(block_cols) + ["band", "sig"]
    oversized = (
        buckets.groupBy(*bucket_key).count().where(F.col("count") > max_bucket).select(*bucket_key)
    )
    ok = buckets.join(oversized, bucket_key, "left_anti").drop("_s1", "_s2")
    split = buckets.join(oversized, bucket_key, "left_semi").select(
        *carry,
        "band",
        F.explode(
            F.array(
                F.concat(F.col("sig"), F.lit("#1:"), F.col("_s1")),
                F.concat(F.col("sig"), F.lit("#2:"), F.col("_s2")),
            )
        ).alias("sig"),
    )
    still_over = (
        split.groupBy(*bucket_key).count().where(F.col("count") > max_bucket).select(*bucket_key)
    )
    split_ok = split.join(still_over, bucket_key, "left_anti")
    return ok, split_ok, oversized, still_over


def _in_bucket_pairs(buckets: DataFrame, key: str, bucket_key: list) -> DataFrame:
    """Self-join of bucket rows: one (l.*, r.*) row per bucket occurrence
    of each pair with l.key < r.key."""
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in bucket_key]
    cond.append(F.col(f"l.{key}") < F.col(f"r.{key}"))
    return buckets.alias("l").join(buckets.alias("r"), cond)


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate pairs (a, b) with a < b sharing at least one post-policy
    bucket."""
    sig = minhash_signatures(df, text_col, key_col, n_hashes, k)
    ok, split_ok, _, _ = banded_bucket_frames(sig, [key_col], n_hashes, bands, max_bucket)
    return (
        _in_bucket_pairs(ok.unionByName(split_ok), key_col, ["band", "sig"])
        .select(F.col(f"l.{key_col}").alias("a"), F.col(f"r.{key_col}").alias("b"))
        .distinct()
    )


def _keyed_signatures(df, text_col, key_col, n_hashes, k, block_col):
    """(_k, [_blk], _sh, mh0..mh{n-1}) per key, from the declarative
    minhash_signatures (keys must be unique)."""
    rows = df.select(
        F.col(key_col).alias("_k"),
        *([F.col(block_col).alias("_blk")] if block_col is not None else []),
        shingles(text_col, k).alias("_sh"),
        F.col(text_col).alias("_t"),
    )
    return minhash_signatures(rows, "_t", "_k", n_hashes, k).join(rows.drop("_t"), "_k")


def lsh_similarity_edges(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 200,
    block_col: str | None = None,
) -> DataFrame:
    """Reference for resolution.lsh_similarity_edges(..., dedupe=False): the
    post-policy bucket self-join filtered by exact distinct-shingle Jaccard,
    one (src, dst) row per bucket occurrence."""
    blk = ["_blk"] if block_col is not None else []
    sig = _keyed_signatures(df, text_col, key_col, n_hashes, k, block_col)
    ok, split_ok, _, _ = banded_bucket_frames(
        sig, ["_k", "_sh", *blk], n_hashes, bands, max_bucket, blk
    )
    return (
        _in_bucket_pairs(ok.unionByName(split_ok), "_k", blk + ["band", "sig"])
        .where(
            F.size(F.array_intersect("l._sh", "r._sh")) / F.size(F.array_union("l._sh", "r._sh"))
            >= threshold
        )
        .select(F.col("l._k").alias("src"), F.col("r._k").alias("dst"))
    )


def bucket_histogram(
    df: DataFrame,
    text_col: str,
    key_col: str,
    n_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    max_bucket: int = 200,
    block_col: str | None = None,
) -> dict:
    """Reference for resolution.lsh_bucket_histogram, from the reference
    bucket frames."""
    blk = ["_blk"] if block_col is not None else []
    sig = _keyed_signatures(df, text_col, key_col, n_hashes, k, block_col)
    ok, split_ok, oversized, still_over = banded_bucket_frames(
        sig, ["_k", *blk], n_hashes, bands, max_bucket, blk
    )
    # one query, so the branches share the bucket exchanges
    zero = F.lit(0).cast("bigint").alias("count")
    rows = (
        ok.unionByName(split_ok).groupBy(*blk, "band", "sig").count()
        .select(F.lit("bucket").alias("kind"), "count")
        .unionByName(oversized.select(F.lit("split").alias("kind"), zero))
        .unionByName(still_over.select(F.lit("dropped").alias("kind"), zero))
        .collect()
    )
    sizes = [r["count"] for r in rows if r["kind"] == "bucket"]
    kinds = Counter(r["kind"] for r in rows)
    return {
        "hist_log2": dict(sorted(Counter(math.floor(math.log2(s)) for s in sizes).items())),
        "n_buckets": len(sizes),
        "max_bucket_size": max(sizes, default=0),
        "candidate_pairs": sum(s * (s - 1) // 2 for s in sizes),
        "split_buckets": kinds["split"],
        "dropped_buckets": kinds["dropped"],
    }
