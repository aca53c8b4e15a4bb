"""Multimodal column plumbing (task brief §ops).

Image/audio/video payloads are opaque `binary` columns with typed metadata;
decode / feature-extract / resize run as Arrow-batched
mapInPandas transforms. The actual codec work is STUBBED (no image/audio
libraries in this container): `decoder="fake"` produces deterministic
hash-derived features so the Spark-side plumbing — schema, batching,
partitioning, UDF signatures — is real and tested; `decoder="real"` raises
NotImplementedError at the clearly-marked seam where PIL/ffmpeg would go.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

ASSET_SCHEMA = "asset_id long, kind string, data binary, width int, height int, duration_ms int"

FEATURES_SCHEMA = "asset_id long, kind string, feature array<float>, feat_dim int"


def synth_asset_rows(n: int = 64, seed: int = 42) -> list:
    """Deterministic fake asset rows (plain Python — also used to compute
    pinned oracle values without a SparkSession)."""
    rng = np.random.RandomState(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.bytes(256 + (i % 7) * 64)
        rows.append(
            (
                i,
                kind,
                bytearray(payload),
                64 + (i % 5) * 32 if kind != "audio" else None,
                48 + (i % 3) * 16 if kind != "audio" else None,
                1000 * (1 + i % 30) if kind != "image" else None,
            )
        )
    return rows


def fake_resized_pixels(data: bytes, out_w: int, out_h: int) -> bytes:
    """The decoder='fake' resize payload (tiled to out_w*out_h*3 bytes)."""
    n_out = out_w * out_h * 3
    reps = n_out // max(1, len(data)) + 1
    return (data * reps)[:n_out]


def synth_assets(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake binary assets for tests/benchmarks."""
    return spark.createDataFrame(synth_asset_rows(n, seed), ASSET_SCHEMA)


def _fake_feature(data: bytes, dim: int) -> np.ndarray:
    """Deterministic pseudo-embedding from the payload hash (the stub for a
    real encoder)."""
    h = hashlib.sha256(data).digest()
    seed = int.from_bytes(h[:8], "big") % (2**31)
    return np.random.RandomState(seed).randn(dim).astype(np.float32)


def extract_features(df: DataFrame, dim: int = 32, decoder: str = "fake") -> DataFrame:
    """binary payload -> feature vector, one Arrow batch at a time."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                # real decode seam: PIL.Image.open / torchaudio.load / ffmpeg
                raise NotImplementedError(
                    "real decoders are not available in this environment; "
                    "use decoder='fake' for the deterministic stub"
                )
            feats = [
                _fake_feature(bytes(d) if d is not None else b"", dim) for d in pdf["data"]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "feature": [f.tolist() for f in feats],
                    "feat_dim": dim,
                }
            )

    return df.select("asset_id", "kind", "data").mapInPandas(fn, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = "asset_id long, width int, height int, out_w int, out_h int, pixels binary"


def resize_images(df: DataFrame, out_w: int = 32, out_h: int = 32, decoder: str = "fake") -> DataFrame:
    """image -> fixed-size RGB buffer (out_w*out_h*3 bytes).

    decoder='fake' emits a deterministic byte buffer derived from the
    payload (tiled + length-stamped) so the batching/schema/size contract is
    real and testable; decoder='real' is the PIL seam."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder == "real":
                # real decode seam: PIL.Image.open(io.BytesIO(data)).resize(...)
                raise NotImplementedError(
                    "real image decode requires PIL; use decoder='fake'"
                )
            out = {"asset_id": [], "width": [], "height": [], "out_w": [], "out_h": [], "pixels": []}
            for aid, w, h, data in zip(pdf["asset_id"], pdf["width"], pdf["height"], pdf["data"]):
                if data is None:
                    continue
                buf = fake_resized_pixels(bytes(data), out_w, out_h)
                out["asset_id"].append(aid)
                out["width"].append(w)
                out["height"].append(h)
                out["out_w"].append(out_w)
                out["out_h"].append(out_h)
                out["pixels"].append(bytearray(buf))
            yield pd.DataFrame(out)

    return (
        df.where("kind = 'image'")
        .select("asset_id", "width", "height", "data")
        .mapInPandas(fn, schema=RESIZED_SCHEMA)
    )

