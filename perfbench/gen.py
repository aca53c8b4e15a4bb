"""Seeded input generator for the KG-build benchmark, run as its own step.

    python3 perfbench/gen.py --workload kg_widevocab --seed 42 --out DIR

Writes the workload's transcripts under DIR as multi-file parquet and fills
the flagship model cache (`__spark_entry__._model_dir()`), so the timed
program receives only parquet files and an already-trained model directory.
Run from the root of a checkout; the model cache lands in the process's
temp directory (TMPDIR). Prints one JSON line describing what it wrote:

    {"model_dir": ..., "turns": ..., "conversations": ...,
     "parts": {"corpus": DIR} or {"base": DIR, "batches": [DIR, ...]}}

The same (workload, seed) always writes the same rows.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Sizes are set for a 4-core host so that one benchmark run (JVM launch, cold
# build, two or three checked warm builds with their resumes, session
# restarts) ends in about a minute. At these sizes a build is bound by the latency of its
# ~65 Spark jobs more than by the rows it moves.
WORKLOADS = {
    # syllable-built names: distinct surfaces grow with turns (about 2.8 a
    # turn here), so the resolution layer (LSH buckets, CC collect,
    # assignment join) does the most data-bound work of a build.
    "kg_widevocab": {"conversations": 200, "vocab_scale": 10, "files": 8},
    # a base graph with the plain name pools (distinct surfaces stay near
    # 10k whatever the turn count), then small appended batches.
    "kg_incremental": {
        "conversations": 200,
        "vocab_scale": 1,
        "files": 4,
        "batch_conversations": 50,
        "batches": 6,
    },
}

DEFAULT_SEED = 42
HELDOUT_SEED = 7


def _write_parquet(pdf, path: str, n_files: int) -> str:
    """pdf rows -> n_files conversation-aligned parquet files under path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    convs = pdf["conv_id"].drop_duplicates().tolist()
    per_file = -(-len(convs) // n_files)
    for i in range(n_files):
        chunk = convs[i * per_file : (i + 1) * per_file]
        if not chunk:
            break
        # Spark's parquet reader rejects nanosecond timestamps
        pq.write_table(
            pa.Table.from_pandas(pdf[pdf["conv_id"].isin(chunk)], preserve_index=False),
            os.path.join(path, f"part-{i:04d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    return path


def generate(workload: str, seed: int, out: str) -> dict:
    from nametag_spark.data.synth import synth_transcripts

    spec = WORKLOADS[workload]
    n_base = spec["conversations"]
    n_batch = spec.get("batch_conversations", 0)
    n_total = n_base + n_batch * spec.get("batches", 0)
    tdf, _gold = synth_transcripts(
        n_conversations=n_total, seed=seed, vocab_scale=spec["vocab_scale"]
    )
    info = {"turns": int(len(tdf)), "conversations": n_total}
    if not n_batch:
        info["parts"] = {"corpus": _write_parquet(tdf, os.path.join(out, "corpus"), spec["files"])}
        return info
    conv_idx = tdf["conv_id"].str.slice(5).astype(int)
    info["parts"] = {
        "base": _write_parquet(tdf[conv_idx < n_base], os.path.join(out, "base"), spec["files"]),
        "batches": [
            _write_parquet(
                tdf[(conv_idx >= lo) & (conv_idx < lo + n_batch)],
                os.path.join(out, f"batch-{b:04d}"),
                1,
            )
            for b, lo in enumerate(range(n_base, n_total, n_batch))
        ],
    }
    return info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, os.getcwd())
    import __spark_entry__

    info = generate(args.workload, args.seed, args.out)
    info["model_dir"] = __spark_entry__._model_dir()
    print(json.dumps(info))
    return 0


if __name__ == "__main__":
    sys.exit(main())
