"""Recall/cost curve for `similarity.lsh_near_dup_pairs` at bench scale —
the r4 verdict's missing #3 / Next #4: the embedding near-dup DEDUP path
(bits=32, bands=4 catalog defaults) had recall pinned only on small
fixtures, while `ann_join` and MinHash both got measured curves. Emitted
pairs are verified with the exact JVM cosine, so precision is 1.0 by
construction — the tuned-blind quantity is RECALL: the probability a true
pair shares at least one band bucket, 1-(1-(1-θ/π)^r)^bands with
r = bits/bands.

Protocol (deterministic — a fixed-seed RandomState drives everything):

- corpus: 100k×64 = 50k unit-normalized base vectors + one planted mutant
  per base (id + 10M), built by spherical interpolation toward an
  orthogonalized noise direction so the planted TRUE cosine cycles by id
  through {1.0, 0.99, 0.95, 0.90, 0.80, 0.70, 0.50} — dense where dedup
  thresholds live, straddling the catalog's 0.45 admission;
- ground truth: the exact rounded cosine of every planted pair, numpy
  driver-side (O(N), never all-pairs). Unplanted cross pairs the operator
  emits are exact-verified by construction, so they don't enter recall;
- per config (bits × bands): ONE forced end-to-end run at the catalog's
  threshold=0.45; recall reported per true-cosine bucket, plus emitted
  pair count and wall time.

Prints one JSON line per config and a markdown table for BENCH.md
("Embedding near-dup recall/cost").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from perfbench.inputs import materialize  # noqa: E402

N_BASE = int(os.environ.get("SPARK_GRAFT_LSH_RECALL_BASE", "50000"))
DIM = 64
MUT_ID_OFFSET = 10_000_000
COSINES = (1.0, 0.99, 0.95, 0.90, 0.80, 0.70, 0.50)
THRESHOLD = 0.45
#: (bits, bands) grid — r = bits/bands is the bucket sharpness: r=8 means
#: only 2^8 buckets per band, so uniform 100k vectors put ~390 in each and
#: the verify stage inherits ~bands*n^2/2^(r+1) candidate pairs (~78M for
#: the catalog default at this scale); r=16 gives 65536 buckets and
#: thousands-fold fewer candidates at lower mid-cosine recall.
#: Override per-run: SPARK_GRAFT_LSH_RECALL_CONFIGS="32x4,64x4".
CONFIGS = [
    tuple(int(x) for x in c.split("x"))
    for c in os.environ.get(
        "SPARK_GRAFT_LSH_RECALL_CONFIGS", "32x4,64x4,128x8,256x16"
    ).split(",")
]
BUCKETS = ((0.45, 0.6), (0.6, 0.8), (0.8, 0.93), (0.93, 0.97), (0.97, 0.995), (0.995, 1.01))


def build_vectors() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(base (N,64), mutant (N,64), true rounded cosine (N,)) — mutant i =
    slerp of base i toward an orthogonal unit direction at the angle whose
    cosine is COSINES[i % len]."""
    rng = np.random.RandomState(42)
    base = rng.normal(size=(N_BASE, DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noise = rng.normal(size=(N_BASE, DIM))
    # orthogonalize noise against base, normalize
    noise -= (noise * base).sum(axis=1, keepdims=True) * base
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    target = np.asarray([COSINES[i % len(COSINES)] for i in range(N_BASE)])
    theta = np.arccos(np.clip(target, -1, 1))[:, None]
    mut = np.cos(theta) * base + np.sin(theta) * noise
    true_cos = np.round((base * mut).sum(axis=1), 4)
    return base.astype(np.float32), mut.astype(np.float32), true_cos


def ensure_corpus(spark, base, mut) -> str:
    import pandas as pd

    def build(out):
        ids = np.arange(N_BASE)
        pdf = pd.DataFrame(
            {
                "vec_id": np.concatenate([ids, ids + MUT_ID_OFFSET]),
                "embedding": list(base) + list(mut),
            }
        )
        spark.createDataFrame(pdf).repartition(64).write.mode("overwrite").parquet(out)

    return materialize("/tmp", f"texteller_lshnd_recall_{N_BASE}", build)


def main():
    from texteller_spark.operators.dedup import release_caches
    from texteller_spark.operators.similarity import lsh_near_dup_pairs
    from texteller_spark.session import build_session, default_parallelism

    spark = build_session(
        "bench-lsh-neardup-recall", shuffle_partitions=2 * default_parallelism()
    )
    base, mut, true_cos = build_vectors()
    df = spark.read.parquet(ensure_corpus(spark, base, mut))

    # planted ground truth at the operator's own admission convention
    planted = {
        i: c for i, c in enumerate(true_cos) if c >= THRESHOLD
    }

    rows_md = []
    for bits, bands in CONFIGS:
        release_caches()
        t0 = time.perf_counter()
        pairs = lsh_near_dup_pairs(
            df, dim=DIM, threshold=THRESHOLD, bits=bits, bands=bands
        )
        got = pairs.collect()
        wall = round(time.perf_counter() - t0, 1)
        release_caches()
        hit = {
            r["id_a"]
            for r in got
            if r["id_b"] == r["id_a"] + MUT_ID_OFFSET and r["id_a"] in planted
        }
        per_bucket = {}
        for lo, hi in BUCKETS:
            in_b = [i for i, c in planted.items() if lo <= c < hi]
            per_bucket[f"[{lo},{hi})"] = (
                round(len([i for i in in_b if i in hit]) / len(in_b), 3)
                if in_b
                else None
            )
        overall = round(len(hit) / len(planted), 3)
        rec = {
            "bits": bits,
            "bands": bands,
            "r": bits // bands,
            "recall_overall": overall,
            "recall_by_true_cos": per_bucket,
            "pairs_emitted": len(got),
            "wall_sec": wall,
        }
        print(json.dumps(rec))
        rows_md.append(rec)

    hdr = " | ".join(f"[{lo},{hi})" for lo, hi in BUCKETS)
    print(f"\n| bits | bands | r | {hdr} | overall | pairs | wall (s) |")
    print("| --- | --- | --- |" + " --- |" * (len(BUCKETS) + 3))
    for r in rows_md:
        cells = " | ".join(
            str(v) for v in r["recall_by_true_cos"].values()
        )
        print(
            f"| {r['bits']} | {r['bands']} | {r['r']} | {cells} | "
            f"{r['recall_overall']} | {r['pairs_emitted']} | {r['wall_sec']} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
