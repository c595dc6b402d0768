"""ANN recall/cost curves for `similarity.ann_join` at bench scale.

The r3 verdict's residual: `ann_join`'s recall was only pinned on toy
fixtures — "a decontamination run at 10^9 rows needs a recall/cost curve
(bits × bands × probes) measured at the 100k bench scale, or users will
tune blind". This tool measures exactly that:

- corpus: the 100k×64 clustered-blob embedding corpus of
  `ensure_emb_corpus` below (128 hash-placed blob centers, ±0.3 noise),
  which bench.py and the other embedding tools share — the geometry a
  near-dup / decontamination workload actually has;
- queries: every 397th corpus vector (252 queries), self-match excluded on
  both sides;
- exact baseline: `exact_topk` below, numpy brute-force cosine top-k per
  query (rounded to 4 digits, the operator's own determinism convention)
  — 252×100k×64 flops, driver-side, shared with tools/bench_ivf_recall.py;
- per config (bits × bands × probes): ONE ann_join run with k large enough
  to return every admitted candidate; recall@10 is derived from rnk<=10,
  candidate cost from the full result size; wall time is the forced
  end-to-end run.

Prints one JSON line per config and a final markdown table for BENCH.md
("ANN recall/cost").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from perfbench.inputs import materialize  # noqa: E402

N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
QUERY_STRIDE = 397
K = 10
# keep r = bits/bands >= 8: at 100k rows a band with 2^r buckets admits
# ~n/2^r candidates per band, so r < 8 (e.g. 16 bits / 4 bands) degenerates
# toward scanning the corpus (measured 23k candidates/query) — the grid
# varies sharpness (r), redundancy (bands), and multiprobe depth instead
CONFIGS = [
    (16, 2, 0), (16, 2, 8), (16, 2, 16),
    (24, 2, 0), (24, 2, 8), (24, 2, 16),
    (24, 3, 0), (24, 3, 8), (24, 3, 16),
    (32, 4, 0), (32, 4, 8), (32, 4, 16),
]


def ensure_emb_corpus(spark, uniform: bool = False) -> str:
    """Materialize N_DOCS 64-dim vectors once and return their path.

    Default: 128 hash-placed blobs (blob = vec_id % 128, ±0.3 noise), the
    clustered geometry semantic dedup presumes. Uniform random data would
    be wrong twice over — Voronoi cells of arbitrary seeds in 64-dim are
    massively skewed (one mega-cluster ~ half the corpus, re-deriving the
    O(n^2) pair join the operators exist to avoid), and near-dup structure
    wouldn't exist to find. Rows 0..127 are blob centers themselves, so
    Forgy seeds land one per blob.

    ``uniform=True``: the unclustered control of tools/bench_ivf_recall.py
    — the same hash recipe with no blob centers."""
    from pyspark.sql import functions as F

    blob = F.col("id") % 128

    def comp(i):
        if uniform:
            u = (F.pmod(F.hash(F.col("id"), F.lit(i)), F.lit(2001)) - 1000) / 1000.0
            return u.cast("float")
        center = (F.pmod(F.hash(blob, F.lit(i)), F.lit(2001)) - 1000) / 1000.0
        noise = (F.pmod(F.hash(F.col("id"), F.lit(i + 64)), F.lit(601)) - 300) / 1000.0
        return (center + F.when(F.col("id") < 128, 0.0).otherwise(noise)).cast("float")

    def build(out):
        arr = F.array(*[comp(i) for i in range(64)])
        spark.range(N_DOCS).select(
            F.col("id").alias("vec_id"), arr.alias("embedding")
        ).repartition(64).write.mode("overwrite").parquet(out)

    key = f"texteller_embs_{N_DOCS}" + ("_uniform" if uniform else "")
    return materialize("/tmp", key, build)


def exact_topk(corpus) -> dict[int, set[int]]:
    """The exact baseline: cosine top-K of every QUERY_STRIDE-th vector,
    self-match excluded, by numpy brute force on the driver (bench tools
    only), with cosines rounded to 4 digits like the operators'. Prints the
    corpus and query counts."""
    rows = corpus.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    q_mask = ids % QUERY_STRIDE == 0
    sims = np.round(unit[q_mask] @ unit.T, 4)
    exact = {}
    for qi, qid in enumerate(ids[q_mask]):
        # K + 1 candidates leave K after dropping the self-match
        order = np.argsort(-sims[qi], kind="stable")[: K + 1]
        exact[int(qid)] = set([int(ids[j]) for j in order if ids[j] != qid][:K])
    print(
        json.dumps({"n_corpus": int(len(ids)), "n_queries": len(exact)}),
        flush=True,
    )
    return exact


def main():
    from pyspark.sql import functions as F

    from texteller_spark.operators.dedup import release_caches
    from texteller_spark.operators.similarity import ann_join
    from texteller_spark.session import build_session

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(ensure_emb_corpus(spark))
    queries = corpus.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    exact = exact_topk(corpus)

    results = []
    for bits, bands, probes in CONFIGS:
        t0 = time.monotonic()
        got = ann_join(
            queries, corpus, dim=64, k=1_000_000,
            bits=bits, bands=bands, probes=probes,
        ).collect()
        wall = time.monotonic() - t0
        release_caches()
        byq_top, byq_all = {}, {}
        for r in got:
            if r["neighbor_id"] == r["query_id"]:
                continue
            byq_all.setdefault(r["query_id"], []).append(r["neighbor_id"])
            if r["rnk"] <= K + 1:  # +1 headroom for the excluded self-match
                byq_top.setdefault(r["query_id"], []).append(r["neighbor_id"])
        hits = sum(
            len(set(byq_top.get(q, [])[:K]) & e) for q, e in exact.items()
        )
        recall = hits / (K * len(exact))
        cand = sum(len(v) for v in byq_all.values()) / len(exact)
        row = {
            "bits": bits, "bands": bands, "probes": probes,
            "recall_at_10": round(recall, 3),
            "avg_candidates_per_query": round(cand, 1),
            "wall_sec": round(wall, 2),
        }
        results.append(row)
        print(json.dumps(row), flush=True)

    print("\n| bits | bands | probes | recall@10 | avg candidates/query | sec |")
    print("| --- | --- | --- | --- | --- | --- |")
    for r in results:
        print(
            f"| {r['bits']} | {r['bands']} | {r['probes']} | "
            f"{r['recall_at_10']:.3f} | {r['avg_candidates_per_query']} | "
            f"{r['wall_sec']} |"
        )


if __name__ == "__main__":
    main()
