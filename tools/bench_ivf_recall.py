"""IVF ANN recall/cost curves for `similarity.ivf_ann_join` at bench scale.

Same protocol as tools/bench_ann_recall.py (same 100k×64 clustered-blob
corpus, same every-397th-vector query set, same numpy exact baseline) so
the two families are directly comparable on the geometry a near-dup /
decontamination workload actually has. Grid: nlist (coarse-quantizer
size) × nprobe (lists probed per query); the quantizer is kmeans_fit
(2 Lloyd rounds) trained once per nlist and its training
wall time reported separately — at production scale the quantizer is a
once-per-corpus artifact, not a per-query cost.

The comparison this measures: banded hyperplane LSH (`ann_join`) buckets
UNIFORMLY, so on clustered data deep signatures are needed to keep
buckets small (BENCH.md "ANN recall/cost"); IVF's partition is LEARNED,
so probed-list size tracks the actual cluster structure.

Prints one JSON line per config and a final markdown table for BENCH.md
("IVF recall/cost").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_ann_recall import (  # noqa: E402
    K,
    QUERY_STRIDE,
    ensure_emb_corpus,
    exact_topk,
)

#: UNIFORM=1 swaps the clustered-blob corpus for an unclustered
#: hash-derived uniform corpus (same recipe as the blob noise, no blob
#: centers) — the control measuring the claim that IVF's advantage is the
#: LEARNED structure: with nothing to learn, k-means lists are arbitrary
#: Voronoi cells and probing few lists must lose mid-cosine neighbors
UNIFORM = os.environ.get("SPARK_GRAFT_BENCH_EMB_UNIFORM", "0") == "1"
#: (nlist, [nprobe...]) — one quantizer fit per nlist, shared across probes
GRID = [
    (64, [1, 2, 4]),
    (256, [1, 2, 4, 8]),
    (1024, [1, 4, 8, 16]),
]


def main():
    from pyspark.sql import functions as F

    from texteller_spark.operators.clustering import kmeans_fit
    from texteller_spark.operators.similarity import ivf_ann_join
    from texteller_spark.session import build_session

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(ensure_emb_corpus(spark, uniform=UNIFORM))
    queries = corpus.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    exact = exact_topk(corpus)

    results = []
    for nlist, probes_list in GRID:
        t0 = time.monotonic()
        cents = kmeans_fit(corpus, k=nlist, iters=2).select("cid", "cent")
        cents = cents.persist()
        cents.count()
        train_sec = time.monotonic() - t0
        for nprobe in probes_list:
            t0 = time.monotonic()
            res = ivf_ann_join(
                queries, corpus, cents, k=1_000_000, nprobe=nprobe
            ).persist()
            n_cand = res.count()  # forces the full join end-to-end
            top = (
                res.filter(F.col("rnk") <= K + 1)
                .select("query_id", "rnk", "neighbor_id")
                .collect()
            )
            wall = time.monotonic() - t0
            res.unpersist()
            # top-K by rank, not by collect order
            byq = {}
            for q, _, n in sorted(map(tuple, top)):
                if n != q:
                    byq.setdefault(q, []).append(n)
            hits = sum(len(set(byq.get(q, [])[:K]) & e) for q, e in exact.items())
            row = {
                "nlist": nlist,
                "nprobe": nprobe,
                "recall_at_10": round(hits / (K * len(exact)), 3),
                "avg_candidates_per_query": round(n_cand / len(exact), 1),
                "train_sec": round(train_sec, 2),
                "wall_sec": round(wall, 2),
            }
            results.append(row)
            print(json.dumps(row), flush=True)
        cents.unpersist()

    print("\n| nlist | nprobe | recall@10 | avg candidates/query | train (s) | join (s) |")
    print("| --- | --- | --- | --- | --- | --- |")
    for r in results:
        print(
            f"| {r['nlist']} | {r['nprobe']} | {r['recall_at_10']:.3f} | "
            f"{r['avg_candidates_per_query']} | {r['train_sec']} | {r['wall_sec']} |"
        )


if __name__ == "__main__":
    main()
