"""MinHash recall/precision/cost curves for `dedup.minhash_lsh_pairs` at
bench scale — the ANN-recall methodology (tools/bench_ann_recall.py)
applied to the text near-dup path: `bands` and `threshold` are tuned blind
without a measured curve, and the banding S-curve plus the 64-hash
estimation noise both bite hardest exactly at the threshold.

Protocol (everything deterministic — md5-derived, no RNG state):

- corpus: 100k docs = 50k base docs (120 tokens each, 50k-word vocab,
  token = md5(doc,pos) — unrelated docs share no 3-shingle, so every
  emitted cross pair is measurable) + one PLANTED mutant per base doc
  (id + 10M) with a token-substitution rate cycling by id through
  {0, 2, 5, 10, 15, 20, 30}% — i.e. planted exact-Jaccard levels spread
  across ≈ {1.0, 0.9, 0.75, 0.55, 0.4, 0.3, 0.15}, straddling the 0.5
  threshold where tuning decisions live;
- exact ground truth: the TRUE shingle-set Jaccard of every planted pair,
  computed pairwise with the system's own shingle function
  (`dedup._shingle_hashes`, k=3) in one Arrow pass — O(N), no all-pairs;
- per bands in {8, 16, 32} (rows-per-band r = 8/4/2 over the 64-hash
  signature): ONE timed end-to-end `minhash_lsh_pairs(corpus, bands,
  threshold=0.5)` run (forced via noop write); recall is reported per
  true-Jaccard bucket (the empirical S-curve), precision as the fraction
  of emitted pairs whose TRUE Jaccard ≥ 0.5 (the est_jaccard >= 0.5
  filter admits near-threshold pairs whose true Jaccard is below — 64
  hashes ⇒ σ(est) ≈ 0.06 at j = 0.5).

Prints one JSON line per config and a final markdown table for BENCH.md
("MinHash recall/cost").
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from typing import Iterator, Tuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

from perfbench.inputs import materialize  # noqa: E402

N_BASE = int(os.environ.get("SPARK_GRAFT_BENCH_MINHASH_BASE", "50000"))
DOC_TOKENS = 120
VOCAB = 50000
MUT_ID_OFFSET = 10_000_000
#: substitution percent by base_id % 7
RATES = (0, 2, 5, 10, 15, 20, 30)
BANDS_GRID = (8, 16, 32)
THRESHOLD = 0.5
BUCKETS = ((0.5, 0.6), (0.6, 0.7), (0.7, 0.8), (0.8, 0.9), (0.9, 1.01))


def _tok(doc_id: int, pos: int) -> str:
    h = hashlib.md5(f"{doc_id}:{pos}".encode()).hexdigest()
    return f"w{int(h[:8], 16) % VOCAB:05d}"


def _mut_tok(doc_id: int, pos: int) -> str:
    h = hashlib.md5(f"{doc_id}:{pos}:mut".encode()).hexdigest()
    return f"m{int(h[:8], 16) % VOCAB:05d}"


def _mutated(doc_id: int, pos: int, rate: int) -> bool:
    h = hashlib.md5(f"{doc_id}:{pos}:flip".encode()).hexdigest()
    return int(h[:8], 16) % 100 < rate


def build_texts(doc_id: int) -> tuple[str, str]:
    """(base text, mutant text) for one base doc — pure function of the id."""
    rate = RATES[doc_id % len(RATES)]
    base, mut = [], []
    for pos in range(DOC_TOKENS):
        t = _tok(doc_id, pos)
        base.append(t)
        mut.append(_mut_tok(doc_id, pos) if _mutated(doc_id, pos, rate) else t)
    return " ".join(base), " ".join(mut)


def ensure_corpus(spark) -> str:
    """Materialize the N_BASE base docs and their mutants once; return the
    path."""

    def gen(batches):
        for pdf in batches:
            rows = {"doc_id": [], "text": []}
            for doc_id in pdf["doc_id"]:
                b, m = build_texts(int(doc_id))
                rows["doc_id"] += [int(doc_id), int(doc_id) + MUT_ID_OFFSET]
                rows["text"] += [b, m]
            yield pd.DataFrame(rows)

    def build(out):
        spark.range(N_BASE).toDF("doc_id").repartition(64).mapInPandas(
            gen, schema="doc_id long, text string"
        ).write.mode("overwrite").parquet(out)

    return materialize("/tmp", f"texteller_minhash_recall_{N_BASE}", build)


def exact_planted_jaccard(spark, corpus):
    """(base_id, exact_j) for every planted pair, via the system's own
    shingle function — one Arrow pass over the zipped pair texts."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from texteller_spark.operators.dedup import _shingle_hashes

    @F.pandas_udf(T.DoubleType())
    def jac(it: Iterator[Tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for ta, tb in it:
            out = []
            for a, b in zip(ta, tb):
                sa = set(_shingle_hashes(a, 3).tolist())
                sb = set(_shingle_hashes(b, 3).tolist())
                inter = len(sa & sb)
                out.append(inter / (len(sa) + len(sb) - inter))
            yield pd.Series(out)

    base = corpus.filter(F.col("doc_id") < MUT_ID_OFFSET).select(
        F.col("doc_id").alias("base_id"), F.col("text").alias("ta")
    )
    mut = corpus.filter(F.col("doc_id") >= MUT_ID_OFFSET).select(
        (F.col("doc_id") - MUT_ID_OFFSET).alias("base_id"),
        F.col("text").alias("tb"),
    )
    pairs = base.join(mut, "base_id")
    return pairs.select(
        "base_id", jac(F.col("ta"), F.col("tb")).alias("exact_j")
    )


def main():
    from pyspark.sql import functions as F

    from texteller_spark.operators.dedup import minhash_lsh_pairs, release_caches
    from texteller_spark.session import build_session

    spark = build_session("bench-minhash-recall")
    corpus = spark.read.parquet(ensure_corpus(spark))

    truth = exact_planted_jaccard(spark, corpus).cache()
    truth_hist = {
        f"{lo}-{hi if hi <= 1 else 1.0}": truth.filter(
            (F.col("exact_j") >= lo) & (F.col("exact_j") < hi)
        ).count()
        for lo, hi in BUCKETS
    }
    print(json.dumps({"truth_pairs_by_bucket": truth_hist}), flush=True)

    # one warmup pass (excluded): JIT, Python workers, OS page cache —
    # the same steady-state convention as bench.py
    minhash_lsh_pairs(corpus, bands=BANDS_GRID[0], threshold=THRESHOLD).write.format(
        "noop"
    ).mode("overwrite").save()
    release_caches()

    rows = []
    for bands in BANDS_GRID:
        t0 = time.perf_counter()
        pairs = minhash_lsh_pairs(
            corpus, bands=bands, threshold=THRESHOLD, shingle_k=3
        ).cache()
        n_emitted = pairs.count()
        wall = round(time.perf_counter() - t0, 3)

        def bucket_recall(found_df):
            out = {}
            for lo, hi in BUCKETS:
                key = f"{lo}-{hi if hi <= 1 else 1.0}"
                denom = truth_hist[key]
                got = found_df.filter(
                    (F.col("exact_j") >= lo) & (F.col("exact_j") < hi)
                ).count()
                out[key] = round(got / denom, 3) if denom else None
            return out

        planted = pairs.filter(
            F.col("id_b") - F.col("id_a") == MUT_ID_OFFSET
        ).select(F.col("id_a").alias("base_id"))
        found = planted.join(truth, "base_id").cache()
        rec = bucket_recall(found)
        n_true = found.filter(F.col("exact_j") >= THRESHOLD).count()
        precision = round(n_true / n_emitted, 3) if n_emitted else None
        pairs.unpersist()
        found.unpersist()
        release_caches()

        # untimed threshold-0 run: band-collision recall (candidate
        # generation alone) — the gap between band_recall and recall is
        # the 64-hash est_jaccard estimation loss at the threshold
        cand0 = minhash_lsh_pairs(
            corpus, bands=bands, threshold=0.0, shingle_k=3
        )
        planted0 = cand0.filter(
            F.col("id_b") - F.col("id_a") == MUT_ID_OFFSET
        ).select(F.col("id_a").alias("base_id"))
        found0 = planted0.join(truth, "base_id").cache()
        band_rec = bucket_recall(found0)
        found0.unpersist()
        release_caches()

        row = {
            "bands": bands,
            "rows_per_band": 64 // bands,
            "threshold": THRESHOLD,
            "sec": wall,
            "emitted_pairs": n_emitted,
            "precision_true_j": precision,
            "recall_by_true_j": rec,
            "band_recall_by_true_j": band_rec,
        }
        rows.append(row)
        print(json.dumps(row), flush=True)

    hdr = " | ".join(f"[{lo},{min(hi,1.0)})" for lo, hi in BUCKETS)
    print(
        f"\n| bands | r | sec | pairs | precision | recall (band) @true-j: {hdr} |"
    )
    print("| --- | --- | --- | --- | --- | " + " | ".join("---" for _ in BUCKETS) + " |")
    for r in rows:
        cells = " | ".join(
            f"{v} ({b})"
            for v, b in zip(
                r["recall_by_true_j"].values(), r["band_recall_by_true_j"].values()
            )
        )
        print(
            f"| {r['bands']} | {r['rows_per_band']} | {r['sec']} | "
            f"{r['emitted_pairs']} | {r['precision_true_j']} | {cells} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
