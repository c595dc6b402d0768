"""Shuffle-volume evidence for the signature-free MinHash band exchange.

Wall time on one host barely moves (the band join is CPU-cheap locally),
but the rewrite's claim is about NETWORK bytes at cluster scale: the old
shape shuffled the full 64-long signature once per band (16x at the
default) through the band self-join. This tool measures total shuffle
WRITE bytes for the same pair query under both shapes on the same corpus
(the planted-mutation corpus of tools/bench_minhash_recall.py), reading
per-stage metrics from Spark's status store (tools/stages.py) under the
engine's own session settings.

The OLD shape is reconstructed inline (band rows carry the signature
column through the exchange; est_jaccard computed directly on the joined
rows) — byte-for-byte the pre-rewrite plan shape, emitting the identical
pair set.

Usage: python tools/bench_minhash_shuffle.py  (after the recall corpus
exists; builds it otherwise). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_minhash_recall import ensure_corpus  # noqa: E402
from tools.stages import completed_stages  # noqa: E402

BANDS = 16
THRESHOLD = 0.5


def main():
    from pyspark.sql import functions as F

    from texteller_spark.operators.dedup import (
        _N_HASHES,
        _materialize,
        minhash_lsh_pairs,
        release_caches,
        with_minhash,
    )
    from texteller_spark.session import build_session, default_parallelism

    spark = build_session(
        "bench-minhash-shuffle", shuffle_partitions=2 * default_parallelism()
    )
    corpus = spark.read.parquet(ensure_corpus(spark))

    def old_style_pairs(df):
        """Pre-rewrite plan shape: the signature rides the band exchange."""
        rpb = _N_HASHES // BANDS
        sigs = _materialize(with_minhash(df, "text", 3).select("doc_id", "minhash"))
        banded = sigs.select(
            F.col("doc_id").alias("id"),
            "minhash",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(BANDS - 1)),
                    lambda b: F.slice("minhash", b * rpb + 1, rpb),
                )
            ).alias("band_id", "band_hash"),
        )
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b,
                on=[
                    F.col("a.band_id") == F.col("b.band_id"),
                    F.col("a.band_hash") == F.col("b.band_hash"),
                    F.col("a.id") < F.col("b.id"),
                ],
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.minhash").alias("sig_a"),
                F.col("b.minhash").alias("sig_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        agree = F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
        )
        return (
            cand.withColumn("est_jaccard", agree / F.lit(_N_HASHES))
            .filter(F.col("est_jaccard") >= THRESHOLD)
            .select("id_a", "id_b", "est_jaccard")
        )

    results = {}
    for label, build in (
        ("new_signature_free", lambda: minhash_lsh_pairs(
            corpus, bands=BANDS, threshold=THRESHOLD, shingle_k=3
        )),
        ("old_signature_rides_bands", lambda: old_style_pairs(corpus)),
    ):
        before = sum(s["shuffle_write_bytes"] for s in completed_stages(spark))
        t0 = time.perf_counter()
        n = build().count()
        wall = round(time.perf_counter() - t0, 1)
        release_caches()
        after = sum(s["shuffle_write_bytes"] for s in completed_stages(spark))
        results[label] = {
            "pairs": n,
            "shuffle_write_mb": round((after - before) / 1e6, 1),
            "sec": wall,
        }

    new_mb = results["new_signature_free"]["shuffle_write_mb"]
    old_mb = results["old_signature_rides_bands"]["shuffle_write_mb"]
    assert (
        results["new_signature_free"]["pairs"]
        == results["old_signature_rides_bands"]["pairs"]
    )
    print(
        json.dumps(
            {
                "corpus_docs": corpus.count(),
                "bands": BANDS,
                **results,
                "shuffle_reduction": round(old_mb / new_mb, 2) if new_mb else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
