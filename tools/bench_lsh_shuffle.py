"""Shuffle-volume evidence for the vector-free embedding-LSH band exchange
(the r3 verdict's #1 finding, fixed this round) — the embedding-side twin
of tools/bench_minhash_shuffle.py.

Runs the SAME near-dup pair query on the bench's 100k×64 clustered-blob
embedding corpus under both plan shapes — the pre-rewrite shape (the
vector + norm ride the band self-join ``bands`` times, reconstructed
byte-for-byte from the pre-fix source) and the shipped vector-free shape
(`similarity.lsh_near_dup_pairs`) — and reads per-stage shuffle-write
totals from Spark's status store (tools/stages.py). Identical pair output
is asserted. The corpus is tools/bench_ann_recall.py's.

Usage: python tools/bench_lsh_shuffle.py. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_ann_recall import N_DOCS, ensure_emb_corpus  # noqa: E402
from tools.stages import completed_stages  # noqa: E402

DIM, BITS, BANDS, THRESHOLD = 64, 32, 4, 0.9


def main():
    from pyspark.sql import functions as F

    from texteller_spark.operators.dedup import _materialize, release_caches
    from texteller_spark.operators.similarity import (
        lsh_near_dup_pairs,
        with_lsh_bands,
    )
    from texteller_spark.session import build_session, default_parallelism

    spark = build_session(
        "bench-lsh-shuffle", shuffle_partitions=2 * default_parallelism()
    )
    corpus = spark.read.parquet(ensure_emb_corpus(spark))

    def old_style_pairs(df):
        """Pre-rewrite plan shape: _v/_nrm ride the band self-join."""
        norm = F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        base = df.select(F.col("vec_id"), F.col("embedding"), norm.alias("_nrm")).filter(
            F.col("_nrm") > 0
        )
        sigs = _materialize(
            with_lsh_bands(base, DIM, BITS, BANDS, "embedding").select(
                F.col("vec_id").alias("id"),
                F.col("embedding").alias("_v"),
                "_nrm",
                "bands",
            )
        )
        banded = sigs.select(
            "id", "_v", "_nrm", F.posexplode("bands").alias("band_id", "band_val")
        )
        a, b = banded.alias("a"), banded.alias("b")
        cand = (
            a.join(
                b,
                on=[
                    F.col("a.band_id") == F.col("b.band_id"),
                    F.col("a.band_val") == F.col("b.band_val"),
                    F.col("a.id") < F.col("b.id"),
                ],
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a._v").alias("_va"),
                F.col("a._nrm").alias("_na"),
                F.col("b._v").alias("_vb"),
                F.col("b._nrm").alias("_nb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        dot = F.aggregate(
            F.zip_with(
                F.col("_va"), F.col("_vb"), lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            cand.withColumn("cosine", F.round(dot / (F.col("_na") * F.col("_nb")), 4))
            .filter(F.col("cosine") >= F.lit(THRESHOLD))
            .select("id_a", "id_b", "cosine")
        )

    results = {}
    for label, build in (
        ("new_vector_free", lambda: lsh_near_dup_pairs(
            corpus, dim=DIM, threshold=THRESHOLD, bits=BITS, bands=BANDS
        )),
        ("old_vector_rides_bands", lambda: old_style_pairs(corpus)),
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

    new_mb = results["new_vector_free"]["shuffle_write_mb"]
    old_mb = results["old_vector_rides_bands"]["shuffle_write_mb"]
    assert results["new_vector_free"]["pairs"] == results["old_vector_rides_bands"]["pairs"]
    print(
        json.dumps(
            {
                "corpus_docs": N_DOCS,
                "dim": DIM,
                "bits": BITS,
                "bands": BANDS,
                **results,
                "shuffle_reduction": round(old_mb / new_mb, 2) if new_mb else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
