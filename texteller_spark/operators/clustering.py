"""Embedding-space clustering for corpus curation: distributed Lloyd
k-means and SemDeDup-style within-cluster semantic deduplication.

Cluster-then-dedup is the published recipe for semantic-level pruning of
web-scale corpora (SemDeDup, Abbas et al. 2023: k-means the embeddings,
then drop near-identical pairs *within* each cluster so the pair space is
bounded by cluster size instead of corpus size — the same
candidate-bounding idea as the LSH band joins in ``dedup``/``similarity``,
but driven by a learned partition of the embedding space). The reference
repo has no clustering stage — this is training-data-pipeline surface on
top of the reference's extraction semantics (reference analog: none).

One engine, shaped like Spark MLlib's KMeans: the k-row centroid model
round-trips through the driver (an O(k*d) aggregate — see
:func:`_collect_centroids`), so assignment is one BLAS matmul per Arrow
batch, each Lloyd update is one k-key hash exchange with map-side partial
per-dimension ``avg``, and the SemDeDup pair decisions resolve per
cluster in one grouped Arrow batch. Nothing is persisted, so no operator
here leaves a cache to release.

At 10^12 rows you raise ``k`` with the corpus (SemDeDup uses ~100k
clusters) and the pair space never degenerates toward the O(n²) exact
baseline.

Determinism across layouts: seeds are the k lowest-id rows (Forgy init —
oracle-expressible, no RNG), every distance and every round-boundary
centroid is rounded to ``round_digits`` BEFORE any comparison, and all
tie-breaks are (value, id). The BLAS distance forms differ from the SQL
oracles' sequential sums only far below the rounding digit (pinned by
``tests/test_plan_quality.py::test_blas_distance_forms_round_like_sequential_sums``).
Empty clusters keep their previous centroid, mirrored in the SQL oracle.

At 100k-cluster scale the centroid matrix every assignment kernel carries
is k*d doubles (~600 MB at k=100k, d=768) — shard it and take the argmin
of per-shard argmins; the k=8 catalog entry documents the small-k shape.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import arrow_matrix_udf, vector_matrix

__all__ = ["seed_centroids", "assign_clusters", "kmeans_fit", "semantic_dedup"]


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


#: doubles per similarity block in :func:`semantic_dedup` (~1 GiB): a
#: cluster of n rows is compared ``max(1, budget // n)`` columns at a time
_SIM_BLOCK_DOUBLES = 1 << 27


def seed_centroids(df: DataFrame, k: int, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Forgy-style seeds: the ``k`` lowest-id rows as ``(cid, cent)`` with
    ``cid`` = the seed row's id. Deterministic, layout-independent, and
    SQL-expressible (no RNG) — planned as TakeOrderedAndProject, never a
    global sort."""
    return (
        df.select(F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cent"))
        .orderBy("cid")
        .limit(k)
    )


def _collect_centroids(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Bring the k-row centroid table to the driver, sorted by cid.

    This is the ONE sanctioned driver-side collect in the package: an
    O(k*d) model aggregate (kilobytes-to-megabytes, NEVER a function of
    corpus size) — the same round-trip Spark MLlib's own KMeans performs
    every Lloyd iteration. It buys distances as a single BLAS matmul per
    batch instead of per-element interpreted higher-order functions (~30x
    measured at 100k x 64 x k=64)."""
    rows = centroids.select("cid", "cent").collect()
    rows.sort(key=lambda r: r.cid)
    cids = np.array([r.cid for r in rows], dtype=np.int64)
    mat = np.array([r.cent for r in rows], dtype=np.float64)
    return cids, mat


def _arrow_assign_udf(cids: np.ndarray, cents: np.ndarray, round_digits: int):
    """cid column via numpy: rounded squared-L2 argmin against the driver
    centroid matrix. ``cids`` is sorted ascending, and np.argmin returns
    the FIRST minimum, so ties break to the lowest cid — the contract of
    the SQL oracles' ``ORDER BY ROUND(d2, n), cid``."""
    c_sq = (cents * cents).sum(axis=1)

    def assign(mat: np.ndarray) -> np.ndarray:
        d2 = (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ cents.T) + c_sq
        return cids[np.argmin(np.round(d2, round_digits), axis=1)]

    return arrow_matrix_udf(assign, T.LongType())


def assign_clusters(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """+ ``cid`` column: nearest centroid by squared L2 (rounded before
    comparison; ties break to the lowest cid). Map-only — the embedding
    column never shuffles: one O(k*d) driver collect of the centroids (see
    :func:`_collect_centroids`), then a BLAS matmul per Arrow batch."""
    cids, cents = _collect_centroids(centroids)
    udf = _arrow_assign_udf(cids, cents, round_digits)
    return df.withColumn("cid", udf(_as_double(F.col(vec_col))))


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """``iters`` Lloyd rounds from the Forgy seeds; returns ``(cid, n,
    cent)`` — member count and the final centroid (each component rounded
    at every round boundary, so the trajectory is layout-reproducible).
    The dimension is the seeds' width.

    Cost per round: one corpus scan (map-only BLAS assignment against the
    driver's centroid matrix) + one hash exchange carrying k keys x d
    partial (sum, count) pairs — map-side combine does the real work, the
    shuffle is O(k*d) regardless of corpus size. The k-row update is
    collected to the driver (:func:`_collect_centroids`'s round-trip) and
    becomes the next round's matrix, so nothing is persisted and no round
    re-executes an earlier one. Empty clusters keep their previous
    centroid."""
    cids, cents = _collect_centroids(seed_centroids(df, k, id_col, vec_col))
    dim = cents.shape[1]
    base = df.select(_as_double(F.col(vec_col)).alias("_v"))
    counts = np.zeros(len(cids), dtype=np.int64)
    for _ in range(iters):
        assign = _arrow_assign_udf(cids, cents, round_digits)
        upd = base.withColumn("cid", assign(F.col("_v"))).groupBy("cid").agg(
            F.count(F.lit(1)).alias("_n"),
            F.array(*[
                F.round(F.avg(F.col("_v")[i]), round_digits) for i in range(dim)
            ]).alias("_cent"),
        )
        counts = np.zeros(len(cids), dtype=np.int64)
        for r in upd.collect():  # k rows — model-sized
            i = int(np.searchsorted(cids, r["cid"]))
            cents[i] = r["_cent"]
            counts[i] = r["_n"]
    out = [
        (int(c), int(n), [float(x) for x in cents[i]])
        for i, (c, n) in enumerate(zip(cids, counts))
    ]
    return df.sparkSession.createDataFrame(out, "cid long, n long, cent array<double>")


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """SemDeDup decision frame ``(id, cid, keep)``: a row is dropped when
    some LOWER-id row in the SAME cluster has ``round(cosine,
    round_digits) >= threshold`` (keep-first, the convention every dedup
    decision frame in this package uses).

    The pair space is within-cluster — candidates per row are bounded by
    cluster size (choose ``k`` so clusters stay small at your corpus
    scale; SemDeDup uses ~100k). Zero-norm rows have no defined cosine and
    are always kept, mirroring the NaN guard of
    ``similarity.embedding_near_dup_pairs``.

    Assignment is :func:`assign_clusters`' BLAS kernel; each cluster's
    pair decisions resolve in ONE grouped Arrow batch (``applyInArrow``
    over ``cid``) as a normalized matmul. One shuffle total (vectors move
    once, keyed by cid), nothing persisted. The similarity matrix is
    computed in column blocks of ``_SIM_BLOCK_DOUBLES`` doubles, so
    per-group memory is O(n*d + n*block), never O(n²) — a skewed
    mega-cluster degrades to more block matmuls, not an OOM; the
    cluster's VECTORS must still fit one worker (SemDeDup's operating
    assumption — raise k as the corpus grows)."""
    assigned = assign_clusters(df, centroids, id_col, vec_col).select(
        F.col(id_col).alias("id"), "cid", _as_double(F.col(vec_col)).alias("_v")
    )
    thr = float(threshold)
    budget = _SIM_BLOCK_DOUBLES

    def dedup_group(group: pa.Table) -> pa.Table:
        ids = group.column("id").to_numpy()
        order = np.argsort(ids)  # keep-first is defined by id order
        x = vector_matrix(group.column("_v").combine_chunks())[order]
        nrm = np.sqrt((x * x).sum(axis=1))
        keep = np.ones(len(ids), dtype=bool)
        nz = nrm > 0
        n = int(nz.sum())
        if n > 1:
            u = x[nz] / nrm[nz][:, None]
            c = max(1, budget // n)
            dup = np.zeros(n, dtype=bool)
            rows = np.arange(n)
            for j0 in range(0, n, c):
                j1 = min(j0 + c, n)
                sim = np.round(u @ u[j0:j1].T, round_digits)
                below = rows[:, None] < np.arange(j0, j1)[None, :]
                dup[j0:j1] |= ((sim >= thr) & below).any(axis=0)
            kz = keep[nz]
            kz[dup] = False
            keep[nz] = kz
        cids = group.column("cid").to_numpy()
        return pa.table({"id": ids[order], "cid": cids[order], "keep": keep})

    return assigned.groupBy("cid").applyInArrow(
        dedup_group, schema="id long, cid long, keep boolean"
    )
