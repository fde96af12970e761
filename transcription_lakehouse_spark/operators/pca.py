"""PCA projection / whitening over ``array<float>`` embedding columns.

Beyond-reference operator for the training-data pipeline: embedding
dimensionality reduction is the standard pre-step before large-scale
clustering and semantic dedup (SemDeDup, arXiv:2303.09540, clusters in a
reduced space; FAISS ships the same idea as ``PCAMatrix`` /
``OPQ`` pre-transforms). The reference's indexing layer
(`/root/reference/src/lakehouse/indexing/faiss_builder.py:30-147`) builds
FAISS indexes where such a pre-transform would slot in.

Train/apply split follows the repo's other vector-index artifacts
(`operators/similarity.py:train_centroids`, `operators/pq.py`): training
runs ONCE offline on a bounded, hash-ordered sample (a TakeOrdered — the
driver collect stays capped no matter the corpus size) and the resulting
basis is committed as float64 literals; projection is a pure JVM-side map
(``zip_with`` + ``aggregate``) with no Python, no shuffle, and no state —
at 100 TB it is a narrow per-row transform whose output (k doubles)
replaces the d-dim input for everything downstream, a d/k× scan/shuffle
saving for clustering and ANN.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.vector import as_double_array, dot
from .similarity import _rank_topk, _score_topk, _vec_side

__all__ = ["train_pca", "pca_project", "pca_whiten", "pca_topk"]


def train_pca(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_components: int = 8,
    sample_cap: int = 4096,
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit a PCA basis on a bounded deterministic sample.

    Returns ``(mean, components, eigenvalues)`` where ``components`` holds
    the top ``n_components`` eigenvectors (rows) of the sample covariance
    and ``eigenvalues`` the FULL descending spectrum (so explained-variance
    ratios can be computed against the total). Eigenvector signs are fixed
    deterministically: the largest-|loading| coordinate is made positive
    (first index wins ties), so the committed artifact is reproducible —
    pinned by tests the same way as the IVF quantizer.
    """
    import numpy as np

    rows = (
        df.select(
            F.xxhash64(F.col(id_col).cast("string")).alias("_h"),
            as_double_array(vec_col).alias("v"),
        )
        .orderBy("_h", id_col)
        .limit(sample_cap)
        .select("v")
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if X.size == 0:
        raise ValueError("train_pca: corpus is empty")
    mean = X.mean(axis=0)
    Xc = X - mean
    cov = Xc.T @ Xc / max(len(X) - 1, 1)
    w, V = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1]
    w = w[order]
    V = V[:, order]
    comps: list[list[float]] = []
    for j in range(min(n_components, V.shape[1])):
        c = V[:, j]
        m = int(np.abs(c).argmax())
        if c[m] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return (
        [float(x) for x in mean],
        comps,
        [float(x) for x in w],
    )


def _lit_array(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vals])


def pca_project(
    df: DataFrame,
    vec_col: str,
    mean: list[float],
    components: list[list[float]],
    out_col: str = "pca",
) -> DataFrame:
    """Project each vector onto the trained basis: ``coord_j = (v - mean) ·
    component_j`` with strict left-to-right double accumulation (the same
    evaluation order DuckDB's list functions use, so the coords are
    oracle-exact after rounding). Entirely inside whole-stage codegen."""
    e = as_double_array(vec_col)
    centered = F.zip_with(e, _lit_array(mean), lambda x, y: x - y)
    coords = [dot(centered, _lit_array(c)) for c in components]
    return df.withColumn(out_col, F.array(*coords))


def pca_whiten(
    df: DataFrame,
    pca_col: str,
    eigenvalues: list[float],
    out_col: str = "whitened",
    eps: float = 1e-12,
) -> DataFrame:
    """Scale projected coords to unit variance (``coord / sqrt(λ)``) — the
    whitening transform that makes Euclidean distance in the reduced space
    Mahalanobis in the original, which is what cosine-threshold dedup over
    reduced vectors wants.

    ``eigenvalues`` may be the artifact's FULL spectrum (the committed
    basis stores all 64 λ while COMPONENTS keeps 8): it is sliced to the
    projected width in-plan, and a SHORTER list raises instead of
    zip_with's silent null-padding (ADVICE r5)."""
    scales_full = [1.0 / (abs(w) + eps) ** 0.5 for w in eigenvalues]
    width = F.size(F.col(pca_col))
    guard = F.when(
        width <= F.lit(len(scales_full)), F.col(pca_col)
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("pca_whiten: eigenvalues shorter than projected coords ("),
            F.lit(str(len(scales_full))), F.lit(" < "),
            width.cast("string"), F.lit(")"),
        ))
    )
    scales = F.slice(_lit_array(scales_full), 1, width)
    return df.withColumn(
        out_col, F.zip_with(guard, scales, lambda x, s: x * s)
    )


def pca_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    mean: list[float],
    components: list[list[float]],
    k: int = 5,
    shortlist: int = 40,
) -> DataFrame:
    """Approximate top-k cosine via PCA coarse ranking: both sides are
    projected onto the trained basis, candidates are ranked by squared
    Euclidean distance in the k'-dim reduced space (k' ≪ d, so the
    corpus-sized scan touches k' doubles per row instead of d floats),
    the per-query `shortlist` survivors are exactly rescored in the
    original space. The same accelerate-then-rescore shape as
    `operators/pq.py:pq_topk`, with a linear projection instead of
    codebook ADC — FAISS's ``PCAMatrix,Flat`` index factory string.

    At 100 TB the corpus projection is precomputed once at index-build
    time into the stored table (it is a pure column map), so a search
    scans only the k'-dim coords; queries broadcast; nothing shuffles the
    corpus. Every arithmetic step (center, project, reduced d², exact
    cosine) is strict left-to-right double accumulation, so the DuckDB
    twin replays it bit-identically — no margin guard needed.
    """
    q = pca_project(
        _vec_side(queries, id_col, vec_col, "query_id", "qv", "qn"),
        "qv", mean, components, out_col="qp",
    )
    c = pca_project(
        _vec_side(corpus, id_col, vec_col, "neighbor_id", "cv", "cn"),
        "cv", mean, components, out_col="cp",
    )
    red_d2 = F.aggregate(
        F.zip_with(F.col("qp"), F.col("cp"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cand = (
        F.broadcast(q.select("query_id", "qp"))
        .crossJoin(c.select("neighbor_id", "cp"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("red_d2", red_d2)
    )
    short = _rank_topk(
        cand, shortlist, score="red_d2", ascending=True,
        cols=["query_id", "neighbor_id"],
    )
    # round(cosine) from the precomputed norms: the same arithmetic as
    # the inline cosine (same operands, same left-to-right sums)
    return _score_topk(
        short.join(q.select("query_id", "qv", "qn"), "query_id")
        .join(c.select("neighbor_id", "cv", "cn"), "neighbor_id"),
        k,
    )
