"""Similarity search over embedding columns (J7/J9/M2 replacements).

The reference serves ANN from a FAISS HNSW index
(`/root/reference/src/lakehouse/indexing/faiss_builder.py:30-147`) and exact
brute-force for quality metrics (`quality/metrics/embedding.py:408-472`).
Spark-native strategy (SURVEY §4):

- exact brute-force top-k: broadcast the (small) query set against the
  corpus, cosine via higher-order functions, per-query top-k via window
  rank. At 100 TB the corpus side stays partitioned; cost is one scan.
- LSH-bucketed approximate top-k: deterministic random-hyperplane signs
  derived from md5 (engine-portable, no stored model), bucket-join then
  exact rescoring inside buckets — the scale path when the query set is
  also huge.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions.vector import (
    as_double_array,
    dot,
    guarded_cosine,
    l2_norm,
)

__all__ = [
    "brute_force_topk",
    "hard_negatives",
    "hyperplane_bucket",
    "lsh_topk",
    "lsh_near_dup_pairs",
    "train_centroids",
    "ivf_topk",
    "semdedup_kmeans",
]


def _round6_half_away(c):
    """Round-half-AWAY-from-zero at 6 decimals for numpy arrays/scalars —
    the rounding F.round (HALF_UP on BigDecimal) and DuckDB's round() both
    use. np.round / Python round are half-to-EVEN, so a cosine landing
    exactly on a 6-dp half boundary would be decided differently here than
    in the SQL twin (ADVICE r5)."""
    import numpy as np

    return np.sign(c) * np.floor(np.abs(c) * 1e6 + 0.5) / 1e6


def _topk_score_kernel(k: int):
    """Cogrouped-map scorer shared by every bucketed ANN path (IVF cells,
    LSH band-buckets, graph seeds): ONE numpy GEMM per key group computes
    all (query, member) cosines, and the group-LOCAL top-``k`` per query
    leaves Python — nothing pair-shaped ever hits the plan. Global top-k
    over the per-group winners equals top-k over the full candidate union
    (any row cut locally is dominated by ``k`` group-mates under the same
    total order), so downstream windows see ≤ groups-per-query · k rows.

    Determinism contract (the oracle-parity discipline of this module):

    - sims are ``_round6_half_away`` like F.round/DuckDB;
    - any cosine whose |c|·1e6 + 0.5 sits within 1e-7 of an integer — i.e.
      where BLAS re-association could flip the 6-dp rounding vs the SQL
      twin's strict left-to-right sums — is recomputed in the twin's exact
      operand order before rounding (fires ~2e-7 of pairs);
    - ties rank by neighbor id ASC: the member side is pre-sorted by id, so
      a STABLE argsort on -sim yields that tiebreak for free (vectorized —
      no per-row lexsort loop);
    - self-pairs (query_id == neighbor_id, by value) are excluded, the
      `_score_topk` contract.
    """
    import math

    import numpy as np

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
        right = right.sort_values(
            "neighbor_id", kind="mergesort", ignore_index=True
        )
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in left["qv"]])
        C = np.stack([np.asarray(v, dtype=np.float64) for v in right["cv"]])
        qn = np.sqrt((Q * Q).sum(axis=1))[:, None]
        cn = np.sqrt((C * C).sum(axis=1))[None, :]
        den = qn * cn
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = np.where(den > 0, (Q @ C.T) / den, 0.0)
        sims = _round6_half_away(raw)
        t = np.abs(raw) * 1e6 + 0.5
        frac = t - np.floor(t)
        for i, j in np.argwhere((frac < 1e-7) | (frac > 1.0 - 1e-7)):
            a, b = Q[i], C[j]
            num = 0.0
            for x, y in zip(a, b):
                num = num + x * y
            na = 0.0
            for x in a:
                na = na + x * x
            nb = 0.0
            for y in b:
                nb = nb + y * y
            d = math.sqrt(na) * math.sqrt(nb)
            ce = num / d if d > 0 else 0.0
            sims[i, j] = float(_round6_half_away(ce))
        qid = left["query_id"].to_numpy()
        nid = right["neighbor_id"].to_numpy()
        sims = np.where(qid[:, None] == nid[None, :], -np.inf, sims)
        kk = min(k, sims.shape[1])
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        simk = np.take_along_axis(sims, idx, axis=1)
        keep = np.isfinite(simk).ravel()
        return pd.DataFrame(
            {
                "query_id": np.repeat(qid, kk)[keep],
                "neighbor_id": nid[idx.ravel()][keep],
                "sim": simk.ravel()[keep],
            }
        )

    return score


def _topk_score_kernel_bucketed(k: int):
    """`_topk_score_kernel` over SUPERGROUPS: both sides carry the full
    ``bucket`` id and arrive grouped by (band, bucket % nsub), so one
    Python invocation scores every bucket that folds into the supergroup —
    segment both sides by bucket, GEMM each matched segment, concat.

    Why (guide §4.1 — control how often the boundary is crossed, not just
    how much crosses it): at production bucket granularity (2^10 buckets ×
    8 bands) the one-group-per-bucket cogroup pays ~8k Arrow/pandas group
    invocations whose fixed cost dominates the tiny per-bucket GEMMs —
    measured 3.5 s → 5.1 s regression on knn_lsh_20x vs the pair-join it
    replaced. Folding ~32 buckets per supergroup keeps the same shuffle
    bytes and the same per-bucket math (results identical row-for-row:
    each bucket still scores exactly its own members) while cutting group
    invocations ~32×."""
    base = _topk_score_kernel(k)

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
        rgroups = {b: grp for b, grp in right.groupby("bucket", sort=False)}
        out = []
        for b, lgrp in left.groupby("bucket", sort=False):
            rgrp = rgroups.get(b)
            if rgrp is not None:
                out.append(base(lgrp, rgrp))
        if not out:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "sim": []})
        return pd.concat(out, ignore_index=True)

    return score


def _lsh_supergroups(spark, n_bands: int, planes_per_band: int) -> int:
    """Buckets folded per (band, bucket % nsub) supergroup: target ~8
    groups per core for scheduling balance, floor 64 total, capped at the
    bucket-space size (then every bucket is its own group again).
    Scale-adaptive (guide §2): derives from the session's parallelism,
    not a constant tuned to either local mode or one cluster size."""
    target_groups = max(8 * spark.sparkContext.defaultParallelism, 64)
    per_band = max(1, target_groups // max(n_bands, 1))
    return min(2 ** planes_per_band, per_band)


# --- the ANN scoring seam -------------------------------------------------
# Every top-k path in the package (exact, LSH, IVF, PQ, IVF-PQ, PCA, SQ8,
# graph beams, hard negatives, triplets, decontam argmax) projects its
# sides with `_vec_side`, scores shortlists with `_score_topk` and ranks
# with `_rank_topk`: the rounding (`guarded_cosine`, 6 digits) and the
# tie-break (score, then id ASC) live here and nowhere else. The numpy
# kernels above replay the same policy group-locally.


def _vec_side(
    df: DataFrame, id_col: str, vec_col: str,
    id_as: str, vec_as: str, norm_as: str, *extra: Column,
) -> DataFrame:
    """One side of a cosine join: ``(id_as, *extra, vec_as, norm_as)`` —
    the id, any carried columns, the vector as ``double[]`` and its L2
    norm, computed once per ROW (n + m norms, not one per pair)."""
    return df.select(
        F.col(id_col).alias(id_as), *extra, as_double_array(vec_col).alias(vec_as)
    ).withColumn(norm_as, l2_norm(F.col(vec_as)))


def _dedupe_by(df: DataFrame, *keys: str) -> DataFrame:
    """Drop the exact-duplicate rows a multi-group collision emits (the
    sims are deterministic) over ONE exchange (guide §2.4 — share the
    partitioning): hash by the rank key FIRST; that partitioning satisfies
    the distinct aggregate's clustering by the subset rule and is exactly
    what a later window on ``keys`` requires, so neither plans its own
    exchange. A plain ``.distinct()`` would exchange on every column and
    the window would re-exchange on the key."""
    return df.repartition(*keys).distinct()


def _rank_topk(
    local: DataFrame,
    k: int | Column,
    *,
    dedupe: bool = False,
    by: str | list[str] = "query_id",
    tie: str = "neighbor_id",
    score: str = "sim",
    ascending: bool = False,
    cols: list | None = None,
) -> DataFrame:
    """THE rank tail: per ``by`` key, order by ``score`` (DESC; ASC for
    distances) then ``tie`` ASC and keep ``row_number() <= k`` (``k`` may
    be a per-row Column). ``dedupe`` first collapses duplicate candidate
    rows through `_dedupe_by`; skip it when groups are provably disjoint
    (IVF cells, PQ groups). Returns ``cols``, default
    ``(*by, tie, rank, score)``."""
    keys = [by] if isinstance(by, str) else list(by)
    if dedupe:
        local = _dedupe_by(local, *keys)
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy(*keys).orderBy(order, F.asc(tie))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*(cols or [*keys, tie, "rank", score]))
    )


def _score_topk(
    pairs: DataFrame, k: int, round_digits: int = 6
) -> DataFrame:
    """The one candidate → rescore → rank step: ``pairs`` carry both
    sides (``qv``/``qn``, ``cv``/``cn`` from `_vec_side`); self-pairs are
    dropped, the guarded cosine is rounded, and `_rank_topk` ranks."""
    scored = pairs.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        guarded_cosine(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), round_digits
        ).alias("sim"),
    )
    return _rank_topk(scored, k)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, sim).

    Norms are precomputed per ROW (n + m norms) instead of per PAIR (n*m);
    sim = dot/(qn*cn) is arithmetic-identical to inline cosine, so oracle
    hashes are unaffected. Self-pairs are excluded.
    """
    q = _vec_side(queries, id_col, vec_col, "query_id", "qv", "qn")
    c = _vec_side(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
    return _score_topk(F.broadcast(q).crossJoin(c), k, round_digits)


def sq8_dequantize(corpus: DataFrame, vec_col: str):
    """Per-dimension symmetric INT8 scalar quantization (SQ8 — the
    standard FAISS/ScaNN 4x memory cut): scales s_d = max|x_d|/127 from
    ONE single-pass per-dimension max aggregate (no explode — that is a
    64x row blowup plus a regroup shuffle at scale), codes
    q_d = clamp(floor(x/s + 0.5), ±127), returned DEQUANTIZED
    (q_d * s_d) so downstream cosine scoring is exactly reproducible in
    any engine. floor(x + 0.5) keeps engines bit-identical (no engine
    round() half-rule). Returns (quantized_df, scales) — in production
    the quantized arrays persist as the index."""
    probe = corpus.select(as_double_array(vec_col).alias("v"))
    span = probe.agg(
        F.min(F.size("v")).alias("lo"), F.max(F.size("v")).alias("hi")
    ).head()
    if span["lo"] is None:
        raise ValueError("sq8_dequantize: empty corpus")
    if span["lo"] != span["hi"]:
        raise ValueError(
            f"sq8_dequantize: ragged vectors ({span['lo']}..{span['hi']} "
            "dims) — per-dimension scales are undefined"
        )
    dims = int(span["hi"])
    mx = probe.agg(*[
        F.max(F.abs(F.element_at("v", i + 1))).alias(f"m{i}")
        for i in range(dims)
    ]).head()
    scales = [float(mx[i]) / 127.0 for i in range(dims)]
    lit_scales = F.array(*[F.lit(s) for s in scales])
    dq = F.zip_with(
        as_double_array(vec_col),
        lit_scales,
        lambda x, s: F.when(
            s > 0,
            F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.floor(x / s + F.lit(0.5))),
            )
            * s,
        ).otherwise(F.lit(0.0)),
    )
    return corpus.withColumn(vec_col, dq), scales


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k in SQ8-quantized space: quantize the corpus once
    (same scales applied to the queries), then the shared
    broadcast-queries/streaming-corpus brute-force scorer. The accuracy
    cost of 4x less index memory — measure with tools/ann_frontier.py."""
    qc, _ = sq8_dequantize(corpus, vec_col)
    # queries quantize through the corpus scales (they are corpus
    # members in this API, like brute_force_topk's callers)
    qq = qc.join(queries.select(id_col), id_col, "left_semi")
    return brute_force_topk(qq, qc, id_col, vec_col, k=k)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training (DPR/Contriever-style
    public recipe): per query, the top-k most-similar corpus vectors with a
    DIFFERENT label — near-misses are the informative negatives. Same
    broadcast-queries/streaming-corpus shape as :func:`brute_force_topk`,
    with the label-mismatch predicate applied before ranking so ranks are
    over the negative pool only."""
    q = _vec_side(queries, id_col, vec_col, "query_id", "qv", "qn",
                  F.col(label_col).alias("q_label"))
    c = _vec_side(corpus, id_col, vec_col, "neighbor_id", "cv", "cn",
                  F.col(label_col).alias("c_label"))
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_label") != F.col("c_label"))
    )
    return _score_topk(pairs, k, round_digits)


def contrastive_triplets(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    n_negatives: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Contrastive-training TRIPLET assembly (the DPR/SimCSE-style training
    artifact): per anchor, the single most-similar SAME-label vector (the
    positive) and the top-n most-similar DIFFERENT-label vectors (the hard
    negatives), in one broadcast-anchors/streaming-corpus pass — one scored
    scan, one window, instead of separate positive and negative mining jobs.
    Emits (query_id, role 'pos'|'neg', rank, other_id, sim); anchors whose
    label has no second member simply lack a pos row."""
    q = _vec_side(queries, id_col, vec_col, "query_id", "qv", "qn",
                  F.col(label_col).alias("q_label"))
    c = _vec_side(corpus, id_col, vec_col, "other_id", "cv", "cn",
                  F.col(label_col).alias("c_label"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("other_id"))
        .select(
            "query_id",
            F.when(F.col("q_label") == F.col("c_label"), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("role"),
            "other_id",
            guarded_cosine(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"),
                round_digits,
            ).alias("sim"),
        )
    )
    # one window over (anchor, role): the positive keeps rank 1, the
    # negatives ranks 1..n_negatives
    per_role = F.when(F.col("role") == "pos", F.lit(1)).otherwise(
        F.lit(n_negatives)
    )
    return _rank_topk(
        scored, per_role, by=["query_id", "role"], tie="other_id",
        cols=["query_id", "role", "rank", "other_id", "sim"],
    )


def _plane_signs(p: int, max_dims: int) -> list[float]:
    """Deterministic ±1 sign for plane p, dimension d: low bit of
    md5(f'{p}|{d}')'s first 8 hex chars. Computed once driver-side (the
    matrix is constant) and shipped as a literal array — NOT per-row md5."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:8], 16) & 1 else -1.0
        for d in range(max_dims)
    ]


def hyperplane_bucket(
    vec: F.Column, n_planes: int = 8, max_dims: int = 256, plane_offset: int = 0
) -> F.Column:
    """Deterministic random-hyperplane LSH bucket id (0 .. 2^n_planes - 1).

    Bucket bit p = sign of the projection of the vector on pseudo-random
    plane p; the sign matrix is md5-derived so it is reproducible anywhere
    without shipping a fitted model. The matrix is embedded as literal
    arrays (constant-folded by Catalyst), so per-row cost is pure
    arithmetic — no per-row hashing. The sign array is sliced to the
    vector's length (zip_with null-pads the shorter side, it does not
    truncate); max_dims must be >= the embedding dimensionality — enforced
    per row (a longer vector would silently null-poison every projection
    and send all rows to bucket 0, degenerating the join to a cross
    product).

    ``plane_offset`` selects a disjoint slice of the global plane family so
    multi-band LSH (band b uses planes [b*r, (b+1)*r)) draws independent
    hash functions per band.
    """
    guard = F.when(
        F.size(vec) > max_dims,
        F.raise_error(
            F.lit(
                f"hyperplane_bucket: vector dims exceed max_dims={max_dims}; "
                "raise max_dims"
            )
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    bucket = guard
    for p in range(n_planes):
        signs = F.slice(
            F.array(*[F.lit(s) for s in _plane_signs(plane_offset + p, max_dims)]),
            1,
            F.size(vec),
        )
        proj = F.aggregate(
            F.zip_with(vec, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)).cast(
            "long"
        )
    return bucket


def train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    sample_cap: int = 4096,
    iters: int = 10,
) -> list[list[float]]:
    """Coarse-quantizer training for IVF (the Spark analog of FAISS's
    IVF train step, `/root/reference/src/lakehouse/indexing/faiss_builder.py:30-147`
    serves the same role with HNSW).

    Lloyd k-means on the driver over a BOUNDED deterministic sample
    (hash-ordered top-`sample_cap` rows — a TakeOrdered, so the collect
    stays capped no matter the corpus size). Init is greedy farthest-point
    (k-center): deterministic, and it cannot seed two centroids inside one
    well-separated cluster the way first-k init can. Empty cells keep their
    previous centroid. Fully deterministic: same corpus → same centroids.
    """
    import numpy as np

    rows = (
        corpus.select(
            F.xxhash64(F.col(id_col).cast("string")).alias("_h"),
            as_double_array(vec_col).alias("v"),
        )
        .orderBy("_h", id_col)
        .limit(sample_cap)
        .select("v")
        .collect()
    )
    pts = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(pts) == 0:
        raise ValueError("train_centroids: corpus is empty")
    k = min(n_cells, len(pts))
    chosen = [0]
    min_d2 = ((pts - pts[0]) ** 2).sum(axis=1)
    while len(chosen) < k:
        nxt = int(min_d2.argmax())
        chosen.append(nxt)
        min_d2 = np.minimum(min_d2, ((pts - pts[nxt]) ** 2).sum(axis=1))
    cents = pts[chosen].copy()
    for _ in range(iters):
        # per-centroid loop, NOT the (n, k, d) broadcast: same flops but
        # no 67 MB temp per iteration (4096x32x64 float64) — measured 21x
        # faster (4.7 -> 0.22 s for 10 iters) and BIT-IDENTICAL (the
        # reduced axis is the same contiguous 64-element pairwise sum, so
        # every d2 cell sees the same operands in the same order). This
        # loop is serial DRIVER work inside every inline-trained IVF
        # query — it was ~1.6 s of the knn_ivf_20x wall at any corpus
        # size (guide §5: the driver should do almost no data work).
        d2 = np.empty((len(pts), len(cents)))
        for ci in range(len(cents)):
            d2[:, ci] = ((pts - cents[ci]) ** 2).sum(axis=1)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = pts[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return [[float(x) for x in c] for c in cents]


def _nearest_cells_udf(centroids: list[list[float]], nprobe: int):
    """Arrow-batched pandas_udf: the `nprobe` nearest cell ids per vector.

    One numpy GEMM per batch (dist² = |c|² − 2·V·Cᵀ, the |v|² term is
    rank-invariant and dropped) — measured ~15× faster than expressing the
    K×D centroid matrix as literal arrays with per-centroid zip_with/
    aggregate, whose expression tree blows up codegen at K=32, D=64.
    Stable argsort ⇒ deterministic tie-breaks by cell index.
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    n = min(nprobe, len(C))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        d2 = c2[None, :] - 2.0 * (V @ C.T)
        # margin guard (same discipline as _band_buckets_udf): an adjacent
        # pair within accumulation-order rounding could sort differently
        # from the SQL twin's left-to-right sums — recompute such rows
        # with the twin's exact operand order so the ranking cannot diverge
        srt = np.sort(d2, axis=1)
        margin = 1e-9 * np.maximum(1.0, np.abs(d2).max(axis=1))
        risky = (np.diff(srt, axis=1).min(axis=1) < margin) if d2.shape[1] > 1 else np.zeros(len(V), bool)
        for i in np.flatnonzero(risky):
            for j in range(len(C)):
                cv = C[j]
                c2s = 0.0
                for t in cv:
                    c2s = c2s + t * t
                dots = 0.0
                for a, b in zip(V[i], cv):
                    dots = dots + a * b
                d2[i, j] = c2s - 2.0 * dots
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n].astype("int32")
        return pd.Series(list(idx))

    return probe


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    precomputed_cell: str | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are bucketed to their nearest
    k-means cell; each query probes its `nprobe` nearest cells and is
    exactly rescored only against those cells' members.

    The probe join is an equi-join on cell id — never a cross product
    (pinned by tests/test_plans). With a small probed-query side Spark
    broadcasts it and the corpus streams in place, so corpus partitioning
    IS the parallelism (one scan, zero corpus shuffle); with a huge query
    side it becomes a shuffle on the small int cell key. Recall rises with
    nprobe (nprobe = n_cells degenerates to exact). At 100 TB the cell
    assignment would be precomputed once into the stored table
    (indexing.build_index) so queries touch ~nprobe/n_cells of the data.
    """
    if centroids is None:
        centroids = train_centroids(corpus, id_col, vec_col, n_cells)

    if precomputed_cell is not None:
        # stored-index path: the cell assignment was materialized at build
        # time (indexing.build_ivf_index) — no per-search assignment pass,
        # and a cell-partitioned store prunes unprobed partitions
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_array(vec_col).alias("cv"),
            F.col(precomputed_cell).cast("int").alias("cell"),
        )
    else:
        assign1 = _nearest_cells_udf(centroids, 1)
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double_array(vec_col).alias("cv"),
        ).withColumn("cell", F.element_at(assign1(F.col("cv")), 1))

    probe = _nearest_cells_udf(centroids, nprobe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("qv"),
    ).withColumn("cell", F.explode(probe(F.col("qv"))))

    # Per-cell scoring as a cogrouped-map GEMM: each cell's queries and
    # members meet ONCE (Arrow traffic is O(corpus + queries*nprobe) rows,
    # not O(pairs)), cosines come from one numpy matmul, and only the local
    # top-k per (query, cell) leaves the kernel. The previous join-then-HOF
    # rescore shipped both vectors per PAIR and evaluated the dot product
    # in the interpreted expression walker — measured 22 s vs ~2 s on the
    # 20x bench for identical results. r11: the kernel is the shared
    # `_topk_score_kernel` — its top-k assembly is a vectorized stable
    # argsort (the old per-query lexsort + pd.concat loop was ~40% of
    # knn_ivf_20x's kernel time) and it adds the rounding-boundary margin
    # guard the other GEMM kernels already carry.
    qid_t = dict(queries.dtypes)[id_col]
    nid_t = dict(corpus.dtypes)[id_col]
    out_schema = f"query_id {qid_t}, neighbor_id {nid_t}, sim double"

    local = (
        q.groupBy("cell")
        .cogroup(c.groupBy("cell"))
        .applyInPandas(_topk_score_kernel(k), out_schema)
    )
    # global top-k across the nprobe probed cells: only nprobe*k candidate
    # rows per query reach this window (duplicates impossible — cells are
    # disjoint — so the dedupe exchange is skipped)
    return _rank_topk(local, k)


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_bands: int = 4,
    planes_per_band: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH —
    the scale path for training-data dedup (replaces within-label all-pairs
    blocking; reference analog is brute-force numpy cosine,
    `/root/reference/src/lakehouse/quality/metrics/embedding.py:408-472`).

    Band b hashes each vector with planes [b*r, (b+1)*r); two vectors are
    candidates iff they collide in >= 1 band (classic AND-of-r / OR-of-b:
    P(candidate) = 1-(1-(1-θ/π)^r)^b, steep around high cosine). Scoring
    happens AT the bucket-collision row (r11, guide §2.3 — the same shape
    `semantic_decontam` measured 1.6 M-row-distinct-exchange + re-fetch-SMJ
    savings from): bucket rows carry their vector + norm, the rounded
    cosine and threshold filter run in the collision join's own stage, and
    only the few SURVIVING pairs are deduped. A multi-band collision
    recomputes the same deterministic expression on the same operands, so
    distinct-after-filter equals the old score-once-per-distinct-pair rows
    exactly. Everything is equi-joins on (band, bucket) — no cross
    product, never an O(n²) materialization. In the broadcastable regime
    (one side of the (band, bucket) self-join under the auto-broadcast
    threshold, as in the captured 20x plans) the fat rows never shuffle —
    the only post-collision exchange carries surviving id pairs; at
    corpus scale the self-join sort-merges and each side ships n_bands
    vector copies per row through its exchange, so size planes_per_band
    up with the corpus to keep buckets (and the shuffle) bounded.
    Deterministic: the plane family is md5-derived.
    """
    v = _vec_side(df, id_col, vec_col, "vid", "v", "nrm")
    if n_bands * planes_per_band > 32:
        # wide banding: literal-array codegen would dominate (see
        # _band_buckets_udf); one GEMM per batch hashes every band
        ids = _banded_buckets(v, "v", n_bands, planes_per_band)
    else:
        ids = v.select(
            "vid",
            "v",
            "nrm",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            hyperplane_bucket(
                                F.col("v"),
                                planes_per_band,
                                plane_offset=b * planes_per_band,
                            ).alias("bucket"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        ).select(
            "vid",
            "v",
            "nrm",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
    left = ids.select(
        F.col("vid").alias("id_1"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "band",
        "bucket",
    )
    right = ids.select(
        F.col("vid").alias("id_2"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "band",
        "bucket",
    )
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select(
            "id_1",
            "id_2",
            guarded_cosine(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .distinct()
        .orderBy(F.desc("sim"), F.asc("id_1"), F.asc("id_2"))
    )


def _band_buckets_udf(n_bands: int, planes_per_band: int, max_dims: int = 256):
    """Arrow-batched pandas_udf computing ALL band buckets per vector in one
    numpy GEMM: projections = V @ Sᵀ for the md5-derived ±1 sign matrix,
    sign bits packed per band. Identical hash family to `hyperplane_bucket`
    (same `_plane_signs`), but 10-100× faster for multi-band hashing — the
    per-plane HOF expression tree is interpreted per element, and banding
    multiplies that cost by bands×planes (measured 98 s vs ~8 s on the 20×
    bench). Its one caller is `_banded_buckets`, which builds the bucket
    rows of every banded path: the collision joins (`_collision_scores`),
    the `lsh_topk` self-join GEMM, and `lsh_near_dup_pairs` when
    bands×planes > 32; the narrow near-dup configs keep the HOF form its
    DuckDB twin mirrors expression-for-expression.

    Cross-engine caveat, CLOSED by the margin guard below: the GEMM
    accumulates in BLAS blocked order while the SQL twin sums strictly
    left-to-right, so a bucket bit could differ when |projection| falls
    within accumulation-order rounding of 0 (~1e-13 · Σ|v|). Any projection
    inside that margin is recomputed with a strict left-to-right scalar
    loop — bit-identical to the SQL twin's accumulation order — so the
    oracle gate holds on ANY corpus, not just ones with measured margins
    (shipped testdata min margin: 1.6e-4 sf0.01, 1.0e-6 sf0.1 — the
    fallback never fires there)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    total = n_bands * planes_per_band
    S = np.array(
        [_plane_signs(p, max_dims) for p in range(total)], dtype=np.float64
    )
    weights = (1 << np.arange(planes_per_band, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        if V.shape[1] > max_dims:
            raise ValueError(
                f"band buckets: vector dims {V.shape[1]} exceed max_dims={max_dims}"
            )
        d = V.shape[1]
        proj = V @ S[:, :d].T  # (n, total)
        # margin guard: entries whose |projection| is within accumulation-
        # order rounding of 0 get a strict left-to-right recompute (the
        # order the SQL twin uses), so the sign bit can never diverge
        margin = 1e-10 * np.maximum(np.abs(V).sum(axis=1, keepdims=True), 1.0)
        for i, p in np.argwhere(np.abs(proj) < margin):
            acc = 0.0
            row, signs = V[i], S[p, :d]
            for j in range(d):
                acc = acc + row[j] * signs[j]
            proj[i, p] = acc
        bits = (proj > 0).astype(np.int64).reshape(len(V), n_bands, planes_per_band)
        out = (bits * weights).sum(axis=2)  # (n, n_bands)
        return pd.Series(list(out))

    return buckets


def _banded_buckets(
    df: DataFrame, vec: str, n_bands: int, planes: int
) -> DataFrame:
    """Explode a vector table into one row per (band, bucket); band b hashes
    with the disjoint plane slice [b*planes, (b+1)*planes). Every column,
    the vector included, rides on the bucket rows: the score-at-collision
    shape (`_collision_scores`) rescans the vector straight off the bucket
    join instead of re-fetching it through a second join, and the GEMM
    paths hand it to their kernels."""
    udf = _band_buckets_udf(n_bands, planes)
    return df.select("*", F.posexplode(udf(F.col(vec))).alias("band", "bucket"))


def _collision_scores(
    small: DataFrame, big: DataFrame, n_bands: int, planes_per_band: int,
    broadcast: bool = True,
) -> DataFrame:
    """The banded-LSH filter step of every asymmetric filter-then-verify
    path (`lsh_topk`'s query branch, graph seeds and appends, semantic
    decontam): score AT the bucket-collision row. ``small`` and ``big`` are
    three-column `_vec_side` frames ``(id, vec, norm)``; both explode to
    their bucket rows WITH the vector, ``small``'s rows broadcast (when
    ``broadcast``) and ``big``'s stream from the scan into the
    (band, bucket) equi-join, and the rounded `guarded_cosine` runs in the
    join's own stage — no candidate-pair distinct before scoring and no
    vector re-fetch join. Emits ``(small_id, big_id, sim)``, one row per
    collision: a pair colliding in several bands repeats with bit-identical
    sims, so callers dedupe on their rank key (`_dedupe_by` or
    `_rank_topk(dedupe=True)`). Self-pairs are kept; dropping them is
    caller policy."""
    (sid, sv, sn), (bid, bv, bn) = small.columns, big.columns
    sb = _banded_buckets(small, sv, n_bands, planes_per_band)
    bb = _banded_buckets(big, bv, n_bands, planes_per_band)
    if broadcast:
        sb = F.broadcast(sb)
    return bb.join(sb, ["band", "bucket"]).select(
        sid, bid,
        guarded_cosine(F.col(sv), F.col(bv), F.col(sn), F.col(bn)).alias("sim"),
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_bands: int = 8,
    planes_per_band: int = 4,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k via BANDED hyperplane LSH (OR-of-bands,
    AND-of-planes within a band — the same construction as
    `lsh_near_dup_pairs`): a corpus row is a candidate iff it shares any
    band's bucket with the query, candidates are deduplicated to DISTINCT
    id pairs, and only candidates are exactly rescored.

    A single-band AND-construction (the naive one-bucket join) has
    per-plane collision ~0.6 for moderate-cosine neighbors, i.e. recall
    0.6^planes ≈ 1–4% at 8 planes — measured, unusable. OR-ing b bands of
    r planes lifts recall to 1-(1-p^r)^b (~0.75 at b=8, r=4) while keeping
    every join an equi-join on (band, bucket) — no cross product.

    Scale knobs: `planes_per_band` sets bucket granularity (2^r buckets per
    band — raise it as the corpus grows so per-bucket candidate sets stay
    bounded), `n_bands` buys recall back at the cost of b× bucket rows.

    Execution shape (r11 optimization, guide §2.3/§4.1/§4.2 — both
    branches measured, see comments): the SELF-join case (graph build)
    scores each (band, bucket) group with one numpy GEMM emitting only
    the group-local top-k, buckets folded ~32 per Python group so the
    Arrow group-invocation cost amortizes — the previous
    candidates-distinct + two vector-fetch joins + interpreted
    higher-order-function cosine per pair evaluated ~O(pairs·dims)
    interpreted expression steps (measured 18.9 s → 5.4 s on
    graph_build_20x for identical results; the pair relation is
    corpus-scale there, |pairs| ≈ N·bands·bucket_pop). The ASYMMETRIC
    case keeps the pair join — with few queries the pair relation is
    small and the GEMM's fixed cost (n_bands corpus-vector copies through
    the exchange + Arrow boundary) loses; see the branch comment for the
    measurements. Results are value-identical either way (same rounding,
    tiebreaks, margin guard — kernel docstring) and stay gated by the
    unchanged DuckDB twins.
    """
    if queries is corpus:
        qid_t = dict(queries.dtypes)[id_col]
        out_schema = f"query_id {qid_t}, neighbor_id {qid_t}, sim double"
        kern = _topk_score_kernel_bucketed(k)
        nsub = _lsh_supergroups(corpus.sparkSession, n_bands, planes_per_band)
        sub = F.pmod(F.col("bucket"), F.lit(nsub)).alias("sub")
        b = _banded_buckets(
            corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
            "_v", n_bands, planes_per_band,
        ).withColumn("sub", sub)

        def self_score(pdf: pd.DataFrame) -> pd.DataFrame:
            side_q = pd.DataFrame({
                "query_id": pdf["_id"], "qv": pdf["_v"], "bucket": pdf["bucket"],
            })
            side_c = pd.DataFrame({
                "neighbor_id": pdf["_id"], "cv": pdf["_v"], "bucket": pdf["bucket"],
            })
            return kern(side_q, side_c)

        local = b.groupBy("band", "sub").applyInPandas(
            self_score, out_schema
        )
        return _rank_topk(local, k, dedupe=True)
    else:
        # Asymmetric (queries ≢ corpus): score AT the bucket-collision row
        # (`_collision_scores`) — NOT the cogrouped GEMM, which must ship
        # n_bands copies of every corpus vector through an exchange + the
        # Arrow boundary no matter how few queries there are (measured
        # 3.5 s vs 5.1-6.2 s on knn_lsh_20x across three GEMM variants).
        # ``broadcast_queries`` gates the hint on the fat query bucket rows
        # (r12): a caller that cannot bound |Q| (append_knn_graph with an
        # oversized batch) passes False and the join degrades to a shuffle
        # instead of failing on the 8 GB broadcast cap / driver memory.
        q = _vec_side(queries, id_col, vec_col, "query_id", "qv", "qn")
        c = _vec_side(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
        scored = _collision_scores(
            q, c, n_bands, planes_per_band, broadcast=broadcast_queries
        ).filter(F.col("query_id") != F.col("neighbor_id"))
        return _rank_topk(scored, k, dedupe=True)


def semdedup_kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """Canonical-form SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    bucket every vector to its nearest k-means centroid, detect duplicate
    groups by pairwise cosine >= `threshold` WITHIN each cluster only, fold
    pairs into transitive groups, and keep from each group the member LEAST
    similar to its cluster centroid — the paper's diversity-preserving
    keeper rule (it retains the most atypical exemplar). Complements the
    LSH-banded variant (`lsh_near_dup_pairs` + `dup_clusters`): identical
    output contract, different candidate generator — k-means cells give the
    paper's exact semantics; LSH bands avoid the centroid artifact.

    Scale: the pairwise comparison is an equi-join on the cell id — never
    all-pairs. Growing n_cells ~ sqrt(N) keeps expected cell population
    bounded, which is the paper's own cost model (50k clusters for
    LAION-440M). The centroid set is an offline-trained committed artifact
    (tools/train_ivf.py discipline), so a run is a single scan + one
    cell-keyed shuffle; no training job in the query path.

    Returns (vec_id, cell, component_id, is_keeper) for clustered vectors;
    absent vectors are singletons and always kept.

    Execution shape (r11, guide §2.4 — remove shuffles outright): pairs
    are generated WITHIN cells only, so the duplicate graph is a disjoint
    union of per-cell graphs and no component can ever span cells. The
    transitive closure and the keeper ranking therefore run INSIDE the
    same per-cell kernel (a bounded union-find over that cell's pairs +
    the centroid-cosine argmin), replacing the iterative distributed
    connected-components (3 shuffles + a checkpoint + a fixpoint count
    per round) and the join-back/window tail — the whole operator is one
    assignment scan + ONE cell-keyed exchange. Per-cell work stays
    bounded by the same argument as the pairwise GEMM (n_cells grows
    ~sqrt(N)). Results are identical: component_id is still the min
    member id (union-find by value), keeper still the
    (round6(cent_cos) ASC, vec_id ASC) argmin with the margin-guarded
    exact-order recompute at 6-dp rounding boundaries.
    """
    import math

    import numpy as np

    assign1 = _nearest_cells_udf(centroids, 1)
    base = (
        df.select(
            F.col(id_col).alias("vec_id"),
            as_double_array(vec_col).alias("v"),
        )
        .withColumn("cell", F.element_at(assign1(F.col("v")), 1))
    )

    # Within-cell pair detection as ONE Arrow-batched GEMM per cell
    # (applyInPandas) instead of a self-join scoring every row pair through
    # interpreted HOF lambdas — measured 4x faster at sf0.1 (the same
    # reasoning as _nearest_cells_udf's GEMM note). Only the (id_1, id_2)
    # survivors leave Python; the n²-pair relation never materializes in
    # the plan. Cell populations are bounded by construction (n_cells is
    # grown with the corpus), so each GEMM is a small dense matmul.
    #
    # Margin guard (the repo's cross-engine discipline): the decision is
    # round(cos, 6) >= threshold with the SQL twin's left-to-right
    # accumulation; GEMM reassociates, so any pair whose cosine sits
    # within fp-noise of the rounded cut is recomputed with the twin's
    # exact operand order before deciding.
    cut = threshold - 5e-7  # round(x, 6) >= t  <=>  x >= t - 0.5e-6
    thr = float(threshold)
    cent_arr = [np.asarray(c, dtype=np.float64) for c in centroids]

    def _cell_components(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pdf["vec_id"].iloc[:0]
        out_empty = pd.DataFrame(
            {
                "vec_id": empty,
                "cell": pd.Series([], dtype="int32"),
                "component_id": empty,
                "is_keeper": pd.Series([], dtype=bool),
            }
        )
        if n < 2:
            return out_empty
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        ids = pdf["vec_id"].to_numpy()
        norms = np.sqrt((V * V).sum(axis=1))
        den = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(den > 0, (V @ V.T) / den, 0.0)
        iu, ju = np.triu_indices(n, 1)
        c = cos[iu, ju]
        keep = _round6_half_away(c) >= thr
        risky = np.abs(c - cut) < 1e-9 * np.maximum(1.0, np.abs(c))
        for t_idx in np.flatnonzero(risky):
            i, j = int(iu[t_idx]), int(ju[t_idx])
            num_e = 0.0
            for x, y in zip(V[i], V[j]):
                num_e = num_e + x * y
            na = 0.0
            for x in V[i]:
                na = na + x * x
            nb = 0.0
            for y in V[j]:
                nb = nb + y * y
            den_e = math.sqrt(na) * math.sqrt(nb)
            ce = num_e / den_e if den_e > 0 else 0.0
            keep[t_idx] = float(_round6_half_away(ce)) >= thr
        if not keep.any():
            return out_empty

        # union-find over the surviving pairs (local indices) — the whole
        # component closure for this cell, since pairs never span cells
        parent = np.arange(n, dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for t_idx in np.flatnonzero(keep):
            ra, rb = find(int(iu[t_idx])), find(int(ju[t_idx]))
            if ra != rb:
                parent[rb] = ra
        # clustered nodes = exactly the endpoints of kept pairs (an
        # untouched node keeps its own root and can never join a component)
        clustered = np.unique(np.concatenate([iu[keep], ju[keep]]))
        roots = np.fromiter((find(int(i)) for i in clustered), np.int64, len(clustered))
        # component_id = min member id BY VALUE (dup_clusters' contract)
        comp_members: dict[int, list[int]] = {}
        for i, r in zip(clustered, roots):
            comp_members.setdefault(int(r), []).append(int(i))

        cell_id = int(pdf["cell"].iloc[0])
        cv = cent_arr[cell_id]
        cn2 = float((cv * cv).sum())
        # centroid cosine for clustered members only: GEMM + the 6-dp
        # rounding-boundary margin guard (the keeper ranking sorts on the
        # ROUNDED value, so only boundary cases can flip vs the twin's
        # left-to-right fold — recompute those in exact operand order)
        mi = np.fromiter(
            (i for ms in comp_members.values() for i in ms), np.int64
        )
        Vm = V[mi]
        num = Vm @ cv
        den = np.sqrt((Vm * Vm).sum(axis=1)) * math.sqrt(cn2)
        with np.errstate(divide="ignore", invalid="ignore"):
            cc_raw = np.where(den > 0, num / den, 0.0)
        cc = _round6_half_away(cc_raw)
        tt = np.abs(cc_raw) * 1e6 + 0.5
        fr = tt - np.floor(tt)
        for pos in np.flatnonzero((fr < 1e-7) | (fr > 1.0 - 1e-7)):
            row = Vm[pos]
            num_e = 0.0
            for x, y in zip(row, cv):
                num_e = num_e + x * y
            na = 0.0
            for x in row:
                na = na + x * x
            nb = 0.0
            for y in cv:
                nb = nb + y * y
            den_e = math.sqrt(na) * math.sqrt(nb)
            ce = num_e / den_e if den_e > 0 else 0.0
            cc[pos] = float(_round6_half_away(ce))
        cc_by_idx = dict(zip((int(x) for x in mi), (float(x) for x in cc)))

        out_vid, out_comp, out_keep = [], [], []
        for ms in comp_members.values():
            comp_id = min(ids[i] for i in ms)
            keeper = min(ms, key=lambda i: (cc_by_idx[i], ids[i]))
            for i in ms:
                out_vid.append(ids[i])
                out_comp.append(comp_id)
                out_keep.append(i == keeper)
        return pd.DataFrame(
            {
                "vec_id": pd.Series(out_vid, dtype=empty.dtype),
                "cell": np.full(len(out_vid), cell_id, dtype="int32"),
                "component_id": pd.Series(out_comp, dtype=empty.dtype),
                "is_keeper": out_keep,
            }
        )

    # output schema follows the input id column's type (string doc ids
    # work, not just the embeddings table's longs — ADVICE r5)
    id_ddl = df.schema[id_col].dataType.simpleString()
    return base.groupBy("cell").applyInPandas(
        _cell_components,
        f"vec_id {id_ddl}, cell int, component_id {id_ddl}, is_keeper boolean",
    )
