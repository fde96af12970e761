"""Product-quantization (PQ) similarity search — the compressed-domain ANN
path (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; the construction behind FAISS IndexPQ/IVFPQ — the
reference serves ANN from FAISS, `/root/reference/src/lakehouse/indexing/
faiss_builder.py:30-147`).

Why this exists at 100 TB: a 64-dim float32 embedding is 256 B; its PQ code
(m=8 subvectors × 4-bit codes here) is 8 small ints — the corpus scan for a
search touches ~32× fewer bytes, and the asymmetric-distance computation
(ADC) is a per-row table lookup + sum, no float vector math. The exact
rescore then reads full vectors ONLY for the shortlist.

Spark shape:
- codebooks are trained OFFLINE on a bounded deterministic sample
  (`train_pq_codebooks`, same discipline as the IVF coarse quantizer:
  farthest-point seeding + fixed Lloyd iterations, no RNG) and injected as
  literals — training is an index-build step, not a per-query one.
- `pq_encode` maps the corpus to codes with one Arrow-batched numpy pass
  (per-subvector argmin over k centroids).
- `pq_topk` builds one ADC lookup table per QUERY row (m×k distances —
  queries are the small side), broadcasts them against the codes relation,
  sums LUT entries JVM-side (zip_with + aggregate over the codes array —
  no Python in the corpus-sized hot path), shortlists, then exactly
  rescores the shortlist by cosine.

Every float decision (subvector distances, argmin tie-breaks, ADC sums)
uses fixed operand order so a DuckDB twin with the same codebook literals
replays the search bit-for-bit (workload/vectors.py:vec_knn_pq).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.vector import as_double_array
from .similarity import _nearest_cells_udf, _rank_topk, _score_topk, _vec_side

__all__ = [
    "train_pq_codebooks",
    "train_ivfpq_codebooks",
    "pq_encode",
    "pq_topk",
    "ivfpq_topk",
]


def _sampled_matrix(
    corpus: DataFrame, id_col: str, vec_col: str, sample_cap: int
):
    """Bounded deterministic sample as a numpy matrix (hash-ordered
    TakeOrdered — the same discipline as `similarity.train_centroids`)."""
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
        raise ValueError("PQ training: corpus is empty")
    return pts


def _train_books(pts, m: int, k: int, iters: int) -> list[list[list[float]]]:
    """Per-subvector k-means over a point matrix: farthest-point seeding +
    fixed Lloyd iterations per subspace. Deterministic (no RNG)."""
    import numpy as np

    d = pts.shape[1]
    if d % m:
        raise ValueError(f"PQ training: dims {d} not divisible by m={m}")
    sub = d // m
    books = []
    for mi in range(m):
        seg = pts[:, mi * sub : (mi + 1) * sub]
        kk = min(k, len(seg))
        chosen = [0]
        min_d2 = ((seg - seg[0]) ** 2).sum(axis=1)
        while len(chosen) < kk:
            nxt = int(min_d2.argmax())
            chosen.append(nxt)
            min_d2 = np.minimum(min_d2, ((seg - seg[nxt]) ** 2).sum(axis=1))
        cents = seg[chosen].copy()
        for _ in range(iters):
            d2 = ((seg[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(kk):
                members = seg[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    k: int = 16,
    sample_cap: int = 4096,
    iters: int = 10,
) -> list[list[list[float]]]:
    """Per-subvector k-means codebooks over RAW vectors: splits each
    sampled vector into ``m`` contiguous subvectors and trains ``k``
    centroids per subspace. Deterministic end-to-end. Returns
    ``m × k × (d/m)`` floats."""
    return _train_books(
        _sampled_matrix(corpus, id_col, vec_col, sample_cap), m, k, iters
    )


def train_ivfpq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    m: int = 8,
    k: int = 16,
    sample_cap: int = 4096,
    iters: int = 10,
) -> list[list[list[float]]]:
    """IVF-PQ residual codebooks (Jégou et al. 2011 §IV; FAISS IndexIVFPQ):
    assign the sample to its nearest coarse cell, subtract the centroid,
    and train PQ books on the RESIDUALS — far lower variance than raw
    vectors, so the same code budget buys more precision. Deterministic
    given the (offline-trained, committed) coarse quantizer."""
    import numpy as np

    pts = _sampled_matrix(corpus, id_col, vec_col, sample_cap)
    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    assign = (c2[None, :] - 2.0 * (pts @ C.T)).argmin(axis=1)
    return _train_books(pts - C[assign], m, k, iters)


def _encode_udf(codebooks: list[list[list[float]]]):
    """Arrow-batched codes: for each subvector, the index of its nearest
    codebook centroid (d² = |c|² − 2·x·c per subspace — the |x|² term is
    argmin-invariant; stable argmin ⇒ smallest index wins ties)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, k, sub = C.shape
    c2 = (C * C).sum(axis=2)  # (m, k)

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        S = V.reshape(len(V), m, sub)  # (n, m, sub)
        # (n, m, k): d2 up to the constant |x_m|^2
        d2 = c2[None, :, :] - 2.0 * np.einsum("nms,mks->nmk", S, C)
        # margin guard (same discipline as _band_buckets_udf): when the
        # best/second-best gap is within accumulation-order rounding, the
        # BLAS result could argmin differently from the SQL twin's
        # left-to-right sums — recompute those (row, subvector) slices
        # with the twin's exact operand order so the code can never diverge
        if k == 1:  # single centroid: every code is 0, nothing to guard
            return pd.Series(list(d2.argmin(axis=2).astype("int32")))
        best2 = np.partition(d2, 1, axis=2)[:, :, :2]
        margin = 1e-9 * np.maximum(1.0, np.abs(d2).max(axis=2))
        for i, mi in np.argwhere(best2[:, :, 1] - best2[:, :, 0] < margin):
            seg = S[i, mi]
            for j in range(k):
                cv = C[mi, j]
                c2s = 0.0
                for t in cv:
                    c2s = c2s + t * t
                dots = 0.0
                for a, b in zip(seg, cv):
                    dots = dots + a * b
                d2[i, mi, j] = c2s - 2.0 * dots
        codes = d2.argmin(axis=2).astype("int32")  # stable: first min wins
        return pd.Series(list(codes))

    return encode


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(id, codes array<int> of length m) — the compressed corpus
    representation a 100 TB deployment materializes once at index-build
    time next to (or instead of) the raw vectors."""
    return corpus.select(
        F.col(id_col),
        _encode_udf(codebooks)(as_double_array(vec_col)).alias("codes"),
    )


def _lut_udf(codebooks: list[list[list[float]]]):
    """Per-query ADC lookup table: flat array of m·k doubles where
    lut[mi*k + j] = ||q_mi − c_mi_j||² summed in ascending dim order
    (matches the SQL twin's left-to-right accumulation)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    C = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = C.shape

    @F.pandas_udf(ArrayType(DoubleType()))
    def lut(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        out = []
        for v in vs:
            q = np.asarray(v, dtype=np.float64).reshape(m, 1, sub)
            diff = (q - C) ** 2  # (m, k, sub)
            # strict ascending-dim accumulation, not pairwise .sum()
            acc = np.zeros((m, k))
            for s in range(sub):
                acc = acc + diff[:, :, s]
            out.append(acc.reshape(-1))
        return pd.Series(out)

    return lut


def _ivfpq_encode_udf(centroids, codebooks):
    """Arrow-batched (cell, codes) struct per vector: nearest coarse cell,
    then per-subvector residual codes — one pass, margin-guarded like
    `_encode_udf` so near-tie decisions match the SQL twin's left-to-right
    accumulation."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StructField,
        StructType,
    )

    C = np.asarray(centroids, dtype=np.float64)  # (ncell, d)
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, k, sub = B.shape
    c2 = (C * C).sum(axis=1)
    b2 = (B * B).sum(axis=2)

    schema = StructType(
        [
            StructField("cell", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )

    @F.pandas_udf(schema)
    def encode(vs: pd.Series) -> pd.DataFrame:
        if not len(vs):
            return pd.DataFrame({"cell": [], "codes": []})
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        dc = c2[None, :] - 2.0 * (V @ C.T)
        # cell margin guard: near-tie rows recompute sequentially
        if dc.shape[1] > 1:
            srt = np.sort(dc, axis=1)
            margin = 1e-9 * np.maximum(1.0, np.abs(dc).max(axis=1))
            for i in np.flatnonzero(np.diff(srt, axis=1).min(axis=1) < margin):
                for j in range(len(C)):
                    cs = 0.0
                    for t in C[j]:
                        cs = cs + t * t
                    ds = 0.0
                    for a, b in zip(V[i], C[j]):
                        ds = ds + a * b
                    dc[i, j] = cs - 2.0 * ds
        cell = dc.argmin(axis=1)
        R = (V - C[cell]).reshape(len(V), m, sub)
        d2 = b2[None, :, :] - 2.0 * np.einsum("nms,mks->nmk", R, B)
        if k > 1:
            best2 = np.partition(d2, 1, axis=2)[:, :, :2]
            margin = 1e-9 * np.maximum(1.0, np.abs(d2).max(axis=2))
            for i, mi in np.argwhere(best2[:, :, 1] - best2[:, :, 0] < margin):
                seg = R[i, mi]
                for j in range(k):
                    bv = B[mi, j]
                    bs = 0.0
                    for t in bv:
                        bs = bs + t * t
                    ds = 0.0
                    for a, b in zip(seg, bv):
                        ds = ds + a * b
                    d2[i, mi, j] = bs - 2.0 * ds
        codes = d2.argmin(axis=2).astype("int32")
        return pd.DataFrame(
            {"cell": cell.astype("int32"), "codes": list(codes)}
        )

    return encode


def _ivfpq_lut_udf(centroids, codebooks):
    """Per-(query, probed cell) ADC table over RESIDUAL space: flat m·k
    doubles where lut[mi*k + j] = ||(q − centroid(cell))_mi − b_mi_j||²,
    ascending-dim accumulation (matches the SQL twin)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)
    m, k, sub = B.shape

    @F.pandas_udf(ArrayType(DoubleType()))
    def lut(vs: pd.Series, cells: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        out = []
        for v, cell in zip(vs, cells):
            q = np.asarray(v, dtype=np.float64) - C[int(cell)]
            diff = (q.reshape(m, 1, sub) - B) ** 2
            acc = np.zeros((m, k))
            for s in range(sub):
                acc = acc + diff[:, :, s]
            out.append(acc.reshape(-1))
        return pd.Series(out)

    return lut


def _adc_shortlist_kernel(m: int, kk: int, shortlist: int):
    """Cogrouped-map ADC: one ordered numpy gather-accumulation per key
    group computes every (query, code-row) distance and only the
    group-local shortlist leaves Python (r11, guide §2.3/§4.2 — replaces
    the per-pair interpreted ``aggregate(sequence(...))`` HOF whose
    windowed shortlist shipped the full pair relation; measured 5.5 s →
    ~2 s on knn_pq_20x for identical results).

    BIT-exact vs the HOF/SQL-twin evaluation, not merely close: the LUT
    rides in from `_lut_udf` unchanged and the kernel accumulates
    ``D += lut[mi·k + codes[mi]]`` in the same ascending-``mi`` float64
    order the HOF's left-to-right fold uses — no BLAS re-association
    anywhere, so no margin guard is needed. Ties rank neighbor-id ASC via
    the presorted-member + stable-argsort trick (`_topk_score_kernel`);
    self-pairs (query_id == neighbor_id) are excluded, as before."""
    import numpy as np

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left) or not len(right):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "adc_d2": []}
            )
        right = right.sort_values(
            "neighbor_id", kind="mergesort", ignore_index=True
        )
        codes = np.stack(
            [np.asarray(cs, dtype=np.int64) for cs in right["codes"]]
        )
        L = np.stack(
            [np.asarray(lt, dtype=np.float64) for lt in left["lut"]]
        ).reshape(len(left), m, kk)
        D = np.zeros((len(left), len(right)), dtype=np.float64)
        for mi in range(m):
            D = D + L[:, mi, codes[:, mi]]
        qid = left["query_id"].to_numpy()
        nid = right["neighbor_id"].to_numpy()
        D = np.where(qid[:, None] == nid[None, :], np.inf, D)
        ks = min(shortlist, D.shape[1])
        idx = np.argsort(D, axis=1, kind="stable")[:, :ks]
        dk = np.take_along_axis(D, idx, axis=1)
        keep = np.isfinite(dk).ravel()
        return pd.DataFrame(
            {
                "query_id": np.repeat(qid, ks)[keep],
                "neighbor_id": nid[idx.ravel()][keep],
                "adc_d2": dk.ravel()[keep],
            }
        )

    return score


def _rescore_shortlist(
    local: DataFrame, shortlist: int, queries: DataFrame, corpus: DataFrame,
    id_col: str, vec_col: str, k: int,
) -> DataFrame:
    """Global shortlist over the per-group local shortlists (adc ASC, id
    ASC; groups are disjoint in ``neighbor_id`` for both callers, so no
    dedupe), then the exact rescore: full vectors are re-fetched for the
    shortlisted ids only (queries broadcast) and `_score_topk` ranks."""
    short = _rank_topk(
        local, shortlist, score="adc_d2", ascending=True,
        cols=["query_id", "neighbor_id"],
    )
    x = _vec_side(queries, id_col, vec_col, "query_id", "qv", "qn")
    y = _vec_side(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
    return _score_topk(
        short.join(F.broadcast(x), "query_id").join(y, "neighbor_id"), k
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 64,
) -> DataFrame:
    """IVF-PQ approximate top-k — the canonical 100 TB ANN plan (FAISS
    IndexIVFPQ; Jégou et al. 2011 §IV): coarse cells prune the corpus to
    ~nprobe/n_cells, residual-PQ codes shrink what remains ~32×, ADC is a
    table-lookup sum, and only the shortlist reads full vectors.

    Spark shape: the ADC stage is an EQUI-JOIN on the small int cell id
    (queries explode to nprobe rows with a per-cell broadcast LUT; the
    codes relation streams in place, partition-prunable when the store is
    partitioned by cell), followed by zip_with/aggregate sums JVM-side —
    no Python touches the corpus-sized path. Value-hash gated end-to-end
    by the DuckDB twin (workload/vectors.py:vec_knn_ivfpq)."""
    m = len(codebooks)
    kk = len(codebooks[0])
    enc = _ivfpq_encode_udf(centroids, codebooks)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        enc(as_double_array(vec_col)).alias("_e"),
    ).select("neighbor_id", F.col("_e.cell").alias("cell"), F.col("_e.codes").alias("codes"))

    probe = _nearest_cells_udf(centroids, nprobe)
    lutf = _ivfpq_lut_udf(centroids, codebooks)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double_array(vec_col).alias("qv"),
        )
        .withColumn("cell", F.explode(probe(F.col("qv"))))
        .withColumn("lut", lutf(F.col("qv"), F.col("cell")))
    )

    # ADC over probed cells via the cogrouped ordered-accumulation kernel
    # (the cell id IS the group key — no synthetic grouping needed): each
    # probed (query, cell) LUT meets that cell's codes once, only local
    # shortlists leave Python, and the compressed-domain scan still touches
    # exactly nprobe/n_cells of the corpus.
    qid_t = dict(queries.dtypes)[id_col]
    nid_t = dict(corpus.dtypes)[id_col]
    local = (
        q.select("query_id", "cell", "lut")
        .groupBy("cell")
        .cogroup(c.groupBy("cell"))
        .applyInPandas(
            _adc_shortlist_kernel(m, kk, shortlist),
            f"query_id {qid_t}, neighbor_id {nid_t}, adc_d2 double",
        )
    )
    return _rescore_shortlist(
        local, shortlist, queries, corpus, id_col, vec_col, k
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 64,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ approximate top-k: ADC shortlist in the compressed domain, then
    exact cosine rescore of the shortlist only.

    The corpus-sized work is one broadcast equi-free pass: each corpus row
    evaluates Σ_mi lut[mi·k + codes[mi]] via zip_with/aggregate — pure JVM
    expressions over an int array and the query's broadcast LUT; full
    vectors are read only for the ``shortlist`` survivors per query
    (shortlist ≪ corpus ⇒ the rescore join is partition-pruned by the
    broadcast id set at scale). ``codes`` accepts a pre-materialized
    `pq_encode` output (the stored-index path).

    SELECTION RULE — this is FAISS IndexPQ semantics: an EXHAUSTIVE
    compressed-domain scan of every code row per query. That is the right
    tool up to ~10⁶ codes (32× smaller than raw vectors, one codegen
    pass); above that, use :func:`ivfpq_topk`, which prunes the scan to
    nprobe coarse cells and is the only variant whose per-query cost stays
    flat as the corpus grows."""
    import numpy as np  # noqa: F401  (documents the numpy dependency)

    m = len(codebooks)
    kk = len(codebooks[0])
    if codes is None:
        codes = pq_encode(corpus, id_col, vec_col, codebooks)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double_array(vec_col).alias("qv"),
    ).withColumn("lut", _lut_udf(codebooks)(F.col("qv")))

    c = codes.select(F.col(id_col).alias("neighbor_id"), "codes")
    # ADC via the cogrouped ordered-accumulation kernel: the codes relation
    # is split into scale-adaptive groups on a deterministic id hash (not a
    # physical partition id — values must not depend on layout) and each
    # query's LUT meets each group once; the exhaustive compressed-domain
    # scan FAISS IndexPQ semantics requires still happens, but as m numpy
    # gathers per group instead of an interpreted fold per pair, and only
    # local shortlists reach the global window.
    spark = corpus.sparkSession
    n_groups = max(2 * spark.sparkContext.defaultParallelism, 1)
    cg = c.withColumn(
        "_grp",
        F.pmod(
            F.xxhash64(F.col("neighbor_id").cast("string")), F.lit(n_groups)
        ).cast("int"),
    )
    qg = q.select("query_id", "lut").crossJoin(
        F.broadcast(
            spark.range(n_groups).select(F.col("id").cast("int").alias("_grp"))
        )
    )
    qid_t = dict(queries.dtypes)[id_col]
    nid_t = dict(corpus.dtypes)[id_col]
    local = (
        qg.groupBy("_grp")
        .cogroup(cg.groupBy("_grp"))
        .applyInPandas(
            _adc_shortlist_kernel(m, kk, shortlist),
            f"query_id {qid_t}, neighbor_id {nid_t}, adc_d2 double",
        )
    )
    return _rescore_shortlist(
        local, shortlist, queries, corpus, id_col, vec_col, k
    )
