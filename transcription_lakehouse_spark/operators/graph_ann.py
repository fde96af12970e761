"""Graph-based ANN: k-NN-graph build + beam-search query (M2 family).

The reference's ANN index is a FAISS HNSW graph
(`/root/reference/src/lakehouse/indexing/faiss_builder.py:30-147`): build
walks the corpus inserting each vector into a layered neighbor graph;
search greedily walks edges toward the query. This module is the
Spark-shaped equivalent of that *class* of index — a navigable neighbor
graph built once, then traversed at query time — expressed entirely as
equi-joins and window ranks so it distributes and (unlike HNSW's
insertion-order-dependent layers) stays deterministic enough to
value-hash-gate against a DuckDB twin:

- **build** (:func:`build_knn_graph`): the directed k-NN graph whose edges
  are each node's top-``k_graph`` neighbors among banded-LSH candidates —
  exactly ``lsh_topk(corpus, corpus)``. One bucket equi-join, no O(n²)
  pair relation; at 100 TB this is the one-time index build (store the
  edge list partitioned by ``src``).
- **search** (:func:`graph_topk`): fixed-round greedy beam search. Seeds
  come from a NARROW slice of the same LSH family (``seed_bands`` of the
  build's ``n_bands`` — cheap, low-recall); each hop joins the current
  beam against the edge list, rescores the union of visited candidates,
  and keeps the top-``beam`` per query. The graph repairs the recall the
  narrow seed misses (recall floor pinned in tests/test_operators.py) —
  the same role HNSW's upper layers play for its greedy descent.

Every step is deterministic: md5-derived hyperplanes, cosines rounded to
6 digits, ties broken by neighbor id — so the DuckDB oracle
(`workload/vectors.py:VEC_KNN_GRAPH_SQL`) replays build + search
CTE-for-CTE and the driver hash-gates the whole index, not just row
counts.

Scale anatomy (100 TB): the edge list is O(N·k_graph) two-int rows; the
per-hop frontier is O(|Q|·beam) rows — broadcast side of every join; the
corpus never shuffles (vectors are fetched by id equi-join). Search cost
is independent of corpus size given the graph, which is the point of a
graph index.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..ckpt import cut_lineage
from ..functions.vector import guarded_cosine
from .similarity import (
    _collision_scores,
    _dedupe_by,
    _rank_topk,
    _vec_side,
    ivf_topk,
    lsh_topk,
)

# Fat bucket rows (vector payload included) a single append may broadcast:
# |batch| x n_bands rows at 64-dim float64 ≈ 600 B/row → the cap keeps the
# built relation near ~1 GiB, well under Spark's 8 GiB broadcast limit.
_APPEND_BROADCAST_FAT_ROW_CAP = 2_000_000

__all__ = [
    "build_knn_graph",
    "append_knn_graph",
    "graph_topk",
    "graph_topk_coarse",
]


def build_knn_graph(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k_graph: int = 8,
    n_bands: int = 8,
    planes_per_band: int = 4,
) -> DataFrame:
    """Directed k-NN graph ``(src, dst, sim)``: each node's top-``k_graph``
    cosine neighbors among its banded-LSH candidates (OR of ``n_bands``
    bands, AND of ``planes_per_band`` planes — the family `lsh_topk`
    documents). Self-edges excluded; ties broken by dst id."""
    edges = lsh_topk(
        corpus,
        corpus,
        id_col,
        vec_col,
        k=k_graph,
        n_bands=n_bands,
        planes_per_band=planes_per_band,
    )
    return edges.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"), "sim"
    )


def append_knn_graph(
    graph: DataFrame,
    old_corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    k_graph: int = 8,
    n_bands: int = 8,
    planes_per_band: int = 4,
) -> DataFrame:
    """Incremental graph-index maintenance (the M3 incremental semantics —
    reference shape `src/lakehouse/indexing/incremental.py:200-276` —
    applied to the graph index): fold a batch of NEW vectors into an
    existing k-NN edge list WITHOUT rebuilding it, and produce EXACTLY the
    graph a full rebuild over ``old_corpus ∪ batch`` would produce.

    Exactness argument (the contract the pytest pins row-for-row): an
    edge list row is "top-``k_graph`` among banded-LSH candidates of its
    src". Bucket membership is corpus-independent (fixed md5 hyperplanes),
    so appending a batch changes each EXISTING src's candidate set only by
    adding batch members sharing a bucket — and ``top-k(old_cands ∪ new) =
    top-k(top-k(old_cands) ∪ new)`` because anything outside the old top-k
    is dominated by k retained candidates. New srcs are scored against the
    full corpus directly. Hence three disjoint pieces:

    - untouched existing srcs (no bucket collision with the batch): edges
      pass through verbatim — at 100 TB this is almost the whole stored,
      src-partitioned edge list, read and written without rescoring;
    - touched existing srcs: one banded old×batch equi-join, exact-rescore
      of just the new candidates, re-rank against the src's stored edges;
    - batch srcs: one ``lsh_topk(batch, full)`` — the build semantics.

    Cost: O(|batch| · bucket population) joins + O(touched · k_graph)
    re-ranks; the old corpus is never self-joined again.

    Broadcast safety (r12, ADVICE r11): the batch-side bucket rows carry
    full vectors (|batch| × n_bands fat rows) and the touched-src set is
    bounded only by the batch's bucket collisions — neither is
    structurally small. One count() of the batch up front decides whether
    the broadcast hints are safe; past the cap every hint is dropped and
    the joins degrade to planner-chosen shuffles instead of failing on
    the 8 GB broadcast limit or driver memory."""
    small = (
        batch.count() * n_bands <= _APPEND_BROADCAST_FAT_ROW_CAP
    )
    scored_new = _batch_candidate_scores(
        old_corpus, batch, id_col, vec_col, n_bands, planes_per_band,
        broadcast_batch=small,
    )
    new_src_edges = _new_src_edges(
        old_corpus, batch, id_col, vec_col,
        k_graph, n_bands, planes_per_band,
        broadcast_batch=small,
    )
    return _fold_edges(
        graph, scored_new, k_graph, broadcast_touched=small
    ).unionByName(new_src_edges)


def _new_src_edges(
    old_corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    k_graph: int,
    n_bands: int,
    planes_per_band: int,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Batch srcs' edges: exactly the build path, scoped to the new rows —
    ``lsh_topk(batch, old ∪ batch)``."""
    full = old_corpus.unionByName(batch)
    return lsh_topk(
        batch, full, id_col, vec_col,
        k=k_graph, n_bands=n_bands, planes_per_band=planes_per_band,
        broadcast_queries=broadcast_batch,
    ).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
        "sim",
    )


def _batch_candidate_scores(
    old_corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    n_bands: int,
    planes_per_band: int,
    broadcast_batch: bool = True,
) -> DataFrame:
    """Exact cosines for every (existing src, batch dst) banded-bucket
    collision — the only existing-src edges an append can change. Srcs
    absent from this relation are untouched by construction (bucket
    membership is corpus-independent). The small BATCH side broadcasts
    (`_collision_scores`); multi-band duplicates collapse over the ``src``
    exchange the fold's touched-src distinct and re-rank share."""
    o = _vec_side(old_corpus, id_col, vec_col, "src", "qv", "qn")
    b = _vec_side(batch, id_col, vec_col, "dst", "cv", "cn")
    scored = _collision_scores(
        b, o, n_bands, planes_per_band, broadcast=broadcast_batch
    ).filter(F.col("src") != F.col("dst"))
    return _dedupe_by(scored.select("src", "dst", "sim"), "src")


def _fold_edges(
    graph: DataFrame, scored_new: DataFrame, k_graph: int,
    broadcast_touched: bool = True,
) -> DataFrame:
    """Fold freshly scored (existing src → batch dst) candidates into a
    stored edge list: untouched srcs pass through verbatim; touched srcs
    re-rank their stored top-k against the new candidates. Exact by the
    domination argument in :func:`append_knn_graph` — ``graph`` may be
    the full edge list or any slice that CONTAINS every touched src's
    rows (e.g. only the state buckets being rewritten)."""
    # `touched` is bounded by the batch's bucket collisions — broadcast it
    # so the stored edge list streams through both the anti-join and the
    # re-rank semi-join instead of shuffling by src (guide §3.1; at 100 TB
    # the stored edge list is the table you must never re-shuffle).
    touched = scored_new.select("src").distinct()
    if broadcast_touched:
        touched = F.broadcast(touched)
    untouched = graph.join(touched, "src", "left_anti")
    re_ranked = _rank_topk(
        graph.join(touched, "src")
        .select("src", "dst", "sim")
        .unionByName(scored_new),
        k_graph, by="src", tie="dst", cols=["src", "dst", "sim"],
    )
    return untouched.unionByName(re_ranked)


def _score(cand: DataFrame, q: DataFrame, c: DataFrame) -> DataFrame:
    """Exact cosine for (query_id, node_id) candidate pairs — the SHARED
    `guarded_cosine` expression (functions/vector.py), so graph ranks can
    never diverge from the other ANN paths' ranks.

    Join shape (r11, guide §3.1): ``cand`` (O(|Q|·beam·k_graph) thin rows)
    and ``q`` (the query vectors) are the broadcast sides; the CORPUS
    streams and never shuffles. The hints are load-bearing: ``cand``
    usually descends from a localCheckpointed beam whose LogicalRDD
    carries no size statistics, so without them the planner assumes a
    huge build side and SortMergeJoins — re-shuffling the whole corpus
    vector relation once per hop (measured: the hop fragments carried 2
    corpus exchanges each at the 20x scale)."""
    return (
        c.join(F.broadcast(cand), "node_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "node_id",
            guarded_cosine(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("sim"),
        )
    )


def _top_beam(scored: DataFrame, beam: int) -> DataFrame:
    return _rank_topk(
        scored, beam, tie="node_id", cols=["query_id", "node_id", "sim"]
    )


def graph_topk(
    queries: DataFrame,
    corpus: DataFrame,
    graph: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    beam: int = 10,
    hops: int = 2,
    seed_bands: int = 2,
    planes_per_band: int = 4,
) -> DataFrame:
    """Greedy beam search over a prebuilt k-NN graph:
    ``(query_id, neighbor_id, rank, sim)``.

    Round 0 seeds each query with the corpus rows sharing any of the first
    ``seed_bands`` bands' buckets (the same md5 plane family the graph was
    built with, so seeds need no extra hashing state). Each of ``hops``
    rounds then expands the beam one edge along ``graph``, rescores the
    visited set exactly, and keeps the top-``beam``; the final beam is
    ranked to top-``k``. ``beam >= k`` is required — the beam retains
    every node the final ranking can need.

    Queries with zero seed candidates produce no rows (same contract as
    `lsh_topk` when no bucket collides).
    """
    if beam < k:
        raise ValueError(f"graph_topk: beam={beam} must be >= k={k}")
    q = _vec_side(queries, id_col, vec_col, "query_id", "qv", "qn")
    c = _vec_side(corpus, id_col, vec_col, "node_id", "cv", "cn")

    # Seed scoring AT the bucket-collision row (`_collision_scores`): the
    # search-side query set is sparse (≪ bucket space), so its bucket rows
    # broadcast WITH their vectors and the corpus streams from the scan;
    # multi-band duplicates collapse in the beam rank's one exchange. A
    # cogrouped GEMM would ship seed_bands copies of every corpus vector
    # through the exchange + Arrow boundary regardless of |Q| — measured
    # 4.7 s (pair shape) vs 5.4-6.0 s (three GEMM variants) on
    # graph_search_20x; the GEMM wins only for corpus-scale pair relations
    # (the graph BUILD's lsh_topk self-join).
    seed_scored = _collision_scores(
        q, c, seed_bands, planes_per_band
    ).filter(F.col("query_id") != F.col("node_id"))
    beam_df = _rank_topk(
        seed_scored, beam, dedupe=True, tie="node_id",
        cols=["query_id", "node_id", "sim"],
    )
    return _walk_and_rank(beam_df, graph, q, c, hops, beam, k)


def _walk_and_rank(
    beam_df: DataFrame, graph: DataFrame, q: DataFrame, c: DataFrame,
    hops: int, beam: int, k: int,
    checkpoint_hops: bool = True,
) -> DataFrame:
    """Shared beam-walk + final ranking for both seed strategies.

    Plan-compile guard: every hop UNROLLS into the logical plan (~1,900
    physical-plan lines / ~90 exchanges per hop at sf0.1, and each hop
    references the beam twice, so the analyzer cost is super-linear in
    depth — the stored-graph search at hops=2 compiled to a 4,631-line
    plan with 288 exchanges, ~2 s of planning per bench run).
    ``checkpoint_hops`` (default: always on) severs the lineage after
    each hop with a LAZY localCheckpoint, so every compiled plan stays
    one-hop-sized and the beam materializes exactly once per hop during
    the one real action; values are unchanged (the checkpoint
    materializes, never recomputes, the beam — parity pinned at hops=2
    by tests/test_plans.py). ``checkpoint_hops=False`` keeps the fully
    unrolled declarative lineage for plan inspection."""
    for _ in range(hops):
        # rescore only the NEW frontier — the beam's sims are already exact
        # (pure functions of the pair), so re-fetching those vectors every
        # hop would be wasted corpus reads; anti-join keeps a node from
        # occupying two beam slots
        # the beam is O(|Q|·beam) thin rows — ALWAYS the broadcast side
        # (module docstring's scale anatomy). Explicit hints because the
        # checkpointed beam's LogicalRDD has no size stats, so the planner
        # would otherwise sort-merge and shuffle the EDGE LIST per hop.
        frontier = (
            F.broadcast(beam_df.select("query_id", F.col("node_id").alias("src")))
            .join(graph.select("src", "dst"), "src")
            .filter(F.col("query_id") != F.col("dst"))
            .select("query_id", F.col("dst").alias("node_id"))
            .distinct()
            .join(
                F.broadcast(beam_df.select("query_id", "node_id")),
                ["query_id", "node_id"],
                "left_anti",
            )
        )
        beam_df = _top_beam(
            _score(frontier, q, c).unionByName(beam_df), beam
        )
        if checkpoint_hops:
            # lazy: nothing executes at build time; the beam materializes
            # on first use inside the query's one real action
            beam_df = cut_lineage(beam_df, eager=False)

    return _rank_topk(
        beam_df, k, tie="node_id",
        cols=["query_id", F.col("node_id").alias("neighbor_id"), "rank", "sim"],
    )


def graph_topk_coarse(
    queries: DataFrame,
    corpus: DataFrame,
    graph: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    k: int = 5,
    beam: int = 10,
    hops: int = 2,
    nprobe: int = 1,
) -> DataFrame:
    """Two-layer graph descent — the HNSW-style coarse→fine search the
    reference's layered index performs (`faiss_builder.py:30-147`), with
    the committed IVF k-means quantizer as the coarse layer:

    - **layer 0 (coarse)**: each query probes its ``nprobe`` nearest
      committed centroids; the seed beam is the top-``beam`` exact-cosine
      members of those cells — literally ``ivf_topk(k=beam)``, reusing the
      already-trained, already-hash-gated quantizer (no new artifact).
    - **layer 1 (fine)**: the k-NN-graph beam walk (`_walk_and_rank`)
      refines from those seeds, recovering cross-cell neighbors the
      coarse layer prunes away.

    vs :func:`graph_topk`'s narrow LSH seed slice (recall@5 0.16 seed-only)
    the centroid seed starts at IVF-level recall and the walk climbs from
    there — measured 0.92 at nprobe=1/2 hops on sf0.01 (frontier table in
    SCALING.md). Cost: the seed rescore touches ~nprobe/n_cells of the
    corpus per query (IVF's per-cell cogrouped GEMM); each hop is the same O(|Q|·beam·k_graph) frontier join as
    graph_topk. Deterministic end-to-end (committed centroid literals,
    stable argsort with index tiebreak, rounded cosines, id tiebreaks), so
    the DuckDB twin (`VEC_KNN_GRAPH_COARSE_SQL`) replays assignment, seed
    beam, and walk CTE-for-CTE."""
    if beam < k:
        raise ValueError(f"graph_topk_coarse: beam={beam} must be >= k={k}")
    q = _vec_side(queries, id_col, vec_col, "query_id", "qv", "qn")
    c = _vec_side(corpus, id_col, vec_col, "node_id", "cv", "cn")
    beam_df = ivf_topk(
        queries, corpus, id_col, vec_col,
        k=beam, centroids=centroids, nprobe=nprobe,
    ).select("query_id", F.col("neighbor_id").alias("node_id"), "sim")
    return _walk_and_rank(beam_df, graph, q, c, hops, beam, k)
