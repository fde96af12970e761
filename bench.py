"""Benchmark harness: runs the headline queries and the SCALED entries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line: {"metric": ...,
"value": total_sec, "unit": "sec", "queries": {name: sec}, "sf": ...},
then a compact final line (``_final_line``).

Each query is forced to full materialization via collect() (all outputs are
small aggregates / top-k lists).

Usage:
    python bench.py                  # the whole suite
    python bench.py name [name ...]  # only the named HEADLINE/SCALED entries,
                                     # in suite order, same timing rules
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.sources.tables import (  # noqa: E402
    load_table,
    load_tables,
    replicate,
)
from transcription_lakehouse_spark.workload import QUERIES  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "q_top_parts_per_brand",
    "evt_user_catalog",
    "evt_sessions",
    "evt_interval_union",
    "evt_max_concurrency",
    "doc_token_stats",
    "doc_top_unigrams",
    "doc_ngram_jaccard_topk",
    "doc_fingerprints",
    "vec_knn_bruteforce",
    "vec_knn_lsh",
    "vec_knn_ivf_fixed",
    "vec_knn_pq",
    "vec_knn_ivfpq",
    "vec_knn_graph",
    "evt_asof_last_view",
    "doc_decontamination",
    "doc_gopher_report",
    "trn_span_catalog",
    "trn_beat_catalog",
    "trn_section_catalog",
    "trn_beat_semantic_catalog",
    "trn_section_semantic_catalog",
    "doc_curation_funnel",
    "doc_curation_v4",
    "doc_dup_clusters",
    "doc_dup_spans",
    "doc_cut_dup_spans",
    "vec_semantic_dedup_p95",
    "vec_semdedup_kmeans",
    "vec_pca_coords",
    "doc_unigram_logprob",
    "evt_overlap_join",
    "evt_cms_heavy_hitters",
    "evt_hll_cardinality",
    "evt_kmv_overlap",
    "doc_bloom_decontam",
    "vec_semantic_decontam",
    "doc_quality_classifier",
    "doc_training_order",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "doc_dsir_weights",
    "doc_ngram_logprob",
    "vec_kcenter_coreset",
    "doc_bm25_topk",
    "vec_knn_int8_rerank",
    "doc_hybrid_rrf",
    "vec_mmr_rerank",
]


def _embeddings_20x(spark, sf_dir: str):
    """embeddings replicated 20x with distinct vec_ids (40k vectors at
    sf0.1), spread like a stored table so corpus-side scoring parallelizes
    (queries are broadcast — corpus partitioning IS the parallelism)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return replicate(emb, 20, "vec_id").select("vec_id", "embedding")


def _documents_20x(spark, sf_dir: str):
    """documents replicated 20x with distinct doc_ids — stresses the dedup
    scale paths with real duplicates present (every replica group is a dup
    set)."""
    docs = load_table(spark, sf_dir, "documents")
    return replicate(docs, 20, "doc_id").select("doc_id", "text", "lang", "source")


def bench_minhash_dedup_scaled(spark, sf_dir: str):
    """MinHash+LSH candidate generation + band bucketing over 20x documents
    (10k docs, each with 19 true near-dup partners)."""
    from transcription_lakehouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = _documents_20x(spark, sf_dir)
    sigs = minhash_signature(docs, "doc_id", "text", n=3)
    return lsh_candidate_pairs(sigs, "doc_id").groupBy().count()


def bench_knn_lsh_scaled(spark, sf_dir: str):
    """Hyperplane-LSH ANN over 20x embeddings (10k vectors, 400 queries)."""
    from transcription_lakehouse_spark.operators.similarity import lsh_topk

    big = _embeddings_20x(spark, sf_dir)
    queries = big.filter(F.col("vec_id") % 25 == 0)
    # planes_per_band scales with the corpus (10 planes -> 1024 buckets/band
    # over 100k vectors keeps per-bucket candidate sets ~100): finer buckets
    # bound the rescore volume, more bands buy recall back
    return lsh_topk(queries, big, "vec_id", "embedding", k=5, n_bands=8, planes_per_band=10)


def bench_knn_pq_scaled(spark, sf_dir: str):
    """PQ ANN over 20x embeddings (40k vectors, 400 queries): ADC over the
    8-int compressed codes + shortlist-64 exact rescore — the corpus-sized
    stage reads ~32x fewer bytes than the raw-vector scan."""
    from transcription_lakehouse_spark.operators.pq import pq_topk
    from transcription_lakehouse_spark.workload._pq_codebooks import CODEBOOKS

    big = _embeddings_20x(spark, sf_dir)
    queries = big.filter(F.col("vec_id") % 100 == 0)
    return pq_topk(queries, big, "vec_id", "embedding", CODEBOOKS, k=5, shortlist=64)


def bench_knn_ivf_scaled(spark, sf_dir: str):
    """IVF ANN over 20x embeddings (10k vectors, 400 queries): k-means cell
    assignment + nprobe=4/32 probing — queries touch ~1/8 of the corpus."""
    from transcription_lakehouse_spark.operators.similarity import ivf_topk

    big = _embeddings_20x(spark, sf_dir)
    queries = big.filter(F.col("vec_id") % 25 == 0)
    return ivf_topk(queries, big, "vec_id", "embedding", k=5, n_cells=32, nprobe=4)


def bench_knn_ivfpq_scaled(spark, sf_dir: str):
    """IVF-PQ ANN over 20x embeddings (40k vectors, 400 queries): coarse
    cells prune to nprobe/n_cells of the corpus BEFORE the ADC stage, so
    the per-query ranking shuffle shrinks ~8x vs flat PQ — the composed
    index is the 100 TB plan, flat PQ the small-corpus baseline."""
    from transcription_lakehouse_spark.operators.pq import ivfpq_topk
    from transcription_lakehouse_spark.workload._ivf_quantizer import CENTROIDS
    from transcription_lakehouse_spark.workload._ivfpq_codebooks import (
        CODEBOOKS as RESIDUAL_BOOKS,
    )

    big = _embeddings_20x(spark, sf_dir)
    queries = big.filter(F.col("vec_id") % 100 == 0)
    return ivfpq_topk(
        queries, big, "vec_id", "embedding", CENTROIDS, RESIDUAL_BOOKS,
        k=5, nprobe=4, shortlist=64,
    )


def bench_semantic_decontam_scaled(spark, sf_dir: str):
    """Semantic decontamination of a 20x corpus (40k vectors) against a
    fixed ~100-vector eval slice: the asymmetric production shape — eval
    buckets broadcast, wall tracks the corpus scan, never corpus x eval."""
    from transcription_lakehouse_spark.operators.decontam import (
        semantic_decontam,
    )

    big = _embeddings_20x(spark, sf_dir)
    evalset = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 20 == 0)
    return semantic_decontam(
        big, evalset, "vec_id", "embedding",
        threshold=0.35, n_bands=8, planes_per_band=4,
    )


# Graph-ANN build vs search, timed separately (round-5 verdict: the
# monolithic vec_knn_graph entry charged the one-time O(N*k_graph) index
# build to every query). Build = construct + STORE the edge list (what a
# 100 TB deployment does once); search = beam walk over the stored edges.
_GRAPH_STORE = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), "bench_graph_edges"
)


def bench_graph_build(spark, sf_dir: str):
    from transcription_lakehouse_spark.operators.graph_ann import (
        build_knn_graph,
    )

    e = load_table(spark, sf_dir, "embeddings")
    g = build_knn_graph(
        e, "vec_id", "embedding", k_graph=16, n_bands=8, planes_per_band=4
    )
    g.write.mode("overwrite").parquet(_GRAPH_STORE + "_1x")
    return spark.read.parquet(_GRAPH_STORE + "_1x").groupBy().count()


def bench_graph_search(spark, sf_dir: str):
    from transcription_lakehouse_spark.operators.graph_ann import graph_topk

    e = load_table(spark, sf_dir, "embeddings")
    g = spark.read.parquet(_GRAPH_STORE + "_1x")
    queries = e.filter(F.col("vec_id") % 25 == 0)
    return graph_topk(
        queries, e, g, "vec_id", "embedding",
        k=5, beam=16, hops=2, seed_bands=2, planes_per_band=4,
    )


def bench_graph_search_coarse(spark, sf_dir: str):
    """Two-layer descent over the same stored graph: committed-IVF coarse
    seed (nprobe=4) + beam-24 walk — higher recall than the LSH seed
    (0.865 vs 0.705 on the sf0.1 frontier corpus) from the same index."""
    from transcription_lakehouse_spark.operators.graph_ann import (
        graph_topk_coarse,
    )
    from transcription_lakehouse_spark.workload._ivf_quantizer import (
        CENTROIDS,
    )

    e = load_table(spark, sf_dir, "embeddings")
    g = spark.read.parquet(_GRAPH_STORE + "_1x")
    queries = e.filter(F.col("vec_id") % 25 == 0)
    return graph_topk_coarse(
        queries, e, g, "vec_id", "embedding", CENTROIDS,
        k=5, beam=24, hops=2, nprobe=4,
    )


def bench_graph_build_20x(spark, sf_dir: str):
    """Index build over the 20x corpus. planes_per_band scales to 10 (the
    knn_lsh_20x rule: finer buckets bound per-bucket candidate sets as the
    corpus grows — the build's bucket self-join is the quadratic risk)."""
    from transcription_lakehouse_spark.operators.graph_ann import (
        build_knn_graph,
    )

    big = _embeddings_20x(spark, sf_dir)
    g = build_knn_graph(
        big, "vec_id", "embedding", k_graph=16, n_bands=8, planes_per_band=10
    )
    g.write.mode("overwrite").parquet(_GRAPH_STORE + "_20x")
    return spark.read.parquet(_GRAPH_STORE + "_20x").groupBy().count()


def bench_graph_search_coarse_20x(spark, sf_dir: str):
    """Coarse two-layer descent over the stored 20x graph: the IVF seed
    layer scores |Q| x 64 centroids (corpus-independent) and each probed
    cell's member scan grows with the corpus but stays nprobe/64 of it;
    the walk stage is O(|Q| * beam * k_graph) regardless of corpus."""
    from transcription_lakehouse_spark.operators.graph_ann import (
        graph_topk_coarse,
    )
    from transcription_lakehouse_spark.workload._ivf_quantizer import (
        CENTROIDS,
    )

    big = _embeddings_20x(spark, sf_dir)
    g = spark.read.parquet(_GRAPH_STORE + "_20x")
    queries = big.filter(F.col("vec_id") % 500 == 0)
    return graph_topk_coarse(
        queries, big, g, "vec_id", "embedding", CENTROIDS,
        k=5, beam=24, hops=2, nprobe=4,
    )


def bench_graph_search_20x(spark, sf_dir: str):
    """Search over the stored 20x graph: the walk stage's cost is
    O(|Q| * beam * k_graph) — independent of corpus size; only the seed
    stage scans bucket members (bounded by the finer 10-plane buckets)."""
    from transcription_lakehouse_spark.operators.graph_ann import graph_topk

    big = _embeddings_20x(spark, sf_dir)
    g = spark.read.parquet(_GRAPH_STORE + "_20x")
    queries = big.filter(F.col("vec_id") % 500 == 0)
    return graph_topk(
        queries, big, g, "vec_id", "embedding",
        k=5, beam=16, hops=2, seed_bands=2, planes_per_band=10,
    )


# SQ8 build vs search, timed separately (round-8 verdict "wrong #2": the
# monolithic vec_knn_int8 oracle entry charges the one-time quantize-build
# to every query — same adjudication the graph family got in r6). Build =
# per-dim max + quantize + PERSIST the int8-dequantized index (what a
# 100 TB deployment does once); search = brute-force scan of the stored
# quantized corpus. The vec_knn_int8 oracle entry is unchanged.
_SQ8_STORE = os.path.join(
    os.environ.get("TMPDIR", "/tmp"), "bench_sq8_index"
)


def bench_sq8_build(spark, sf_dir: str):
    from transcription_lakehouse_spark.operators.similarity import (
        sq8_dequantize,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    arrs, _scales = sq8_dequantize(e, "embedding")
    arrs.write.mode("overwrite").parquet(_SQ8_STORE)
    return spark.read.parquet(_SQ8_STORE).groupBy().count()


def bench_sq8_search(spark, sf_dir: str):
    from transcription_lakehouse_spark.operators.similarity import (
        brute_force_topk,
    )

    arrs = spark.read.parquet(_SQ8_STORE)
    queries = arrs.filter(F.col("vec_id") % 25 == 0)
    return brute_force_topk(queries, arrs, "vec_id", "embedding", k=5)


SCALED = {
    "dedup_minhash_20x": bench_minhash_dedup_scaled,
    # build MUST precede the search that reads its stored index
    "sq8_build": bench_sq8_build,
    "sq8_search": bench_sq8_search,
    "decontam_semantic_20x": bench_semantic_decontam_scaled,
    "knn_lsh_20x": bench_knn_lsh_scaled,
    "knn_ivf_20x": bench_knn_ivf_scaled,
    "knn_pq_20x": bench_knn_pq_scaled,
    "knn_ivfpq_20x": bench_knn_ivfpq_scaled,
    # build MUST precede the searches that read its stored edge list
    "graph_build": bench_graph_build,
    "graph_search": bench_graph_search,
    "graph_search_coarse": bench_graph_search_coarse,
    "graph_build_20x": bench_graph_build_20x,
    "graph_search_20x": bench_graph_search_20x,
    "graph_search_coarse_20x": bench_graph_search_coarse_20x,
}


def entry(name: str):
    """The callable(spark, sf_dir) behind a bench or registry name."""
    fn = SCALED.get(name) or QUERIES.get(name)
    if fn is None:
        raise SystemExit(f"unknown query {name}")
    return fn


def warm_session(app_name: str):
    """(spark, sf_dir) with every testdata table touched once: JVM/codegen
    spin-up and parquet footer reads are session costs, not query costs."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=app_name)
    for df in load_tables(spark, sf_dir).values():
        df.limit(1).count()
    return spark, sf_dir


def best_of(run_once, name: str, reruns: dict[str, int]) -> float:
    """Steady-state timing of one entry; ``run_once()`` returns one wall.

    The first run is the warm-up in both tiers, and the second (warm) run
    picks the tier, so an entry whose cold codegen alone crosses 3 s is
    still timed as the sub-3 s entry it is. Entries whose warm run is
    >= 3 s report min-of-2 (the min is the plan's reproducible cost).
    When the slower of those two runs exceeds 1.5x the faster, the pair
    disagrees too much to trust either: ONE extra run is taken, the
    min-of-3 is reported and ``reruns[name] = 3`` records it in the
    output. Entries under 3 s report the MEDIAN of three post-warmup runs:
    at sub-3 s walls a single load spike on a shared host doubles the
    reading, and the median absorbs one outlier run by construction, the
    same discipline the calibration scalar uses."""
    first, second = run_once(), run_once()
    if second >= 3.0:
        wall = min(first, second)
        if max(first, second) > 1.5 * wall:
            wall = min(wall, run_once())
            reruns[name] = 3
        return round(wall, 3)
    walls = sorted([second, run_once(), run_once()])
    return round(walls[1], 3)


def main() -> None:
    suite = [*HEADLINE, *SCALED]
    names = sys.argv[1:]
    unknown = sorted(set(names) - set(suite))
    if unknown:
        raise SystemExit(f"unknown bench entries: {unknown}")
    # suite order, so a build entry still precedes the searches reading it
    selected = [n for n in suite if not names or n in names]

    spark, sf_dir = warm_session("bench")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    def _run_once(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).collect()
        return time.time() - t0

    # Host-speed calibration: median of 3 runs of a pinned pure scan+agg
    # query whose code changes rarely. bench_compare normalizes per-query
    # ratios by the calibration ratio between two records, so "the whole
    # suite is 1.3x because the box was loaded" is arithmetic, not prose.
    def _calibrate() -> float:
        walls = [_run_once(QUERIES["q1_pricing_summary"]) for _ in range(3)]
        return round(sorted(walls)[1], 3)

    def _load1() -> float:
        try:
            return round(os.getloadavg()[0], 2)
        except OSError:
            return -1.0

    load_start = _load1()
    calibration = _calibrate()

    reruns: dict[str, int] = {}
    timings = {
        name: best_of(lambda fn=entry(name): _run_once(fn), name, reruns)
        for name in selected
    }
    total = round(sum(timings.values()), 3)
    # a SECOND calibration after the suite: co-resident host load that
    # arrives MID-RUN (the start-of-run calibration reads idle while the
    # suite tail runs loaded) is then visible in the record itself as
    # cal_post >> cal_pre, so adjudication needs no separate re-run
    calibration_post = _calibrate()
    record = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "calibration_sec": calibration,
        "calibration_post_sec": calibration_post,
        "load_1min_start": load_start,
        "load_1min_end": _load1(),
        "calibration_query": "q1_pricing_summary_median3",
        "reruns": reruns,
    }
    # Full record first (compact separators: more query entries survive a
    # fixed-size stdout-tail capture), then a compact FINAL line that must
    # survive a ~2000-char tail capture COMPLETE, including the per-query
    # walls: it carries queries at 2 dp and sheds the reruns map (then
    # 1-dp walls) if that would push it past the tail budget.
    print(json.dumps(record, separators=(",", ":")))
    print(_final_line(record))


# the driver's stdout-tail capture has been observed at 2000 chars; the
# final line must fit it WITH a trailing newline or its JSON is cut
# mid-record and parsed comes up null again
_TAIL_BUDGET = 1900


def _final_line(record: dict) -> str:
    summary = {k: record[k] for k in (
        "metric", "value", "unit", "sf", "calibration_sec",
        "calibration_post_sec", "load_1min_start", "load_1min_end",
        "reruns",
    )}
    summary["queries"] = {
        k: round(v, 2) for k, v in record["queries"].items()
    }
    line = json.dumps(summary, separators=(",", ":"))
    if len(line) > _TAIL_BUDGET:
        # rerun detail survives in the full record;
        # per-query walls are the thing only this line durably carries
        summary.pop("reruns", None)
        summary["reruns_n"] = len(record.get("reruns") or {})
        line = json.dumps(summary, separators=(",", ":"))
    if len(line) > _TAIL_BUDGET:
        summary["queries"] = {
            k: round(v, 1) for k, v in record["queries"].items()
        }
        line = json.dumps(summary, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
