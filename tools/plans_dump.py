"""Dump formatted physical plans for representative queries into one
markdown file.

The plan-shape TESTS (tests/test_plans.py) are the regression gate; this
artifact is the human-readable companion: reviewers can see pushed filters,
pruned schemas, broadcast vs shuffle joins, and exchange counts without
running Spark.

Usage: python tools/plans_dump.py OUT.md [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.workload import QUERIES  # noqa: E402

SHOWCASE = [
    # (name, why this plan matters at 100 TB)
    ("q1_pricing_summary", "pushdown + column pruning + one agg shuffle"),
    ("q5_region_revenue", "star join: every dimension broadcast"),
    ("q21_waiting_suppliers", "semi+anti self-joins reuse one orderkey exchange"),
    ("evt_sessions", "lag→flag→cumsum sessionization, single keyed window"),
    ("evt_overlap_join", "binned range join — equi-join, not a nested loop"),
    ("doc_minhash_lsh_pairs", "band bucket join, candidates never O(n²)"),
    ("doc_dup_spans", "positional gram df + per-doc interval union"),
    ("vec_knn_bruteforce", "broadcast queries, corpus streams in place"),
    ("evt_corr_stats", "distributed global rank — no SinglePartition funnel"),
    ("doc_sequence_packing", "shard-local packing window, no global order"),
    ("vec_semantic_dedup_p95", "GEMM banding via one ArrowEval, equi-joins only"),
    ("vec_knn_pca", "8-dim coarse rank: projection inside codegen, broadcast queries"),
    ("vec_semdedup_kmeans", "cell-confined GEMM pairs: one FlatMapGroups, no pair relation"),
    ("vec_knn_graph", "beam hops = frontier⋈edges equi-joins, batch-parallel across queries"),
    ("vec_knn_graph_coarse", "two-layer descent: IVF cell equi-join seeds, then the same batch-parallel walk"),
    ("doc_quality_classifier", "committed linear model: scan → project, zero shuffles"),
    ("doc_training_order", "salted shard placement: per-shard windows, no global sort"),
    ("doc_dsir_weights", "hashed bucket LMs: two bounded aggs + broadcast ratio table"),
    ("doc_curriculum_order", "row-local width-bucket tiers, per-shard windows — no ntile funnel"),
    ("doc_bm25_topk", "per-term DECIMAL partials + one-row (N, avgdl) broadcast; top-k is TakeOrdered"),
    ("doc_hybrid_rrf", "two 50-row ranked lists full-outer-fused — driver-trivial at any corpus size"),
    ("vec_knn_int8_rerank", "quantized shortlist scan + float rescore of 50 candidates/query"),
    ("vec_mmr_rerank", "distributed candidate search + bounded 20-item greedy — no pairwise relation"),
    ("doc_ngram_logprob", "row-local gram/bucket arrays (token array never duplicates through the explode) + five <=8K-row broadcast lookups + one per-doc agg shuffle"),
]


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit("usage: plans_dump.py OUT.md [sf_dir]")
    out_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plans-dump")
    out = [
        "# Formatted physical plans (generated by tools/plans_dump.py",
        f"# at {sf_dir}; regenerate after plan-affecting changes)",
        "",
    ]
    for name, why in SHOWCASE:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", f"*Why it matters:* {why}", "", "```",
                plan.rstrip(), "```", ""]
    with open(out_path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {out_path} ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
