"""Plan-shape pins for the headline queries: pushdown reaches parquet,
dimension joins broadcast, shuffle counts stay bounded. A failure here means
a 100 TB-relevant regression even if results stay correct."""

from __future__ import annotations

import pytest

from transcription_lakehouse_spark.plans.inspect import (
    broadcast_join_count,
    count_exchanges,
    pushed_filters,
    scan_read_schemas,
    shuffle_join_count,
    wholestage_codegen_spans,
)
from transcription_lakehouse_spark.workload import QUERIES

SF_DIR = "/root/testdata/sf0.001"


# Every entry here is a JUSTIFIED bounded shape — anything new that trips
# the lint must either be fixed or argued onto this list:
# - BNLJ from the distributed-rank offsets join (<= shuffle-partitions rows)
_RANK_OFFSETS_BNLJ = {"evt_corr_stats"}
# - BNLJ where one side is an intentionally bounded broadcast (sampled
#   queries / per-label sample) and exact scoring IS the semantics
_BOUNDED_BROADCAST_BNLJ = {
    "vec_knn_bruteforce",
    "vec_knn_int8",         # same broadcast-queries scorer as bruteforce
    "vec_knn_int8_rerank",  # inherits the int8 shortlist scorer
    "vec_cluster_mixture",  # one-row totals broadcast into the shares
    "vec_mmr_rerank",       # 20x20 candidate self-join (bounded)
    "doc_bm25_topk",        # one-row (N, avgdl) stats broadcast into BM25
    "doc_hybrid_rrf",       # inherits BM25's one-row stats broadcast
    "vec_label_similarity_matrix",
    "q22_idle_wealthy_customers",  # one-row global-avg threshold broadcast
    "q11_important_parts",  # one-row global-total threshold broadcast
    "doc_unigram_logprob",  # one-row corpus-total broadcast into ln()
    "doc_dsir_weights",     # two one-row totals broadcast into the
                            # smoothed bucket-LM log ratio
    "doc_drift_psi",        # one-row slice-total broadcast into shares
    "doc_mixture_plan",     # one-row corpus-total broadcast into shares
    "doc_training_order",   # inherits doc_mixture_plan's one-row total
                            # (repeats = ceil(sampling factor) join)
    "doc_collocations",     # two one-row totals broadcast into the PMI
    "doc_tfidf_topk",       # one-row doc-count broadcast into the idf
    "doc_curation_v3",      # inherits doc_unigram_logprob's one-row total
    "doc_curation_v4",      # same inheritance (v3 composition + the LM
                            # band's broadcast count tables)
    "q_nation_intersect",   # one-row global-avg threshold broadcast
    "evt_key_skew",         # one-row total broadcast into the share division
    "vec_contrastive_triplets",  # sampled anchors broadcast, one scored pass
    "vec_hard_negatives",   # sampled queries broadcast, exact scoring IS
                            # the semantics (brute_force_topk shape)
    "vec_knn_pq",           # sampled queries' ADC LUTs broadcast against
                            # the compressed codes relation — the PQ scan
                            # IS one pass over codes by construction
    "trn_section_semantic_catalog",  # one-row embedding-coverage guard
                            # broadcast (generate_sections' in-plan
                            # raise_error refusal — replaces an eager job)
    "vec_knn_pca",          # sampled queries' reduced coords broadcast
                            # against the 8-dim projected corpus — the
                            # coarse scan IS one narrow pass by design
    "evt_kmv_overlap",      # group-pair cross of the per-group theta
                            # relation (#groups rows) so disjoint pairs
                            # emit n_common=0 — bounded by construction
}
# - SinglePartition from a global (no-key or bounded-aggregate) final step
_GLOBAL_SCALAR_OK = {
    "q6_forecast_revenue",       # single-row global aggregate
    "doc_bm25_topk",             # one-row (N, avgdl) stats + rank window
                                 # over the LIMIT-20 surviving rows only
    "doc_hybrid_rrf",            # fusion of two TakeOrdered 50-row lists
    "vec_cluster_mixture",       # two one-row totals over a <=16-row
                                 # cluster rollup
    "vec_mmr_rerank",            # bounded driver greedy over the top-20
                                 # candidate list (createDataFrame result)
    "trn_integrity_battery",     # single-row global aggregate
    "trn_speaker_balance",       # global window over per-speaker aggregate
    "q14_promo_share",           # single-row global aggregate
    "q15_top_supplier",          # one-row global max broadcast back
    "q17_small_quantity_revenue",  # single-row global aggregate
    "q19_disjunctive_revenue",   # single-row global aggregate
    "q22_idle_wealthy_customers",  # one-row global-avg scalar
    "q11_important_parts",       # one-row global total over per-part agg
    "doc_unigram_logprob",       # one-row corpus-total aggregate
    "doc_dsir_weights",          # two one-row bucket-LM totals
    "doc_drift_psi",             # one-row slice-total aggregate
    "doc_mixture_plan",          # one-row corpus-total aggregate
    "doc_training_order",        # inherits the one-row corpus total;
                                 # placement windows partition by shard
    "doc_collocations",          # two one-row total aggregates
    "q_referential_integrity",   # union of one-row orphan counts
    "doc_tfidf_topk",            # one-row doc-count aggregate
    "doc_curation_v3",           # inherits the one-row corpus total
    "doc_curation_v4",           # same (v3 + LM band, no new funnels)
    "q_nation_intersect",        # one-row global-avg aggregate
    "evt_cumulative_users",      # running window over the per-DAY rollup
                                 # (bounded by calendar days, not rows)
    "evt_key_skew",              # cum-share window over the top-10-row
                                 # relation + one-row total broadcast
    "trn_section_semantic_catalog",  # one-row coverage-guard aggregate
                                 # (counts only — bounded by construction)
}


def test_plan_lint_every_query(spark):
    """Global plan lint: NO workload query may contain a cartesian product,
    an unbounded nested-loop join, or a single-partition funnel — except
    the explicitly justified shapes above. This is the 100 TB regression
    tripwire for every future query, not just the hand-pinned ones."""
    bad = {}
    for name, fn in sorted(QUERIES.items()):
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        marks = []
        if "CartesianProduct" in plan:
            marks.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in (
            _RANK_OFFSETS_BNLJ | _BOUNDED_BROADCAST_BNLJ
        ):
            marks.append("nested-loop")
        if "SinglePartition" in plan and name not in _GLOBAL_SCALAR_OK:
            marks.append("single-partition")
        if marks:
            bad[name] = marks
    assert not bad, bad


def test_q1_pushes_filter_and_prunes_columns(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    schemas = scan_read_schemas(df)
    # projection pruning: the 16-column table reads only what q1 needs
    assert all("l_orderkey" not in s for s in schemas), schemas
    assert count_exchanges(df) <= 2  # one partial->final agg shuffle (+AQE read)
    assert wholestage_codegen_spans(df) >= 1


def test_q6_pushes_all_predicates(spark):
    df = QUERIES["q6_forecast_revenue"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed


def test_q5_broadcasts_every_dimension(spark):
    df = QUERIES["q5_region_revenue"](spark, SF_DIR)
    assert broadcast_join_count(df) >= 4  # supplier, customer, nation, region
    # only the orders⋈lineitem join may shuffle
    assert shuffle_join_count(df) <= 1


def test_sessionization_single_shuffle(spark):
    df = QUERIES["evt_sessions"](spark, SF_DIR)
    # one hashpartitioning exchange for the per-user window; the groupBy
    # reuses the same partitioning (no second shuffle on (user, session))
    assert count_exchanges(df) <= 2


def test_knn_broadcasts_queries(spark):
    df = QUERIES["vec_knn_bruteforce"](spark, SF_DIR)
    assert broadcast_join_count(df) >= 1  # query side broadcast, corpus streams


def test_rollup_and_window_queries_stay_low_shuffle(spark):
    # two-level cascade = exactly its two agg shuffles; ratio-to-total
    # reuses the groupBy partitioning for its window (no third exchange)
    for name, max_ex in [
        ("evt_rollup_cascade", 2),
        ("evt_type_share", 2),
        ("evt_session_length_stats", 2),
        ("doc_subword_stats", 1),
    ]:
        df = QUERIES[name](spark, SF_DIR)
        assert count_exchanges(df) <= max_ex, name


def test_bucketed_join_elides_both_shuffles(spark):
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.sources.bucketed import (
        read_table,
        write_bucketed,
    )
    from transcription_lakehouse_spark.sources.tables import load_table

    # managed tables land in the default warehouse dir; DROP TABLE below
    # removes the files (warehouse.dir is a static conf, not settable here)
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        n_buckets=8,
    )
    # force the shuffle-join path so the bucket layout (not a broadcast)
    # is what saves the Exchange — at 100 TB neither fact side broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            read_table(spark, "b_orders")
            .join(read_table(spark, "b_lineitem"), "o_orderkey")
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        assert count_exchanges(joined) == 0, formatted_plan(joined)
        # and the result matches the plain-table join
        plain = (
            orders.join(
                lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
                "o_orderkey",
            )
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_corr_stats_has_no_single_partition_exchange(spark):
    # Spearman ranks must use the distributed global rank (range fences +
    # per-partition row_number + broadcast offsets) — a SinglePartition
    # exchange here would funnel the whole table through one task
    df = QUERIES["evt_corr_stats"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_random_pairs_uses_take_ordered_not_global_sort(spark):
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.quality.sampling import random_pairs
    from transcription_lakehouse_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events").select("event_id")
    pairs = random_pairs(ev, "event_id", 50)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    # determinism + shape
    a = sorted(map(tuple, pairs.collect()))
    b = sorted(map(tuple, random_pairs(ev, "event_id", 50).collect()))
    assert a == b
    assert all(x != y for x, y in a)


def test_near_dup_pairs_is_banded_equi_join_not_all_pairs(spark):
    # the near-dup blocking must be equi-joins on (band, bucket) then on
    # ids — a CartesianProduct / nested-loop here is the O(n²) trap that
    # the round-1 within-label all-pairs version hit
    df = QUERIES["vec_near_dup_pairs"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_similarity_matrix_pairs_only_sampled_rows(spark):
    # the pairwise stage must run over the bounded per-label sample (a
    # broadcast nested-loop over <= labels*cap rows is fine; an unsampled
    # CartesianProduct over the corpus is not)
    df = QUERIES["vec_label_similarity_matrix"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # both nested-loop inputs sit below the rank<=cap filter: the sample
    # windows feed the join, not the raw scans
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("row_number") >= 2, optimized


def test_trn_span_catalog_single_sessionization_shuffle(spark):
    # the span pipeline is one window pass + one groupBy riding the same
    # episode partitioning + the position window — bounded exchanges, and
    # never a SinglePartition funnel
    df = QUERIES["trn_span_catalog"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange") <= 3, plan


def test_curation_funnel_no_cartesian_no_single_partition(spark):
    # the composed curation pass must stay banded equi-joins throughout —
    # a cartesian anywhere (langid, window, LSH, drop-set join) would be
    # the O(n^2) trap the funnel exists to avoid
    df = QUERIES["doc_curation_funnel"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_lsh_topk_is_banded_equi_join_not_cartesian(spark):
    # banded OR-construction: candidate generation must join on
    # (band, bucket) and rescore only DISTINCT id pairs — never a cross
    # product of queries x corpus
    df = QUERIES["vec_knn_lsh"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_probe_join_is_equi_not_cartesian(spark):
    # retired from the driver registry (ivf_fixed is the oracle twin)
    # but the trained-centroid operator itself stays plan-linted
    from transcription_lakehouse_spark.workload.vectors import vec_knn_ivf

    df = vec_knn_ivf(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the cell-probe join must hash on the small int cell key — a cartesian/
    # nested-loop product here would be the O(n*m) trap at 100 TB
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """Hive-style partition pruning: a filter on the partition column must
    land in the scan's PartitionFilters (directories skipped at planning,
    zero I/O for non-matching partitions) — the layout contract for any
    100 TB table partitioned by ingest date/type."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.sources.tables import load_table

    path = str(tmp_path / "events_by_type")
    load_table(spark, "/root/testdata/sf0.001", "events").write.partitionBy(
        "event_type"
    ).parquet(path)
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200], plan
    # the predicate must NOT survive as a post-scan row-level Filter node
    # (directory pruning already answered it)
    import re

    assert not re.search(r"\bFilter\b[^\[]*\[?[^\n]*event_type",
                         plan.split("PartitionFilters")[0]), plan
    n_parts = df.select("event_type").distinct().count()
    assert n_parts == 1


def _fs_bytes_read(spark) -> int:
    """Actual bytes read from the local filesystem by this JVM (Hadoop
    FileSystem statistics, scheme 'file') — a true scan-bytes meter, not
    plan text."""
    total = 0
    it = spark._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics().iterator()
    while it.hasNext():
        s = it.next()
        if s.getScheme() == "file":
            total += s.getBytesRead()
    return total


def test_compacted_layout_prunes_partitions_and_row_groups(spark, tmp_path):
    """File-skipping audit at 10x scale (VERDICT r2 #8): on the compacted
    lakehouse layout (partitionBy(event_type) + range-clustered by ts), a
    time-range + type filter must cut ACTUAL scan bytes — partition dirs
    skipped at planning, row groups skipped by parquet footer min/max —
    asserted on filesystem bytes read, not just plan text."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.maintenance import compact
    from transcription_lakehouse_spark.sources.tables import load_table

    # 10x the sf0.01 events (100k rows), distinct ids per replica
    base = load_table(spark, "/root/testdata/sf0.01", "events")
    tenx = base.crossJoin(spark.range(10).select(F.col("id").alias("_rep"))).select(
        (F.col("event_id") * 10 + F.col("_rep")).alias("event_id"),
        "ts", "user_id", "event_type", "value", "props",
    )
    raw = str(tmp_path / "events_raw")
    tenx.repartition(8).write.partitionBy("event_type").parquet(raw)

    # range-cluster each partition by ts: every output file owns a disjoint
    # ts range, so footer stats answer time-range predicates
    clustered = str(tmp_path / "events_clustered")
    for row in spark.read.parquet(raw).select("event_type").distinct().collect():
        et = row["event_type"]
        compact(
            spark,
            f"{raw}/event_type={et}",
            f"{clustered}/event_type={et}",
            target_file_bytes=64 * 1024,  # force multiple files per partition
            cluster_by=["ts"],
        )

    table = spark.read.parquet(clustered)
    ts_lo, ts_hi = table.agg(F.min("ts"), F.max("ts")).collect()[0]
    # a ~2% slice of the time range on ONE event type
    cut = ts_lo + (ts_hi - ts_lo) * 2 // 100
    pred = (F.col("event_type") == "click") & (F.col("ts") <= cut)

    b0 = _fs_bytes_read(spark)
    full = table.agg(F.sum("value")).collect()[0][0]
    b1 = _fs_bytes_read(spark)
    pruned = table.filter(pred).agg(F.sum("value")).collect()[0][0]
    b2 = _fs_bytes_read(spark)
    full_bytes, pruned_bytes = b1 - b0, b2 - b1

    assert full is not None and pruned is not None
    # plan text: the partition filter reached PartitionFilters and the ts
    # range reached PushedFilters
    plan = table.filter(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1][:300], plan
    assert "PushedFilters" in plan and "ts" in plan.split("PushedFilters")[1][
        :300
    ], plan
    # the hard assertion: the pruned scan reads a small fraction of the
    # bytes (partition dirs skipped entirely; non-matching row groups cost
    # only their footers)
    assert pruned_bytes < full_bytes * 0.45, (pruned_bytes, full_bytes)


def test_zorder_prunes_on_both_clustered_columns(spark, tmp_path):
    """Z-order vs 1D clustering (VERDICT r2 #8 family, extended): on a
    z-ordered (ts, user_id) layout, BOTH a time-range scan and a user-range
    scan read a small fraction of the bytes — the multi-predicate skipping
    1D range clustering cannot give — measured on actual filesystem bytes."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.maintenance import compact
    from transcription_lakehouse_spark.sources.tables import load_table

    base = load_table(spark, "/root/testdata/sf0.01", "events")
    tenx = base.crossJoin(spark.range(10).select(F.col("id").alias("_rep"))).select(
        (F.col("event_id") * 10 + F.col("_rep")).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("_rep") * 1000).alias("user_id"),
        "event_type", "value",
    )
    raw = str(tmp_path / "raw")
    tenx.repartition(8).write.parquet(raw)
    zpath = str(tmp_path / "zordered")
    stats = compact(
        spark, raw, zpath, zorder_by=["ts", "user_id"],
        target_file_bytes=48 * 1024,
    )
    assert stats["rows"] == tenx.count()
    assert stats["n_files_after"] > 4  # multiple files, else nothing to skip
    # content parity: the rewrite reorders rows, never changes them
    src, dst = spark.read.parquet(raw), spark.read.parquet(zpath)
    assert dst.exceptAll(src).count() == 0
    assert src.exceptAll(dst).count() == 0

    t = spark.read.parquet(zpath)
    lo = t.agg(
        F.min("ts"), F.max("ts"), F.min("user_id"), F.max("user_id")
    ).collect()[0]
    ts_cut = lo[0] + (lo[1] - lo[0]) * 5 // 100
    uid_cut = lo[2] + (lo[3] - lo[2]) * 5 // 100

    # baselines use an always-true predicate on the SAME column so the scans
    # read identical column sets — otherwise column pruning, not row-group
    # skipping, would dominate the byte difference
    b0 = _fs_bytes_read(spark)
    t.filter(F.col("ts") <= lo[1]).agg(F.sum("value")).collect()
    b1 = _fs_bytes_read(spark)
    t.filter(F.col("ts") <= ts_cut).agg(F.sum("value")).collect()
    b2 = _fs_bytes_read(spark)
    t.filter(F.col("user_id") <= lo[3]).agg(F.sum("value")).collect()
    b3 = _fs_bytes_read(spark)
    t.filter(F.col("user_id") <= uid_cut).agg(F.sum("value")).collect()
    b4 = _fs_bytes_read(spark)
    full_ts, by_ts = b1 - b0, b2 - b1
    full_uid, by_uid = b3 - b2, b4 - b3
    # both dimensions prune: each 5% slice reads well under its full scan
    assert by_ts < full_ts * 0.7, (by_ts, full_ts)
    assert by_uid < full_uid * 0.7, (by_uid, full_uid)


def test_curate_quality_gate_single_scan_no_join(spark, tmp_path):
    # curate's mixture weights reuse the quality scorer's tokenization
    # (quality_classifier with_n_tokens) — the corpus must be scanned ONCE
    # and never self-joined (the round-5 shape ran a second tokenizing
    # scan and joined it back: two passes over 100 TB where one suffices)
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark._quality_model import BIAS, WEIGHTS
    from transcription_lakehouse_spark.operators.quality_model import (
        quality_classifier,
    )

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "the quick brown fox %d" % i, "s") for i in range(10)],
        "doc_id long, text string, source string",
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    scored = quality_classifier(
        docs, "doc_id", "text", WEIGHTS, BIAS, extra_cols=["source"],
        with_n_tokens=True,
    )
    kept = scored.filter(F.col("quality_score") >= 0.5).select(
        "doc_id", "source", "n_tokens"
    )
    per_src = kept.groupBy("source").agg(F.sum("n_tokens").alias("n_tokens"))
    plan = per_src._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_graph_walk_plan_size_bounded_and_deep_walk_checkpoints(spark):
    """Plan-compile guard for the iterative beam walk (round-6 verdict
    ask #7, r11 default flip): hops now checkpoint lazily BY DEFAULT, so
    the compiled plan must stay one-hop-sized at ANY depth (the unrolled
    hops=2 stored-graph plan had grown to 4,600+ lines / ~2 s of
    planning per bench run), and checkpointing must produce identical
    results to the fully unrolled lineage."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.graph_ann import (
        build_knn_graph,
        graph_topk,
    )

    emb = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    graph = build_knn_graph(emb, "vec_id", "embedding", k_graph=8)
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    out2 = graph_topk(
        queries, emb, graph, "vec_id", "embedding", k=5, beam=16, hops=2
    )
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    n2 = len(plan2.splitlines())
    assert n2 < 1200, f"hops=2 checkpointed walk plan grew to {n2} lines"

    # deeper walk: per-hop checkpoints keep the compiled plan one-hop-
    # sized, so depth must NOT grow the plan materially
    out4 = graph_topk(
        queries, emb, graph, "vec_id", "embedding", k=5, beam=16, hops=4
    )
    plan4 = out4._jdf.queryExecution().executedPlan().toString()
    n4 = len(plan4.splitlines())
    assert n4 <= n2 + 50, (
        f"hops=4 plan ({n4} lines) should stay one-hop-sized like hops=2 "
        f"({n2}) — per-hop checkpoint not cutting lineage"
    )

    # value parity: checkpointing only materializes, never changes, the
    # beam — force it on at hops=2 and compare against the default
    from transcription_lakehouse_spark.operators import graph_ann as ga
    from transcription_lakehouse_spark.operators import similarity as sim

    q = ga._vec_side(queries, "vec_id", "embedding", "query_id", "qv", "qn")
    c = ga._vec_side(emb, "vec_id", "embedding", "node_id", "cv", "cn")
    qb = sim._banded_buckets(q.select("query_id", "qv"), "qv", 2, 4)
    cb = sim._banded_buckets(c.select("node_id", "cv"), "cv", 2, 4)
    seeds = (
        qb.join(cb, ["band", "bucket"])
        .filter(F.col("query_id") != F.col("node_id"))
        .select("query_id", "node_id").distinct()
    )
    beam0 = ga._top_beam(ga._score(seeds, q, c), 16)
    plain = ga._walk_and_rank(beam0, graph, q, c, 2, 16, 5,
                              checkpoint_hops=False)
    ckpt = ga._walk_and_rank(beam0, graph, q, c, 2, 16, 5,
                             checkpoint_hops=True)
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, ckpt.collect())
    )
