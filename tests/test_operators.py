from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

from transcription_lakehouse_spark.functions.vector import as_double_array, cosine
from transcription_lakehouse_spark.operators.dedup import (
    exact_dup_stats,
    lsh_candidate_pairs,
    minhash_signature,
    shingle_pair_jaccard,
    simhash32,
    word_shingles,
)
from transcription_lakehouse_spark.operators.intervals import (
    gaps,
    merged_intervals,
    monotonicity_violations,
    sweep_concurrency,
)
from transcription_lakehouse_spark.operators.sessionization import with_session_id
from transcription_lakehouse_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    train_centroids,
)


def test_sessionize_gap_and_key_breaks(spark):
    df = spark.createDataFrame(
        [
            ("u1", "A", 0.0, 1.0),
            ("u1", "A", 1.2, 2.0),   # gap .2 => same session
            ("u1", "A", 10.0, 11.0), # gap 8 => new
            ("u1", "B", 11.1, 12.0), # speaker change => new
        ],
        "ep string, speaker string, start double, end double",
    )
    out = with_session_id(
        df, ["ep"], "start", 0.5, prev_end_col="end", break_on_change=["speaker"]
    )
    sessions = [r["session_id"] for r in out.orderBy("start").collect()]
    assert sessions == [0, 0, 1, 2]


def test_interval_union_merges_touching(spark):
    df = spark.createDataFrame(
        [("a", 0.0, 10.0), ("a", 10.0, 20.0), ("a", 30.0, 40.0), ("a", 35.0, 38.0)],
        "k string, s double, e double",
    )
    m = merged_intervals(df, ["k"], "s", "e").orderBy("s").collect()
    assert len(m) == 2
    assert (m[0]["s"], m[0]["e"]) == (0.0, 20.0)  # touching merge
    assert (m[1]["s"], m[1]["e"]) == (30.0, 40.0)  # contained merge
    g = gaps(df, ["k"], "s", "e").collect()
    assert len(g) == 1 and g[0]["gap_start"] == 20.0 and g[0]["gap_end"] == 30.0


def test_sweep_concurrency_half_open(spark):
    df = spark.createDataFrame(
        [("a", 0.0, 10.0), ("a", 10.0, 20.0), ("a", 5.0, 15.0)],
        "k string, s double, e double",
    )
    mx = (
        sweep_concurrency(df, ["k"], "s", "e")
        .groupBy("k").agg(F.max("active").alias("m")).collect()[0]["m"]
    )
    assert mx == 2  # [0,10) and [10,20) never overlap (half-open)


def test_monotonicity(spark):
    df = spark.createDataFrame(
        [("a", 0.0, 12.0), ("a", 10.0, 20.0), ("a", 25.0, 30.0)],
        "k string, s double, e double",
    )
    v = monotonicity_violations(df, ["k"], "s", "e").collect()[0]
    assert v["n_regressions"] == 1 and v["n_rows"] == 3


def test_exact_dup_stats(spark):
    df = spark.createDataFrame(
        [("d1", "g", "Same  text"), ("d2", "g", "same text "), ("d3", "g", "other")],
        "id string, grp string, text string",
    )
    out = exact_dup_stats(df, "text", ["grp"]).collect()[0]
    # whitespace-collapse + lower => d1/d2 identical
    assert out["n_docs"] == 3 and out["n_distinct"] == 2 and out["n_dup_rows"] == 1


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame(
        [("a", "w1 w2 w3 w4"), ("b", "w1 w2 w3 w5"), ("c", "x y z")],
        "id string, text string",
    )
    sh = df.select(word_shingles("text").alias("s")).collect()
    assert sh[0]["s"] == ["w1 w2 w3", "w2 w3 w4"]
    pairs = shingle_pair_jaccard(df, "id", "text").collect()
    assert len(pairs) == 1  # only a-b share a shingle
    p = pairs[0]
    # a: {123,234}, b: {123,235} => inter 1, union 3
    assert p["n_common"] == 1 and abs(p["jaccard"] - 1 / 3) < 1e-9


def test_jaccard_max_df_drops_hot_shingle_pairs(spark):
    """Skew guard: a shingle shared by EVERY doc makes the inverted-index
    self-join quadratic; max_df removes it from the intersection side while
    denominators still count all shingles (jaccard becomes a lower bound)."""
    hot = "common boiler plate"
    rows = [
        ("a", f"{hot} alpha beta gamma delta"),
        ("b", f"{hot} alpha beta gamma zeta"),
        ("c", f"{hot} unrelated words entirely"),
        ("d", f"{hot} other different content"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    # without the guard the hot shingle pairs every doc with every other: 6 pairs
    assert shingle_pair_jaccard(df, "id", "text").count() == 6
    capped = shingle_pair_jaccard(df, "id", "text", max_df=3).collect()
    got = {(r["id_1"], r["id_2"]): r for r in capped}
    # only a-b share NON-hot shingles ("alpha beta gamma", ...)
    assert set(got) == {("a", "b")}
    p = got[("a", "b")]
    # denominators unchanged (5 shingles each), intersection counts only
    # the surviving shared shingles -> a strict lower bound on true jaccard
    assert p["n_1"] == 5 and p["n_2"] == 5
    assert p["n_common"] < 5


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [("a", base), ("b", base + " ok"), ("c", "completely different words entirely here now for sure")]
    df = spark.createDataFrame(rows, "id string, text string")
    sigs = minhash_signature(df, "id", "text")
    assert sigs.count() == 3
    assert all(len(r["minhashes"]) == 8 for r in sigs.collect())
    cands = {(r["id_1"], r["id_2"]) for r in lsh_candidate_pairs(sigs, "id").collect()}
    assert ("a", "b") in cands
    assert ("a", "c") not in cands


def test_simhash_pairs_find_near_identical_token_sets(spark):
    from transcription_lakehouse_spark.operators.dedup import simhash_near_dup_pairs

    base = "quick brown fox jumps over lazy dog while seven wizards brew strange potions tonight"
    rows = [
        ("a", base),
        ("b", base + " extra"),  # one extra token -> tiny Hamming shift
        ("c", "entirely different vocabulary about spacecraft telemetry and orbital mechanics data"),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    pairs = simhash_near_dup_pairs(df, "id", "text", max_hamming=10)
    got = {(r["id_1"], r["id_2"]): r["hamming"] for r in pairs.collect()}
    assert ("a", "b") in got
    assert ("a", "c") not in got and ("b", "c") not in got
    # banded equi-join shape: no cartesian anywhere
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_simhash_matches_python_reference(spark):
    text = "alpha beta gamma"
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(simhash32("text").alias("h")).collect()[0]["h"]

    def ref(tokens):
        votes = [0] * 32
        for t in tokens:
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            for j in range(32):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(1 << j for j in range(32) if votes[j] > 0)

    assert got == ref(["alpha", "beta", "gamma"])


def test_cosine_and_knn(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    sims = df.select(
        cosine(as_double_array("embedding"), F.array(F.lit(1.0), F.lit(0.0))).alias("s")
    ).collect()
    assert abs(sims[0]["s"] - 1.0) < 1e-9
    knn = brute_force_topk(df.filter("vec_id = 1"), df, "vec_id", "embedding", k=2)
    rows = knn.orderBy("rank").collect()
    assert [r["neighbor_id"] for r in rows] == [2, 3]


def test_lsh_topk_is_subset_of_exact(spark):
    import random

    random.seed(7)
    rows = [
        (i, [random.gauss(0, 1) for _ in range(16)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 3")
    approx = lsh_topk(q, df, "vec_id", "embedding", k=3, n_bands=2, planes_per_band=2)
    exact = brute_force_topk(q, df, "vec_id", "embedding", k=10)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_rows = approx.collect()
    assert len(approx_rows) > 0
    # every approx hit is a real (exact-scored) pair; bucket mates only
    for r in approx_rows:
        assert r["sim"] <= 1.0
    _ = exact_pairs


def _clustered_vectors(n_per_cluster=20, dim=16, n_clusters=4):
    import random

    random.seed(11)
    rows = []
    for c in range(n_clusters):
        center = [10.0 * (1 if (c >> b) & 1 else -1) for b in range(dim)]
        for i in range(n_per_cluster):
            rows.append(
                (
                    c * n_per_cluster + i,
                    [x + random.gauss(0, 0.5) for x in center],
                )
            )
    return rows


def test_ivf_full_probe_equals_exact(spark):
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id % 20 = 0")
    ivf = ivf_topk(q, df, "vec_id", "embedding", k=3, n_cells=4, nprobe=4)
    exact = brute_force_topk(q, df, "vec_id", "embedding", k=3)
    got = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ivf.collect()}
    want = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in exact.collect()}
    # probing every cell degenerates IVF to exact search
    assert got == want


def test_ivf_partial_probe_recall_on_clustered_data(spark):
    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter("vec_id % 20 = 0")
    ivf = ivf_topk(q, df, "vec_id", "embedding", k=5, n_cells=4, nprobe=1)
    exact = brute_force_topk(q, df, "vec_id", "embedding", k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    # well-separated clusters: the query's own cell holds its true neighbors
    assert len(got & want) / len(want) >= 0.9


def test_ann_recall_gate_on_driver_testdata(spark):
    """VERDICT #9: the approximate ANN paths have no oracle (by nature), so
    recall@5 vs brute force on the REAL sf0.01 embeddings is the quality
    pin. Floors sit just under measured values (banded LSH 0.66, IVF
    nprobe=4 0.58 / nprobe=8 0.86 on near-random vectors — the hardest
    case); a regression in bucketing/banding/probing fails here."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        import pytest as _pytest

        _pytest.skip("driver testdata not present")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 25 == 0)
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }

    lsh = lsh_topk(q, e, "vec_id", "embedding", k=5)  # default 8 bands x 4 planes
    got = {(r["query_id"], r["neighbor_id"]) for r in lsh.collect()}
    assert len(got & want) / len(want) >= 0.6

    ivf4 = ivf_topk(q, e, "vec_id", "embedding", k=5, n_cells=16, nprobe=4)
    got4 = {(r["query_id"], r["neighbor_id"]) for r in ivf4.collect()}
    assert len(got4 & want) / len(want) >= 0.5

    ivf8 = ivf_topk(q, e, "vec_id", "embedding", k=5, n_cells=16, nprobe=8)
    got8 = {(r["query_id"], r["neighbor_id"]) for r in ivf8.collect()}
    assert len(got8 & want) / len(want) >= 0.8


def test_train_centroids_deterministic(spark):
    rows = _clustered_vectors(n_per_cluster=10)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    c1 = train_centroids(df, "vec_id", "embedding", n_cells=4, iters=5)
    c2 = train_centroids(df, "vec_id", "embedding", n_cells=4, iters=5)
    assert c1 == c2
    assert len(c1) == 4 and len(c1[0]) == 16


def test_langid_token_and_substring_scripts(spark):
    from transcription_lakehouse_spark.operators.langid import predict_lang

    df = spark.createDataFrame(
        [
            ("the cat is on a mat and it is fine",),
            ("der hund ist und das haus ist gut",),
            ("这是一个在了和的测试",),  # unsegmented zh: substring markers
            ("zzz qqq xxx",),
        ],
        "text string",
    )
    got = [r["p"] for r in df.select(predict_lang("text").alias("p")).collect()]
    assert got == ["en", "de", "zh", "und"]


def test_salted_agg_equals_plain(spark):
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("k1", i * 1.0) for i in range(100)] + [("k2", 5.0)] * 3,
        "k string, v double",
    )
    salted = salted_agg(
        df, ["k"],
        {"n": ("count", "v"), "s": ("sum", "v"), "mn": ("min", "v"),
         "mx": ("max", "v"), "a": ("avg", "v")},
        n_salts=7,
    )
    plain = df.groupBy("k").agg(
        F.count("v").alias("n"), F.sum("v").alias("s"),
        F.min("v").alias("mn"), F.max("v").alias("mx"), F.avg("v").alias("a"),
    )
    srt = lambda d: sorted(map(tuple, d.select("k", "n", "s", "mn", "mx", "a").collect()))
    assert srt(salted) == srt(plain)


def test_global_row_number_matches_window_and_nests(spark):
    """Distributed global rank == single-partition window rank, including
    heavy ties broken by a unique column, and stays exact when two ranks
    are composed in one plan (the nondeterministic-pid trap)."""
    from pyspark.sql import Window

    from transcription_lakehouse_spark.operators.ranking import global_row_number

    rows = [(i, (i * 7919) % 13, f"id{i:04d}") for i in range(500)]
    df = spark.createDataFrame(rows, ["i", "tied", "uid"])
    nested = global_row_number(
        global_row_number(df, ["tied", "uid"], "r1", num_partitions=8),
        ["i"],
        "r2",
        num_partitions=8,
    )
    expect = df.select(
        "uid",
        F.row_number().over(Window.orderBy("tied", "uid")).alias("w1"),
        F.row_number().over(Window.orderBy("i")).alias("w2"),
    )
    j = nested.join(expect, "uid")
    assert j.filter((F.col("r1") != F.col("w1")) | (F.col("r2") != F.col("w2"))).count() == 0
    # deterministic across invocations
    again = global_row_number(df, ["tied", "uid"], "r1", num_partitions=8)
    a = sorted(map(tuple, nested.select("uid", "r1").collect()))
    b = sorted(map(tuple, again.select("uid", "r1").collect()))
    assert a == b


def test_lsh_near_dup_pairs_finds_planted_dups(spark):
    """Banded LSH near-dup must recover planted >= 0.99-cosine duplicates
    (band OR-construction makes miss probability ~1e-4 per pair at this
    similarity) and must never emit a pair below the threshold."""
    import random

    from transcription_lakehouse_spark.operators.similarity import (
        lsh_near_dup_pairs,
    )

    random.seed(11)
    base = [[random.gauss(0, 1) for _ in range(32)] for _ in range(40)]
    rows = [(i, v) for i, v in enumerate(base)]
    # plant 5 near-dups: tiny perturbations of existing vectors
    for j in range(5):
        src = base[j]
        rows.append((100 + j, [x + random.gauss(0, 0.01) for x in src]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_near_dup_pairs(df, "vec_id", "embedding", threshold=0.95)
    got = {(r["id_1"], r["id_2"]) for r in out.collect()}
    assert {(j, 100 + j) for j in range(5)} <= got
    assert all(r["sim"] >= 0.95 for r in out.collect())


def test_repetition_metrics_on_planted_docs(spark):
    """Pathological docs get the expected repetition scores; clean doc passes
    every Gopher rule. All metrics are pure array folds — the plan must have
    no Exchange at all."""
    from transcription_lakehouse_spark.operators.quality_rules import (
        gopher_flags,
        repetition_metrics,
    )

    rows = [
        (1, "the cat sat on the warm mat and then quietly walked away home"),
        (2, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        (3, "#### @@@@ **** ^^^^ #### @@@@ 1234 5678 #### @@@@ **** ^^^^"),
        (4, "one two one two one two one two one two one two one two stop"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = {r["doc_id"]: r for r in repetition_metrics(df, "doc_id", "text").collect()}

    assert m[1]["distinct_ratio"] > 0.9 and m[1]["max_token_run"] == 1
    # doc 2: one token repeated 12x consecutively
    assert m[2]["max_token_run"] == 12
    assert m[2]["top_unigram_share"] == 1.0
    assert m[2]["distinct_ratio"] == round(1 / 12, 6)
    # doc 3: no alphabetic words, symbol-heavy
    assert m[3]["alpha_word_ratio"] == 0.0
    assert m[3]["symbol_ratio"] > 0.5
    # doc 4: dominant bigram "one two" (7 of 14 bigrams)
    assert m[4]["top_bigram_share"] == round(7 / 14, 6)

    f = {r["doc_id"]: r for r in
         gopher_flags(df, "doc_id", "text", min_tokens=5).collect()}
    assert f[1]["gopher_pass"]
    assert f[2]["fail_top_unigram"] and f[2]["fail_distinct_ratio"]
    assert not f[2]["gopher_pass"]
    assert f[3]["fail_alpha_ratio"] and f[3]["fail_symbol_ratio"]
    assert f[4]["fail_top_bigram"] and not f[4]["gopher_pass"]

    plan = repetition_metrics(df, "doc_id", "text")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_ngram_contamination_planted(spark):
    """A corpus doc embedding a benchmark sentence verbatim is flagged with
    the right gram counts; unrelated docs are not. The benchmark side must
    broadcast (corpus side never shuffles on the gram key)."""
    from transcription_lakehouse_spark.operators.decontam import (
        ngram_contamination,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the full benchmark sentence -> its 7 trigrams all hit
            (1, "intro words then the quick brown fox jumps over the lazy dog ends"),
            (2, "completely unrelated clean text with no overlap at all here"),
            # partial overlap: only 'quick brown fox' trigram
            (3, "a quick brown fox appeared in camp"),
        ],
        "doc_id long, text string",
    )
    out = ngram_contamination(corpus, bench, "doc_id", "text", n=3)
    m = {r["doc_id"]: r for r in out.collect()}
    assert m[1]["is_contaminated"] and m[1]["n_hit"] == 7
    assert m[2]["n_hit"] == 0 and not m[2]["is_contaminated"]
    assert m[3]["n_hit"] == 1 and m[3]["is_contaminated"]
    # every doc of the corpus comes back exactly once
    assert sorted(m) == [1, 2, 3]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_asof_join_semantics(spark):
    """Backward as-of: match at-or-before, NULL when nothing precedes,
    tolerance nulls stale matches, one shuffle on the key."""
    from transcription_lakehouse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 1, 100), ("u1", 2, 205), ("u1", 3, 50), ("u2", 4, 10)],
        "user string, lid long, ts long",
    )
    right = spark.createDataFrame(
        [("u1", 100, "a"), ("u1", 200, "b"), ("u3", 5, "x")],
        "user string, rts long, tag string",
    )
    out = asof_join(left, right, on=["user"], left_ts="ts", right_ts="rts")
    m = {r["lid"]: r for r in out.collect()}
    assert m[1]["tag"] == "a" and m[1]["rts"] == 100  # equal ts matches
    assert m[2]["tag"] == "b"                          # most recent, not first
    assert m[3]["tag"] is None                         # nothing at-or-before 50
    assert m[4]["tag"] is None                         # no right rows for u2
    assert sorted(m) == [1, 2, 3, 4]                   # every left row kept

    tol = asof_join(left, right, on=["user"], left_ts="ts", right_ts="rts",
                    tolerance=4)
    t = {r["lid"]: r for r in tol.collect()}
    assert t[1]["tag"] == "a"        # lag 0 <= 4
    assert t[2]["tag"] is None       # lag 5 > 4 -> stale
    assert t[2]["rts"] is None

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2, plan  # union sides co-shuffle once each
    assert "CartesianProduct" not in plan


def test_boilerplate_fraction_planted(spark):
    """Docs sharing a repeated passage score high boilerplate fraction;
    a unique doc scores 0. No cartesian anywhere."""
    from transcription_lakehouse_spark.operators.decontam import (
        boilerplate_fraction,
    )

    passage = "all rights reserved click here to subscribe now"
    rows = [(i, f"{passage} unique tail {i} alpha beta") for i in range(4)]
    rows.append((99, "entirely original prose with no repeated passage inside"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = boilerplate_fraction(df, "doc_id", "text", n=3, min_df=3)
    m = {r["doc_id"]: r for r in out.collect()}
    # passage trigrams appear in 4 docs -> boilerplate; the per-doc unique
    # tails do not
    assert all(m[i]["n_boiler"] >= 6 for i in range(4))
    assert all(m[i]["boiler_fraction"] > 0.5 for i in range(4))
    assert m[99]["n_boiler"] == 0 and m[99]["boiler_fraction"] == 0.0
    assert sorted(m) == [0, 1, 2, 3, 99]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_scrub_pii_planted(spark):
    """Planted PII is masked with typed placeholders and counted per family;
    clean text is untouched. The Spark scrub and the DuckDB twin SQL agree
    byte-for-byte (engine regex parity)."""
    import duckdb

    from transcription_lakehouse_spark.operators.scrub import (
        duckdb_scrub_sql,
        scrub_report,
    )

    rows = [
        (1, "contact me at jane.doe+x@example.org or visit https://ex.com/a?b=1 now"),
        (2, "server 192.168.001.250 responded, call +1 555-123 4567 or 123456789"),
        (3, "perfectly clean text with the number 42 and word123 inside"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_report(df, "doc_id", "text").collect()}

    assert out[1]["n_email"] == 1 and out[1]["n_url"] == 1
    assert out[1]["scrubbed_text"] == "contact me at <EMAIL> or visit <URL> now"
    assert out[2]["n_ip"] == 1 and out[2]["n_phone"] == 1 and out[2]["n_idnum"] == 1
    assert "<IP>" in out[2]["scrubbed_text"]
    assert "<PHONE>" in out[2]["scrubbed_text"]
    assert "<NUM>" in out[2]["scrubbed_text"]
    assert out[3]["n_scrubbed"] == 0
    assert out[3]["scrubbed_text"] == rows[2][1]

    con = duckdb.connect()
    for doc_id, text in rows:
        got = con.execute(
            f"SELECT {duckdb_scrub_sql('?')}", [text]
        ).fetchone()[0]
        assert got == out[doc_id]["scrubbed_text"], (doc_id, got)

    plan = scrub_report(df, "doc_id", "text")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_connected_components_transitive_chain(spark):
    from transcription_lakehouse_spark.operators.graph import (
        connected_components,
        dup_clusters,
    )

    # two components: a 6-node path (needs >1 propagation round — exercises
    # pointer jumping) and a triangle; node 99 untouched (absent from edges)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12)],
        "a int, b int",
    )
    cc = {
        r["node"]: r["component"]
        for r in connected_components(edges, "a", "b").collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 10: 10, 11: 10, 12: 10}

    out = dup_clusters(edges, "a", "b").collect()
    keepers = sorted(r["doc_id"] for r in out if r["is_keeper"])
    assert keepers == [1, 10]
    assert len(out) == 9  # singletons not emitted


def test_lsh_banding_rejects_mismatched_signature_length(spark):
    """A signature longer than the assumed k must RAISE (in-plan guard),
    never silently band a prefix and lose recall; passing the matching k
    bands the full signature."""
    import pytest as _pytest

    from transcription_lakehouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [("a", "x y z w v u"), ("b", "x y z w v u"),
         ("c", "totally different words here now")],
        "doc_id string, text string",
    )
    assert lsh_candidate_pairs(
        minhash_signature(df, "doc_id", "text"), "doc_id"
    ).count() == 1
    sigs12 = minhash_signature(df, "doc_id", "text", k=12)
    with _pytest.raises(Exception, match="expected signature length"):
        lsh_candidate_pairs(sigs12, "doc_id").count()
    assert lsh_candidate_pairs(sigs12, "doc_id", k=12).count() == 1


def test_two_phase_components_match_hash_to_min(spark):
    from transcription_lakehouse_spark.operators.graph import connected_components

    # same fixture as the hash-to-min test: path + triangle + orientation mix
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (12, 10),
         (20, 21), (21, 20)],
        "a int, b int",
    )
    want = {
        r["node"]: r["component"]
        for r in connected_components(edges, "a", "b").collect()
    }
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, "a", "b", algorithm="two-phase"
        ).collect()
    }
    assert got == want
    import pytest

    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(edges, "a", "b", algorithm="nope")


def test_two_phase_components_chain_converges_logarithmically(spark):
    """A 10k-node chain (diameter = node count) must converge well inside
    max_iter — the case two-phase exists for (VERDICT r2 #6)."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.graph import dup_clusters

    n = 10_000
    chain = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    out = dup_clusters(chain, "a", "b", max_iter=18, algorithm="two-phase")
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("component_id").alias("n_comp"),
        F.sum(F.col("is_keeper").cast("long")).alias("n_keep"),
    ).collect()[0]
    assert (agg["n"], agg["n_comp"], agg["n_keep"]) == (n, 1, 1)


def test_connected_components_direction_invariance(spark):
    from transcription_lakehouse_spark.operators.graph import connected_components

    # same graph, edges given in arbitrary orientation — same components
    edges = spark.createDataFrame(
        [(5, 1), (2, 5), (7, 8)], "a int, b int"
    )
    cc = {
        r["node"]: r["component"]
        for r in connected_components(edges, "a", "b").collect()
    }
    assert cc == {1: 1, 2: 1, 5: 1, 7: 7, 8: 7}


def test_interval_overlap_join_semantics(spark):
    from transcription_lakehouse_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    W = 100  # tiny bins so pairs span MANY shared bins
    a = spark.createDataFrame(
        [
            ("u", 1, 0, 1000),     # spans 10 bins
            ("u", 2, 5000, 5010),
            ("u", 3, 7000, 7000),  # empty interval: never matches
            ("v", 4, 0, 1000),     # other key: must not meet u's intervals
        ],
        "k string, id int, s long, e long",
    )
    b = spark.createDataFrame(
        [
            ("u", 10, 500, 2000),   # overlaps id=1 across 5 shared bins
            ("u", 11, 1000, 1100),  # touches id=1 end: half-open, NO match
            ("u", 12, 5005, 6000),  # overlaps id=2
            ("v", 13, 100, 200),    # overlaps id=4 under key v only
        ],
        "k string, id2 int, s2 long, e2 long",
    )
    out = interval_overlap_join(
        a, b, ["k"], "s", "e", "s2", "e2", bin_width_us=W
    ).select("k", "id", "id2").collect()
    pairs = sorted((r["k"], r["id"], r["id2"]) for r in out)
    # exactly once each, despite multi-bin sharing
    assert pairs == [("u", 1, 10), ("u", 2, 12), ("v", 4, 13)]

    # plan: equi-join on (key, bin), never a nested loop or cartesian
    plan = (
        interval_overlap_join(a, b, ["k"], "s", "e", "s2", "e2", bin_width_us=W)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dup_span_stats_planted_shared_substring(spark):
    from transcription_lakehouse_spark.operators.dedup import dup_span_stats

    shared = "alpha beta gamma delta epsilon"  # 5-token shared run
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"five six seven {shared} eight"),
            (3, "nine ten eleven twelve thirteen fourteen"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dup_span_stats(docs, "doc_id", "text", n=5, min_df=2).collect()
    }
    # only the exact 5-gram "alpha...epsilon" recurs across docs -> one
    # 5-token span in each of doc 1 and 2, none in doc 3
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 5
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 5
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_fraction"] == 0.0
    assert out[1]["dup_fraction"] == round(5 / 9, 6)


def test_hard_negatives_excludes_same_label(spark):
    from transcription_lakehouse_spark.operators.similarity import hard_negatives

    # q (label 0) is nearly parallel to a same-label vector (excluded) and
    # moderately similar to two other-label vectors
    rows = [
        (0, 0, [1.0, 0.0, 0.0]),
        (1, 0, [0.99, 0.1, 0.0]),   # same label: must never appear
        (2, 1, [0.8, 0.6, 0.0]),
        (3, 1, [0.0, 1.0, 0.0]),
        (4, 2, [0.6, 0.0, 0.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, label int, embedding array<double>")
    out = hard_negatives(
        df.filter("vec_id = 0"), df, "vec_id", "embedding", "label", k=2
    ).collect()
    got = [(r["rank"], r["neighbor_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(1, 2), (2, 4)]  # ranked by cosine among labels != 0


def test_cms_sketch_guarantees_and_merge(spark):
    """Count-min invariants: estimate >= exact count for EVERY key,
    overshoot within the e/w * N additive bound, and sketches of disjoint
    halves MERGE by summing counters into exactly the full-stream sketch
    (the property that makes it a one-pass distributed aggregate)."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.sketches import (
        CMS_WIDTH,
        cms_estimate,
        cms_sketch,
        cms_topk,
    )

    # skewed stream: key 0 is a heavy hitter
    n = 5000
    df = spark.range(n).select(
        F.when(F.col("id") % 5 == 0, F.lit(0))
        .otherwise(F.col("id") % 250)
        .alias("k")
    )
    exact = {r["k"]: r["c"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()}
    sketch = cms_sketch(df, "k")
    est = {
        r["k"]: r["cms_count"]
        for r in cms_estimate(sketch, df.select("k").distinct(), "k").collect()
    }
    import math

    bound = math.e / CMS_WIDTH * n
    assert set(est) == set(exact)
    for key, e_cnt in est.items():
        assert e_cnt >= exact[key], (key, e_cnt, exact[key])
        assert e_cnt - exact[key] <= 3 * bound, (key, e_cnt, exact[key])
    # the true heavy hitter tops the sketch ranking
    top = cms_topk(df, "k", k=1).collect()[0]
    assert top["k"] == 0

    # merge: sketch(half1) + sketch(half2) == sketch(full), counter by counter
    h1, h2 = df.filter(F.col("k") % 2 == 0), df.filter(F.col("k") % 2 == 1)
    merged = (
        cms_sketch(h1, "k")
        .unionByName(cms_sketch(h2, "k"))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = cms_sketch(df, "k")
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_hll_error_bound_and_merge(spark):
    """HLL invariants: the estimate lands within the 3-sigma relative-error
    bound of the true cardinality, and register relations of disjoint
    halves MERGE by max into the full-stream registers."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.sketches import (
        hll_cardinality,
        hll_error_bound,
        hll_registers,
    )

    n_distinct = 3000
    df = spark.range(n_distinct * 3).select((F.col("id") % n_distinct).alias("k"))
    row = hll_cardinality(df, "k").collect()[0]
    rel_err = abs(row["hll_estimate"] - n_distinct) / n_distinct
    assert rel_err <= hll_error_bound(3.0), (row["hll_estimate"], rel_err)

    h1, h2 = df.filter(F.col("k") < 1500), df.filter(F.col("k") >= 1500)
    merged = (
        hll_registers(h1, "k")
        .unionByName(hll_registers(h2, "k"))
        .groupBy("register")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    full = hll_registers(df, "k")
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_production_banding_finds_planted_095_near_dups(spark):
    """The 0.95 production operating point (8 bands x 12 planes, the GEMM
    banding path) must actually FIND planted >=0.95-cosine duplicates with
    high recall while passing almost no random pairs — the property the
    8x12 shape was chosen for (recall 1-(1-.899^12)^8 = 0.93, random rate
    ~0.2%)."""
    import numpy as np

    from transcription_lakehouse_spark.operators.similarity import (
        lsh_near_dup_pairs,
    )

    rng = np.random.default_rng(11)
    rows, planted = [], []
    for i in range(150):
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        rows.append((f"o{i:03d}", [float(x) for x in v]))
        if i < 60:  # plant a >=0.95 near-dup: tiny perturbation
            w = v + rng.standard_normal(64) * 0.02
            w /= np.linalg.norm(w)
            assert float(v @ w) >= 0.95
            rows.append((f"p{i:03d}", [float(x) for x in w]))
            planted.append((f"o{i:03d}", f"p{i:03d}"))
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    got = {
        tuple(sorted((r["id_1"], r["id_2"])))
        for r in lsh_near_dup_pairs(
            df, "vec_id", "embedding", threshold=0.95,
            n_bands=8, planes_per_band=12,
        ).collect()
    }
    want = {tuple(sorted(p)) for p in planted}
    recall = len(got & want) / len(want)
    assert recall >= 0.85, (recall, len(got), len(want))
    # exact rescore keeps precision perfect: nothing below 0.95 survives
    extras = got - want
    if extras:
        vecs = {r[0]: np.asarray(r[1]) for r in rows}
        for a, b in extras:
            assert float(vecs[a] @ vecs[b]) >= 0.95, (a, b)


def test_histogram_quantile_error_bound_and_merge(spark):
    """Histogram-sketch quantiles: every estimate within one bin width of
    the exact percentile, and sketches of disjoint halves merge by summing
    bin counts (same (lo,hi) frame) into the full-stream sketch."""
    import numpy as np
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.sketches import (
        HIST_BINS,
        histogram_quantiles,
        histogram_sketch,
    )

    rng = np.random.default_rng(3)
    vals = np.concatenate([rng.normal(50, 10, 4000), rng.exponential(20, 2000)])
    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    sk = histogram_sketch(df, "v")
    qs = [0.1, 0.5, 0.9]
    est = {r["q"]: r["est"] for r in histogram_quantiles(sk, qs).collect()}
    width = (vals.max() - vals.min()) / HIST_BINS
    for q in qs:
        exact = float(np.quantile(vals, q))
        assert abs(est[q] - exact) <= width, (q, est[q], exact, width)

    # merge: bins of two halves (computed against the SAME global frame by
    # fixing lo/hi via union) sum to the full sketch
    h1 = df.filter(F.col("v") < 50)
    h2 = df.filter(F.col("v") >= 50)
    full = histogram_sketch(df, "v")
    lo, hi = full.select("lo", "hi").first()
    def rebinned(part):
        v = F.col("v")
        span = hi - lo
        raw = F.floor((v - F.lit(lo)) / F.lit(span) * HIST_BINS).cast("int")
        b = F.least(F.lit(HIST_BINS - 1), F.greatest(F.lit(0), raw))
        return part.groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias("cnt"))
    merged = (
        rebinned(h1).unionByName(rebinned(h2))
        .groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    )
    got = {(r["bin"], r["cnt"]) for r in merged.collect()}
    want = {(r["bin"], r["cnt"]) for r in full.select("bin", "cnt").collect()}
    assert got == want


def test_hll_max_rank_register_is_not_dropped(spark):
    """Regression: a key whose 24-bit md5 suffix is all zeros gets the
    capped rank 25; its harmonic term is 2^-(25) which the old
    2^RANK_BITS scaling truncated to 0 long (and SQL rounded to 1 —
    cross-engine divergence). Key 4147901 has exactly that suffix."""
    from transcription_lakehouse_spark.operators.sketches import (
        hll_cardinality,
        hll_registers,
    )

    df = spark.createDataFrame([(4147901,), (7,)], "k long")
    regs = {r["register"]: r["max_rank"] for r in hll_registers(df, "k").collect()}
    assert 25 in regs.values()  # the capped rank actually occurs
    row = hll_cardinality(df, "k").collect()[0]
    # scaled sum = 2^(25-25) + 2^(25-rank7) + 254 empty * 2^25 — the
    # rank-25 register must contribute exactly 1, never 0
    empty = row["zero_registers"] * (1 << 25)
    present = row["harmonic_sum_scaled"] - empty
    terms = sorted(1 << (25 - r) for r in regs.values())
    assert present == sum(terms)
    assert min(terms) == 1


def test_histogram_quantiles_rejects_out_of_range_q(spark):
    """ADVICE r3 (low): q=0 can never satisfy cum_before < target, so it
    must raise instead of silently returning no row."""
    import pytest

    from transcription_lakehouse_spark.operators.sketches import (
        histogram_quantiles,
        histogram_sketch,
    )

    df = spark.range(10).select(F.col("id").cast("double").alias("v"))
    sk = histogram_sketch(df, "v")
    with pytest.raises(ValueError, match="quantiles must be in"):
        histogram_quantiles(sk, [0.0, 0.5])
    with pytest.raises(ValueError, match="quantiles must be in"):
        histogram_quantiles(sk, [1.5])
    # valid extremes still work: q=1.0 is the max
    est = {r["q"]: r["est"] for r in histogram_quantiles(sk, [1.0]).collect()}
    assert abs(est[1.0] - 9.0) < (9.0 / 64) + 1e-9


def test_bloom_filter_no_false_negatives_and_merge(spark):
    """Bloom invariants: EVERY inserted key probes positive (one-sided
    error — the property that makes it safe for decontamination), the
    observed false-positive rate on disjoint keys stays near the analytic
    (1-e^(-kn/m))^k, and filters of disjoint halves MERGE by bit_or into
    exactly the full-set filter (map-side combinable)."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.sketches import (
        bloom_build,
        bloom_fpr,
        bloom_probe,
    )

    n = 4000
    members = spark.range(n).select(F.concat(F.lit("in-"), F.col("id")).alias("k"))
    others = spark.range(n).select(F.concat(F.lit("out-"), F.col("id")).alias("k"))
    bloom = bloom_build(members, "k")

    # no false negatives
    probed = bloom_probe(members, bloom, "k", keep=[])
    assert probed.filter(~F.col("bloom_member")).count() == 0

    # false-positive rate within 3x the analytic expectation (+ slack for
    # small-sample noise)
    fp = bloom_probe(others, bloom, "k", keep=[]).filter(F.col("bloom_member")).count()
    expected = bloom_fpr(n)
    assert fp / n <= 3 * expected + 0.01, (fp / n, expected)

    # merge by bit_or equals the filter of the union
    h1 = members.filter(F.col("k") < "in-2")  # string-prefix split
    h2 = members.exceptAll(h1)
    merged = (
        bloom_build(h1, "k")
        .unionByName(bloom_build(h2, "k"))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )
    full = bloom_build(members, "k")
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0

    # NULL keys are never members
    nulls = spark.range(1).select(F.lit(None).cast("string").alias("k"))
    row = bloom_probe(nulls, bloom, "k", keep=[]).collect()[0]
    assert row["bloom_member"] is False


def test_kmv_intersection_error_bound_and_merge(spark):
    """KMV invariants: the pairwise intersection estimate lands within a
    few sigma of the truth (RSE ~ 1/sqrt(k)), a group smaller than k is
    estimated EXACTLY (theta = 2^32 covers the whole set), and sketches
    merge by keeping the k smallest of the union."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.sketches import (
        KMV_K,
        kmv_intersection,
        kmv_sketch,
    )

    # groups A and B over integer keys: A = 0..3999, B = 2000..5999
    # → |A ∩ B| = 2000
    a = spark.range(0, 4000).select(F.lit("A").alias("g"), F.col("id").alias("k"))
    b = spark.range(2000, 6000).select(F.lit("B").alias("g"), F.col("id").alias("k"))
    sk = kmv_sketch(a.unionByName(b), "k", ["g"], k=KMV_K)
    est = kmv_intersection(sk, "g", k=KMV_K).collect()[0]
    true_common = 2000
    rse = 1.0 / (KMV_K**0.5)
    assert abs(est["est_common"] - true_common) / true_common <= 4 * rse, est

    # small group (< k distinct): sketch is the whole set, estimate exact
    c = spark.range(0, 50).select(F.lit("C").alias("g"), F.col("id").alias("k"))
    d = spark.range(25, 75).select(F.lit("D").alias("g"), F.col("id").alias("k"))
    sk_small = kmv_sketch(c.unionByName(d), "k", ["g"], k=KMV_K)
    row = kmv_intersection(sk_small, "g", k=KMV_K).collect()[0]
    assert row["theta_scaled"] == 1 << 32
    assert row["n_common"] == 25
    assert row["est_common"] == 25.0

    # merge: k smallest of (sketch(h1) ∪ sketch(h2)) == sketch(full)
    from pyspark.sql import Window

    full = kmv_sketch(a, "k", ["g"], k=KMV_K)
    h1 = a.filter(F.col("k") % 2 == 0)
    h2 = a.filter(F.col("k") % 2 == 1)
    win = Window.partitionBy("g").orderBy("h")
    merged = (
        kmv_sketch(h1, "k", ["g"], k=KMV_K)
        .unionByName(kmv_sketch(h2, "k", ["g"], k=KMV_K))
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= KMV_K)
        .drop("_rn")
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_kmv_intersection_domain_is_complete(spark):
    """Disjoint (or disjoint-at-sketch-resolution) group pairs must emit an
    explicit n_common=0 / est_common=0.0 row, not vanish — consumers
    iterating pairs would otherwise silently miss them. 3 groups → all 3
    pairs present, including the two involving the disjoint group."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.sketches import (
        KMV_K,
        kmv_intersection,
        kmv_sketch,
    )

    a = spark.range(0, 100).select(F.lit("A").alias("g"), F.col("id").alias("k"))
    b = spark.range(50, 150).select(F.lit("B").alias("g"), F.col("id").alias("k"))
    z = spark.range(10_000, 10_100).select(
        F.lit("Z").alias("g"), F.col("id").alias("k")
    )
    sk = kmv_sketch(a.unionByName(b).unionByName(z), "k", ["g"], k=KMV_K)
    rows = {(r["g_a"], r["g_b"]): r for r in kmv_intersection(sk, "g", k=KMV_K).collect()}
    assert set(rows) == {("A", "B"), ("A", "Z"), ("B", "Z")}
    assert rows[("A", "B")]["n_common"] == 50  # < k ⇒ exact
    for pair in [("A", "Z"), ("B", "Z")]:
        assert rows[pair]["n_common"] == 0
        assert rows[pair]["est_common"] == 0.0
        assert rows[pair]["theta_scaled"] == 1 << 32


def test_bloom_probe_preserves_duplicate_rows(spark):
    """bloom_probe answers for EVERY input row: duplicate (keep..., key)
    rows each get their own membership row (cardinality in == out)."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    members = spark.createDataFrame([("x",), ("y",)], "k string")
    bloom = bloom_build(members, "k")
    dup = spark.createDataFrame(
        [("x",), ("x",), ("x",), ("zz",), ("zz",)], "k string"
    )
    probed = bloom_probe(dup, bloom, "k", keep=[])
    assert probed.count() == 5
    assert probed.filter(F.col("k") == "x").filter(F.col("bloom_member")).count() == 3


def test_train_centroids_reproduces_committed_quantizer(spark):
    """The trained IVF path is hash-gated by injecting the committed
    centroid literals (workload/_ivf_quantizer.py) into both the Spark
    query and its DuckDB twin; this pins the remaining link — that
    `train_centroids` (tools/train_ivf.py) deterministically reproduces
    that artifact from the corpus it was trained on."""
    from transcription_lakehouse_spark.operators.similarity import train_centroids
    from transcription_lakehouse_spark.workload._ivf_quantizer import (
        CENTROIDS,
        N_CELLS,
        TRAINED_ON,
    )

    emb = spark.read.parquet(f"/root/testdata/{TRAINED_ON}/embeddings.parquet")
    got = train_centroids(emb, "vec_id", "embedding", n_cells=N_CELLS)
    assert got == CENTROIDS  # exact float equality: the path has no RNG


def test_pq_topk_recall_and_exact_degenerate(spark):
    """PQ ANN (Jégou et al. 2011): recall@5 vs brute force on the real
    sf0.01 embeddings with the committed codebooks; shortlist = corpus
    degenerates to exact; and the committed codebook artifact reproduces
    from its training corpus (same determinism pin as the IVF quantizer)."""
    import os

    import pytest as _pytest

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        _pytest.skip("driver testdata not present")

    from transcription_lakehouse_spark.operators.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )
    from transcription_lakehouse_spark.workload._pq_codebooks import (
        CODEBOOKS,
        K_CODES,
        M_SUBVECTORS,
        TRAINED_ON,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 25 == 0)
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }

    # near-random 64-dim vectors are PQ's hardest case; measured recall
    # with shortlist=64 of 500 sits well above this floor
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(
            q, e, "vec_id", "embedding", CODEBOOKS, k=5, shortlist=64
        ).collect()
    }
    assert len(got & want) / len(want) >= 0.5

    # shortlist >= corpus => the ADC stage cannot drop a true neighbor:
    # exact-equality with brute force
    n = e.count()
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in pq_topk(
            q, e, "vec_id", "embedding", CODEBOOKS, k=5, shortlist=n
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }
    assert full == exact

    # stored-index path: pre-materialized codes give identical results
    codes = pq_encode(e, "vec_id", "embedding", CODEBOOKS)
    got2 = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(
            q, e, "vec_id", "embedding", CODEBOOKS, k=5, shortlist=64,
            codes=codes,
        ).collect()
    }
    assert got2 == got

    # artifact determinism
    emb = spark.read.parquet(f"/root/testdata/{TRAINED_ON}/embeddings.parquet")
    assert (
        train_pq_codebooks(emb, "vec_id", "embedding", m=M_SUBVECTORS, k=K_CODES)
        == CODEBOOKS
    )


def test_ivfpq_topk_recall_and_determinism(spark):
    """IVF-PQ (FAISS IndexIVFPQ shape): recall@5 vs brute force with the
    committed artifacts; nprobe=16 (all cells) + shortlist=corpus
    degenerates to exact; residual codebook training reproduces the
    committed artifact."""
    import os

    import pytest as _pytest

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        _pytest.skip("driver testdata not present")

    from transcription_lakehouse_spark.operators.pq import (
        ivfpq_topk,
        train_ivfpq_codebooks,
    )
    from transcription_lakehouse_spark.workload._ivf_quantizer import CENTROIDS
    from transcription_lakehouse_spark.workload._ivfpq_codebooks import (
        CODEBOOKS,
        K_CODES,
        M_SUBVECTORS,
        TRAINED_ON,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 25 == 0)
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }

    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            q, e, "vec_id", "embedding", CENTROIDS, CODEBOOKS,
            k=5, nprobe=4, shortlist=64,
        ).collect()
    }
    # cell pruning (4/16) caps recall below plain PQ; near-random vectors
    # are the hardest case — floor sits under the measured value
    assert len(got & want) / len(want) >= 0.3

    n = e.count()
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivfpq_topk(
            q, e, "vec_id", "embedding", CENTROIDS, CODEBOOKS,
            k=5, nprobe=len(CENTROIDS), shortlist=n,
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }
    assert full == exact

    emb = spark.read.parquet(f"/root/testdata/{TRAINED_ON}/embeddings.parquet")
    assert (
        train_ivfpq_codebooks(
            emb, "vec_id", "embedding", CENTROIDS, m=M_SUBVECTORS, k=K_CODES
        )
        == CODEBOOKS
    )


def test_train_pca_reproduces_committed_basis(spark):
    """Determinism pin for `train_pca` (tools/train_pca.py) against the
    committed basis artifact — no RNG anywhere, so the sample, mean and
    covariance are bit-exact (the mean compares with ==). The eigendecomp
    itself goes through LAPACK `eigh`, whose last bits vary across BLAS
    builds (observed 6e-15 component drift between the artifact's build
    container and a later one, code unchanged) — components/eigenvalues
    therefore pin to a 1e-12 band, far below anything a 6-dp-rounded
    downstream query could ever observe, while still catching sampling,
    ordering or sign-fix regressions (any of those moves coords by >1e-3)."""
    import numpy as np

    from transcription_lakehouse_spark.operators.pca import train_pca
    from transcription_lakehouse_spark.workload._pca_basis import (
        COMPONENTS,
        EIGENVALUES,
        MEAN,
        N_COMPONENTS,
        TRAINED_ON,
    )

    emb = spark.read.parquet(f"/root/testdata/{TRAINED_ON}/embeddings.parquet")
    mean, comps, eigs = train_pca(
        emb, "vec_id", "embedding", n_components=N_COMPONENTS
    )
    assert mean == MEAN
    np.testing.assert_allclose(comps, COMPONENTS, rtol=0, atol=1e-12)
    np.testing.assert_allclose(eigs, EIGENVALUES, rtol=0, atol=1e-12)


def test_pca_basis_orthonormal_and_project_centers(spark):
    """Linear-algebra sanity of the committed basis plus the projection
    operator: components are unit-norm and pairwise orthogonal; projecting
    the training mean itself yields the zero coordinate vector; whitening
    rescales coords by 1/sqrt(eigenvalue)."""
    import numpy as np

    from transcription_lakehouse_spark.operators.pca import (
        pca_project,
        pca_whiten,
    )
    from transcription_lakehouse_spark.workload._pca_basis import (
        COMPONENTS,
        EIGENVALUES,
        MEAN,
    )

    C = np.array(COMPONENTS)
    gram = C @ C.T
    assert np.allclose(gram, np.eye(len(COMPONENTS)), atol=1e-9)
    # eigenvalues descend
    top = EIGENVALUES[: len(COMPONENTS)]
    assert top == sorted(top, reverse=True)

    df = spark.createDataFrame(
        [(0, [float(x) for x in MEAN])], "id INT, embedding ARRAY<DOUBLE>"
    )
    row = pca_project(df, "embedding", MEAN, COMPONENTS).collect()[0]
    assert all(abs(c) < 1e-12 for c in row["pca"])

    off = spark.createDataFrame(
        [(1, [float(x) + float(c) for x, c in zip(MEAN, COMPONENTS[0])])],
        "id INT, embedding ARRAY<DOUBLE>",
    )
    p = pca_project(off, "embedding", MEAN, COMPONENTS)
    got = p.collect()[0]["pca"]
    assert abs(got[0] - 1.0) < 1e-9  # unit step along component 0
    w = pca_whiten(p, "pca", EIGENVALUES[: len(COMPONENTS)]).collect()[0]
    assert abs(w["whitened"][0] - 1.0 / EIGENVALUES[0] ** 0.5) < 1e-6


def test_semdedup_kmeans_keeper_rule(spark):
    """Canonical SemDeDup keeper policy: within a duplicate group the
    member LEAST similar to its cluster centroid is kept (paper's
    diversity rule), and cross-cell near-dups are (by construction) not
    paired — the documented blind spot vs the LSH variant."""
    from transcription_lakehouse_spark.operators.similarity import (
        semdedup_kmeans,
    )

    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    rows = [
        # cell 0: three mutual near-dups with distinct centroid cosines
        (1, [1.0, 0.01, 0.0]),
        (2, [1.0, 0.10, 0.0]),   # least centroid-similar of the trio
        (3, [1.0, 0.05, 0.0]),
        # cell 1: singleton (never emitted)
        (4, [0.0, 1.0, 0.0]),
        # cell 0 vs cell 1: a cross-cell near-dup pair is NOT paired
        (5, [0.8, 0.75, 0.0]),   # cell 0 (cos to c0 > c1)
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = semdedup_kmeans(df, "vec_id", "embedding", cents, threshold=0.99)
    got = {r["vec_id"]: r for r in out.collect()}
    assert set(got) == {1, 2, 3}
    assert all(r["cell"] == 0 for r in got.values())
    assert all(r["component_id"] == 1 for r in got.values())
    keepers = [v for v, r in got.items() if r["is_keeper"]]
    assert keepers == [2]


def test_semdedup_kmeans_in_cell_transitive_closure(spark):
    """The r11 kernel computes the component closure INSIDE the per-cell
    kernel (pairs never span cells). Pin the union-find against a
    transitive chain A~B~C where A~C is NOT itself a pair (A and C sit
    just outside the threshold of each other) plus an independent second
    component in the same cell: one component must still merge the chain
    with component_id = min id, and the second must stay separate."""
    from transcription_lakehouse_spark.operators.similarity import (
        semdedup_kmeans,
    )

    cents = [[1.0, 0.0, 0.0]]
    # chain: 10~11 and 11~12 pass cos >= 0.9995; 10~12 does not
    rows = [
        (10, [1.0, 0.000, 0.0]),
        (11, [1.0, 0.025, 0.0]),
        (12, [1.0, 0.050, 0.0]),
        # separate pair, same cell, orthogonal-ish to the chain axis but
        # still nearest to centroid 0 (the only cell)
        (20, [1.0, 3.000, 0.0]),
        (21, [1.0, 3.010, 0.0]),
        # true singleton
        (30, [1.0, -9.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = semdedup_kmeans(df, "vec_id", "embedding", cents, threshold=0.9995)
    got = {r["vec_id"]: r for r in out.collect()}
    assert set(got) == {10, 11, 12, 20, 21}
    assert [got[v]["component_id"] for v in (10, 11, 12)] == [10, 10, 10]
    assert [got[v]["component_id"] for v in (20, 21)] == [20, 20]
    # exactly one keeper per component
    assert sum(got[v]["is_keeper"] for v in (10, 11, 12)) == 1
    assert sum(got[v]["is_keeper"] for v in (20, 21)) == 1


def test_pca_topk_recall_and_exact_degenerate(spark):
    """PCA coarse-rank ANN: recall@5 vs brute force on the real sf0.01
    embeddings with the committed basis; shortlist >= corpus degenerates
    to exact equality with brute force (the coarse stage can then drop
    nothing)."""
    import os

    import pytest as _pytest

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        _pytest.skip("driver testdata not present")

    from transcription_lakehouse_spark.operators.pca import pca_topk
    from transcription_lakehouse_spark.workload._pca_basis import (
        COMPONENTS,
        MEAN,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 25 == 0)
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in pca_topk(
            q, e, "vec_id", "embedding", MEAN, COMPONENTS, k=5, shortlist=64
        ).collect()
    }
    # measured on this corpus: recall@5 = 0.54 at shortlist 64 (0.43/0.65/
    # 0.79 at 40/100/150) — near-random 64-dim data is the basis's hardest
    # case; the 8 components carry ~21% of total variance
    assert len(got & want) / len(want) >= 0.5

    n = e.count()
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in pca_topk(
            q, e, "vec_id", "embedding", MEAN, COMPONENTS, k=5, shortlist=n
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }
    assert full == exact


def test_graph_ann_beam_validates_and_walk_is_deterministic(spark):
    from transcription_lakehouse_spark.operators.graph_ann import (
        build_knn_graph,
        graph_topk,
    )

    rows = _clustered_vectors(n_per_cluster=10)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    g = build_knn_graph(df, "vec_id", "embedding", k_graph=4)
    q = df.filter(F.col("vec_id") % 5 == 0)
    try:
        graph_topk(q, df, g, "vec_id", "embedding", k=5, beam=3)
        raise AssertionError("beam < k must raise")
    except ValueError:
        pass
    a = graph_topk(q, df, g, "vec_id", "embedding", k=3, beam=6, hops=2)
    b = graph_topk(q, df, g, "vec_id", "embedding", k=3, beam=6, hops=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_graph_ann_recall_gate_on_driver_testdata(spark):
    """Graph-class ANN (the reference's HNSW slot): on the REAL sf0.01
    embeddings the 2-of-8-band seed alone is deliberately weak; two hops
    over the 8-band-built k-NN graph must repair recall@5 both above a
    floor and strictly above the seed-only baseline — proving the graph
    walk does the work, not the seed."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        import pytest as _pytest

        _pytest.skip("driver testdata not present")
    from transcription_lakehouse_spark.operators.graph_ann import (
        build_knn_graph,
        graph_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 25 == 0)
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }
    g = build_knn_graph(e, "vec_id", "embedding", k_graph=16)
    seed_only = graph_topk(
        q, e, g, "vec_id", "embedding", k=5, beam=16, hops=0, seed_bands=2
    )
    walked = graph_topk(
        q, e, g, "vec_id", "embedding", k=5, beam=16, hops=2, seed_bands=2
    )
    r0 = len({(r[0], r[1]) for r in seed_only.collect()} & want) / len(want)
    r2 = len({(r[0], r[1]) for r in walked.collect()} & want) / len(want)
    # measured: r0 0.16, r2 0.82 — the walk, not the seed, does the work
    assert r2 >= r0 + 0.3, (r0, r2)
    assert r2 >= 0.7, (r0, r2)


def test_semantic_decontam_flags_planted_paraphrase(spark):
    """A corpus vector near an eval vector is flagged with the right
    argmax/hit-count; orthogonal corpus vectors are not flagged."""
    from transcription_lakehouse_spark.operators.decontam import (
        semantic_decontam,
    )

    dim = 16
    eval_rows = [
        (1000, [1.0] * dim),
        (1001, [1.0, -1.0] * (dim // 2)),
    ]
    corpus_rows = [
        (1, [1.0] * dim),                     # exact leak of eval 1000
        (2, [0.9] * (dim - 1) + [1.2]),       # near leak of eval 1000
        (3, [1.0, -1.0, 0.0, 0.0] * (dim // 4)),  # partial of 1001
        (4, [0.0] * (dim - 1) + [1.0]),       # ~orthogonal to both? no:
        # cos(e4, eval1000) = 1/4 = 0.25 < 0.9 threshold below
    ]
    ev = spark.createDataFrame(eval_rows, "vec_id long, embedding array<float>")
    co = spark.createDataFrame(corpus_rows, "vec_id long, embedding array<float>")
    got = {
        r["corpus_id"]: (r["matched_eval_id"], r["max_sim"], r["n_eval_hits"])
        for r in semantic_decontam(
            co, ev, "vec_id", "embedding", threshold=0.9,
            n_bands=8, planes_per_band=2,
        ).collect()
    }
    assert 1 in got and got[1][0] == 1000 and got[1][1] == 1.0
    assert 2 in got and got[2][0] == 1000 and got[2][1] >= 0.9
    assert 4 not in got
    # every flagged row's hit count matches its >=threshold eval matches
    assert all(v[2] >= 1 for v in got.values())


def test_semantic_decontam_hit_count_multiple_evals(spark):
    """n_eval_hits counts ALL eval vectors at/above threshold, while
    matched_eval_id is the argmax (ties broken by eval id)."""
    from transcription_lakehouse_spark.operators.decontam import (
        semantic_decontam,
    )

    dim = 8
    ev = spark.createDataFrame(
        [(10, [1.0] * dim), (11, [1.0] * dim)],
        "vec_id long, embedding array<float>",
    )
    co = spark.createDataFrame(
        [(1, [1.0] * dim)], "vec_id long, embedding array<float>"
    )
    rows = semantic_decontam(
        co, ev, "vec_id", "embedding", threshold=0.5,
        n_bands=8, planes_per_band=2,
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["matched_eval_id"] == 10  # tie -> min eval id
    assert r["n_eval_hits"] == 2

    # an eval row may share its id AND vector with a corpus row: that
    # collision is the leak itself, so it is never dropped as a self-pair
    leak = spark.createDataFrame(
        [(2, [0.5, -1.0] * (dim // 2))], "vec_id long, embedding array<float>"
    )
    rows = semantic_decontam(
        co.unionByName(leak), leak, "vec_id", "embedding", threshold=0.5,
        n_bands=8, planes_per_band=2,
    ).collect()
    assert [(r["corpus_id"], r["matched_eval_id"], r["max_sim"])
            for r in rows] == [(2, 2, 1.0)]


def test_training_order_deterministic_and_seed_reshuffles(spark):
    from transcription_lakehouse_spark.operators.ordering import (
        training_order,
    )

    df = spark.createDataFrame(
        [(i, "s") for i in range(50)], "doc_id long, source string"
    )
    a = training_order(df, "doc_id", keep_cols=["source"], n_shards=4)
    b = training_order(df, "doc_id", keep_cols=["source"], n_shards=4)
    ra = sorted(map(tuple, a.collect()))
    assert ra == sorted(map(tuple, b.collect()))  # resumability contract
    c = training_order(
        df, "doc_id", keep_cols=["source"], n_shards=4, seed="epoch1"
    )
    assert ra != sorted(map(tuple, c.collect()))  # new seed reshuffles
    # shard positions are contiguous 1..n within every shard
    import collections

    by_shard = collections.defaultdict(list)
    for doc_id, source, rep, shard, pos in ra:
        by_shard[shard].append(pos)
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_training_order_repeats_expand_each_copy_placed_independently(spark):
    from transcription_lakehouse_spark.operators.ordering import (
        training_order,
    )
    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [(1, 3), (2, 1)], "doc_id long, n_rep long"
    )
    rows = training_order(
        df, "doc_id", repeats=SF.col("n_rep"), n_shards=2
    ).collect()
    assert len(rows) == 4
    reps = sorted(r["rep"] for r in rows if r["doc_id"] == 1)
    assert reps == [0, 1, 2]


def test_train_logreg_learns_separable_data_and_apply_matches(spark):
    """The training half of the quality-model seam: on linearly separable
    data the deterministic logistic regression must reach accuracy 1.0,
    and the in-plan apply path must reproduce the driver-side scores."""
    import math

    from transcription_lakehouse_spark.operators.quality_model import (
        FEATURE_ORDER,
        quality_classifier,
        quality_features,
        train_logreg,
    )

    # separable toy: long fluent docs vs one-word spam
    good = [(i, "the quick brown fox jumps over the lazy dog " * 5)
            for i in range(20)]
    bad = [(100 + i, "spam " * 40) for i in range(20)]
    df = spark.createDataFrame(good + bad, "doc_id long, text string")
    feats = {
        r["doc_id"]: [float(r[f]) for f in FEATURE_ORDER]
        for r in quality_features(df, "doc_id", "text").collect()
    }
    x = [feats[i] for i, _ in good + bad]
    y = [1] * 20 + [0] * 20
    w, b = train_logreg(x, y)
    preds = [
        1.0 / (1.0 + math.exp(-(b + sum(wj * xj for wj, xj in zip(w, xi)))))
        >= 0.5
        for xi in x
    ]
    assert preds == [bool(v) for v in y]  # accuracy 1.0 on separable data

    weights = dict(zip(FEATURE_ORDER, w))
    applied = {
        r["doc_id"]: r["quality_pass"]
        for r in quality_classifier(df, "doc_id", "text", weights, b).collect()
    }
    assert all(applied[i] for i, _ in good)
    assert not any(applied[i] for i, _ in bad)


def _load_train_quality_tool():
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools", "train_quality.py",
    )
    spec = importlib.util.spec_from_file_location("train_quality", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_train_quality_artifact_reproducible(spark):
    """Retraining on the committed mixed training slice (sf docs + planted
    low-quality docs, md5-strided holdout) reproduces the committed weights
    bit-for-bit (the no-RNG determinism contract of every offline artifact
    in this repo)."""
    import os

    from transcription_lakehouse_spark.operators.quality_model import (
        FEATURE_ORDER,
        train_logreg,
    )
    from transcription_lakehouse_spark import _quality_model as QM

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        import pytest as _pytest

        _pytest.skip("driver testdata not present")
    tq = _load_train_quality_tool()
    keys, x, y = tq.build_slice(spark, sf_dir)
    tr_x, tr_y, ho_x, ho_y = tq.split_slice(keys, x, y)
    w, b = train_logreg(tr_x, tr_y, iters=tq.TRAIN_ITERS)
    assert b == QM.BIAS
    assert [w[i] for i in range(len(FEATURE_ORDER))] == [
        QM.WEIGHTS[f] for f in FEATURE_ORDER
    ]
    assert len(tr_y) == QM.N_TRAIN and len(ho_y) == QM.N_HOLDOUT
    assert tq.accuracy(w, b, ho_x, ho_y) == QM.HOLDOUT_ACCURACY


def test_quality_model_artifact_discriminates():
    """The committed artifact must be a real classifier, not the majority-
    class prior: mixed labels (prior well under the round-5 degenerate
    0.984) and holdout accuracy at least 0.1 above always-say-majority."""
    from transcription_lakehouse_spark import _quality_model as QM

    assert QM.LABEL_POS_RATE < 0.9, "training labels degenerate again"
    majority = max(QM.HOLDOUT_POS_RATE, 1.0 - QM.HOLDOUT_POS_RATE)
    assert QM.HOLDOUT_ACCURACY >= majority + 0.1, (
        f"holdout {QM.HOLDOUT_ACCURACY} vs majority baseline {majority}"
    )
    # every feature carried signal on the mixed slice — no zero weights,
    # no bias aliasing a constant feature (both round-5 degeneracies)
    assert all(w != 0.0 for w in QM.WEIGHTS.values())
    assert QM.BIAS not in QM.WEIGHTS.values()


def test_quality_model_rejects_planted_junk_accepts_fluent(spark):
    """Behavioral pin on the committed weights: fluent stopword-bearing
    prose scores above the curate default gate (0.5); symbol spam,
    one-token repetition, and keyword stuffing score below it."""
    from transcription_lakehouse_spark._quality_model import BIAS, WEIGHTS
    from transcription_lakehouse_spark.operators.quality_model import (
        quality_classifier,
    )

    fluent = (
        "the committee reviewed the updated proposal and agreed that "
        "the schedule for the next quarter was realistic given the "
        "available budget and the feedback from the field teams"
    )
    rows = quality_classifier(
        spark.createDataFrame(
            [
                (1, fluent),
                (2, "#sale @now *deal ^top ~win |buy " * 6),
                (3, ("click " * 50).strip()),
                (4, " ".join(["cheap", "deal", "offer"][j % 3]
                             for j in range(60))),
            ],
            "doc_id long, text string",
        ),
        "doc_id", "text", WEIGHTS, BIAS,
    ).collect()
    score = {r["doc_id"]: r["quality_score"] for r in rows}
    assert score[1] >= 0.5, f"fluent doc rejected: {score[1]}"
    for did in (2, 3, 4):
        assert score[did] < 0.5, f"junk doc {did} passed: {score[did]}"


def test_training_order_clamps_nonpositive_repeats(spark):
    """repeats < 1 must mean 'emit once', not Spark's descending
    sequence(0, -1) = [0, -1] phantom-copy foot-gun."""
    from transcription_lakehouse_spark.operators.ordering import (
        training_order,
    )
    import pyspark.sql.functions as SF

    df = spark.createDataFrame([(1, 0), (2, -3)], "doc_id long, n_rep long")
    rows = training_order(df, "doc_id", repeats=SF.col("n_rep")).collect()
    assert sorted((r["doc_id"], r["rep"]) for r in rows) == [(1, 0), (2, 0)]


def test_write_training_shards_preserves_in_file_order(spark, tmp_path):
    """The physical sink contract: each shard=K directory reads back in
    exactly shard_pos order with no sort at read time (parquet preserves
    write order; the loader consumes files sequentially)."""
    import glob

    from transcription_lakehouse_spark.operators.ordering import (
        training_order,
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, "s") for i in range(200)], "doc_id long, source string"
    )
    ordered = training_order(df, "doc_id", keep_cols=["source"], n_shards=4)
    out = str(tmp_path / "shards")
    write_training_shards(ordered, out, n_shards=4)
    dirs = sorted(glob.glob(out + "/shard=*"))
    assert len(dirs) == 4
    assert ordered.select("shard").distinct().count() == 4
    for d in dirs:
        shard = int(d.rsplit("=", 1)[1])
        got = [r["doc_id"] for r in spark.read.parquet(d).collect()]
        exp = [
            r["doc_id"]
            for r in sorted(
                ordered.filter(F.col("shard") == shard).collect(),
                key=lambda r: r["shard_pos"],
            )
        ]
        assert got == exp, f"shard {shard} order broken"


def test_training_order_is_partitioning_invariant(spark):
    """The placement contract cannot depend on physical layout: the same
    input under different partitionings must produce the identical
    (shard, shard_pos) assignment — at cluster scale the input arrives
    in arbitrary splits."""
    from transcription_lakehouse_spark.operators.ordering import (
        training_order,
    )

    df = spark.createDataFrame(
        [(i, "s%d" % (i % 3)) for i in range(300)],
        "doc_id long, source string",
    )
    a = training_order(df.coalesce(1), "doc_id", keep_cols=["source"])
    b = training_order(df.repartition(7), "doc_id", keep_cols=["source"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_semdedup_kmeans_string_ids(spark):
    """The pair schema follows the id column's type (ADVICE r5: it was
    hard-coded LONG, so the repo's string doc_id convention crashed)."""
    from transcription_lakehouse_spark.operators.similarity import (
        semdedup_kmeans,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        ("doc-a", [1.0, 0.01]),
        ("doc-b", [1.0, 0.02]),
        ("doc-c", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "doc_id STRING, embedding ARRAY<DOUBLE>")
    out = semdedup_kmeans(df, "doc_id", "embedding", cents, threshold=0.99)
    got = {r["vec_id"]: r["is_keeper"] for r in out.collect()}
    assert set(got) == {"doc-a", "doc-b"}
    assert sum(got.values()) == 1  # exactly one keeper in the dup group


def test_round6_half_away_matches_spark_and_duckdb():
    """The semdedup kernel's rounding must be half-AWAY-from-zero like
    F.round and DuckDB round(), not numpy/Python half-to-even (ADVICE r5:
    a cosine on an exact 6-dp half boundary was decided differently)."""
    import duckdb
    import numpy as np

    from transcription_lakehouse_spark.operators.similarity import (
        _round6_half_away,
    )

    vals = [0.9999995, 0.1234565, -0.1234565, 0.0000005, -0.0000005,
            0.5, -0.5, 0.95, 0.12345649, 0.12345651]
    ours = _round6_half_away(np.array(vals))
    # CAST AS DOUBLE: a bare literal parses as DECIMAL in DuckDB, and the
    # kernel's inputs are float64 cosines
    duck = [
        duckdb.sql(f"SELECT round(CAST({v!r} AS DOUBLE), 6)").fetchone()[0]
        for v in vals
    ]
    assert list(ours) == duck
    # and numpy's default would disagree on the half-boundary cases,
    # proving the fix is load-bearing
    assert list(np.round(np.array(vals), 6)) != duck


def test_pca_whiten_full_spectrum_slices_short_raises(spark):
    """pca_whiten accepts the artifact's FULL eigenvalue spectrum (sliced
    in-plan to the projected width) and refuses a spectrum SHORTER than
    the coords instead of zip_with's silent null-padding (ADVICE r5)."""
    import pytest as _pytest

    from transcription_lakehouse_spark.operators.pca import pca_whiten

    df = spark.createDataFrame([(1, [2.0, 3.0])], "id INT, pca ARRAY<DOUBLE>")
    # full spectrum longer than coords: extra eigenvalues ignored
    out = pca_whiten(df, "pca", [4.0, 9.0, 16.0, 25.0]).collect()[0]
    assert len(out["whitened"]) == 2
    assert abs(out["whitened"][0] - 1.0) < 1e-6   # 2 / sqrt(4)
    assert abs(out["whitened"][1] - 1.0) < 1e-6   # 3 / sqrt(9)
    # shorter spectrum: raises, never null-pads
    with _pytest.raises(Exception, match="eigenvalues shorter"):
        pca_whiten(df, "pca", [4.0]).collect()


def test_graph_ann_coarse_recall_beats_lsh_seed(spark):
    """Two-layer descent (committed-IVF coarse seed + graph walk): recall@5
    on the real sf0.01 embeddings must clear 0.80 (the round-5 verdict
    target) and beat the narrow-LSH-seeded walk at identical walk params —
    the coarse layer, not extra walking, closes the gap."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        import pytest as _pytest

        _pytest.skip("driver testdata not present")
    from transcription_lakehouse_spark.operators.graph_ann import (
        build_knn_graph,
        graph_topk,
        graph_topk_coarse,
    )
    from transcription_lakehouse_spark.workload._ivf_quantizer import (
        CENTROIDS,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 25 == 0)
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, e, "vec_id", "embedding", k=5).collect()
    }
    g = build_knn_graph(e, "vec_id", "embedding", k_graph=16)
    lsh_walked = graph_topk(
        q, e, g, "vec_id", "embedding", k=5, beam=16, hops=2, seed_bands=2
    )
    coarse = graph_topk_coarse(
        q, e, g, "vec_id", "embedding", CENTROIDS, k=5, beam=16, hops=2,
        nprobe=2,
    )
    r_lsh = len({(r[0], r[1]) for r in lsh_walked.collect()} & want) / len(want)
    r_coarse = len({(r[0], r[1]) for r in coarse.collect()} & want) / len(want)
    # measured: 0.82 LSH-seeded vs 0.90 coarse-seeded
    assert r_coarse >= 0.80, (r_lsh, r_coarse)
    assert r_coarse > r_lsh, (r_lsh, r_coarse)

    # beam < k contract shared with graph_topk
    try:
        graph_topk_coarse(
            q, e, g, "vec_id", "embedding", CENTROIDS, k=5, beam=3
        )
        raise AssertionError("beam < k must raise")
    except ValueError:
        pass


def test_append_knn_graph_equals_full_rebuild(spark):
    """Incremental graph maintenance contract: folding a batch into an
    existing edge list reproduces the full rebuild EXACTLY (top-k of a
    union = top-k of retained-top-k plus the new candidates), row for
    row — and srcs with no bucket collision pass through unrescored."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        import pytest as _pytest

        _pytest.skip("driver testdata not present")
    from transcription_lakehouse_spark.operators.graph_ann import (
        append_knn_graph,
        build_knn_graph,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = e.filter(F.col("vec_id") % 3 != 0)
    batch = e.filter(F.col("vec_id") % 3 == 0)
    g0 = build_knn_graph(old, "vec_id", "embedding", k_graph=16)
    appended = append_knn_graph(
        g0, old, batch, "vec_id", "embedding", k_graph=16
    )
    full = build_knn_graph(e, "vec_id", "embedding", k_graph=16)
    a = sorted(map(tuple, appended.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b
    # an empty batch is the identity (every src untouched)
    ident = append_knn_graph(
        g0, old, batch.limit(0), "vec_id", "embedding", k_graph=16
    )
    assert sorted(map(tuple, ident.collect())) == sorted(
        map(tuple, g0.collect())
    )


def test_curriculum_order_tiers_and_determinism(spark):
    """Curriculum schedule contract: within every shard, tier is
    non-decreasing in shard_pos (clean-first serving order); high_first
    puts the top score bucket at tier 0; the assignment is partitioning-
    invariant and reshuffles under a new seed WITHIN tiers only."""
    from transcription_lakehouse_spark.operators.ordering import (
        curriculum_order,
    )

    rows = [(i, round(0.05 + 0.9 * (i % 10) / 9, 3)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    out = curriculum_order(
        df, "doc_id", "score", n_buckets=4, n_shards=4, seed="s0"
    ).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["shard_pos"])
        tiers = [r["tier"] for r in rs]
        assert tiers == sorted(tiers), f"shard {shard} serves out of tier"
        assert [r["shard_pos"] for r in rs] == list(range(1, len(rs) + 1))
    # high_first: the best scores land in tier 0
    best = [r for r in out if r["score"] >= 0.75]
    assert best and all(r["tier"] == 0 for r in best)
    worst = [r for r in out if r["score"] < 0.25]
    assert worst and all(r["tier"] == 3 for r in worst)

    # partitioning invariance (the training_order contract)
    again = curriculum_order(
        df.repartition(7), "doc_id", "score", n_buckets=4, n_shards=4,
        seed="s0",
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    # a new seed reshuffles within tiers but never across them
    re = curriculum_order(
        df, "doc_id", "score", n_buckets=4, n_shards=4, seed="s1"
    ).collect()
    tier_of = {r["doc_id"]: r["tier"] for r in out}
    assert all(tier_of[r["doc_id"]] == r["tier"] for r in re)
    assert sorted(map(tuple, out)) != sorted(map(tuple, re))


def test_curriculum_order_clamps_out_of_range_scores(spark):
    """Scores outside [0, 1] clamp into the edge tiers instead of minting
    out-of-range tier ids."""
    from transcription_lakehouse_spark.operators.ordering import (
        curriculum_order,
    )

    df = spark.createDataFrame(
        [(1, -0.3), (2, 1.7), (3, 0.5)], "doc_id long, score double"
    )
    got = {r["doc_id"]: r["tier"] for r in curriculum_order(
        df, "doc_id", "score", n_buckets=4, n_shards=2
    ).collect()}
    assert got == {1: 3, 2: 0, 3: 1}  # high_first: worst->3, best->0


def test_curriculum_order_null_score_lands_in_worst_tier(spark):
    """NULL scores must serve LAST, not first: least/greatest skip nulls,
    so without the coalesce a NULL score would bucket to n_buckets-1 and
    invert to tier 0 (the cleanest slice) under high_first — unscored
    rows outranking every scored document."""
    from transcription_lakehouse_spark.operators.ordering import (
        curriculum_order,
    )

    df = spark.createDataFrame(
        [(1, None), (2, 0.9), (3, 0.1)], "doc_id long, score double"
    )
    got = {r["doc_id"]: r["tier"] for r in curriculum_order(
        df, "doc_id", "score", n_buckets=4, n_shards=2
    ).collect()}
    assert got == {1: 3, 2: 0, 3: 3}  # null -> worst tier, with the 0.1 doc
    # and low_first symmetric: null -> tier 0 = worst-first schedule's start
    got_low = {r["doc_id"]: r["tier"] for r in curriculum_order(
        df, "doc_id", "score", n_buckets=4, n_shards=2, high_first=False
    ).collect()}
    assert got_low == {1: 0, 2: 3, 3: 0}


def test_dsir_weights_favor_the_target_slice(spark):
    """DSIR sanity: documents from the target slice (lang='en') must
    average a HIGHER importance log-weight than off-target documents —
    the whole point of the estimator — and weights must be finite."""
    import math

    from transcription_lakehouse_spark.workload.text import doc_dsir_weights

    sf_dir = "/root/testdata/sf0.001"
    out = doc_dsir_weights(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(sf_dir + "/documents.parquet")
        .select("doc_id", "lang").collect()
    }
    en = [r["dsir_logweight"] for r in out if docs[r["doc_id"]] == "en"]
    other = [r["dsir_logweight"] for r in out if docs[r["doc_id"]] != "en"]
    assert en and other
    assert all(math.isfinite(w) for w in en + other)
    # per-token normalization is the resampling statistic; compare means
    assert sum(en) / len(en) > sum(other) / len(other)


def test_kcenter_coreset_properties(spark):
    """Farthest-point traversal invariants: picks are distinct; the pick
    distances are NON-INCREASING (each new center's min-distance to the
    selected set can only shrink as the set grows — the property that
    makes greedy k-center a 2-approximation); and the first pick past
    the seed is genuinely the farthest point from it."""
    from transcription_lakehouse_spark.workload.vectors import (
        vec_kcenter_coreset,
    )

    out = vec_kcenter_coreset(spark, "/root/testdata/sf0.001").collect()
    assert [r["step"] for r in out] == list(range(1, 13))
    ids = [r["vec_id"] for r in out]
    assert len(set(ids)) == len(ids)
    dists = [r["min_dist"] for r in out[1:]]
    assert all(d is not None and d > 0 for d in dists)
    assert all(a >= b for a, b in zip(dists, dists[1:])), dists


def test_ngram_lm_separates_gibberish_from_fluent(spark):
    """The hashed 3-gram stupid-backoff LM must separate token-SHUFFLED
    gibberish from fluent text — by construction a shuffled twin has the
    IDENTICAL token multiset, so every unigram-only score (the
    doc_unigram_logprob leg) ties exactly; only the higher-order model
    can tell them apart (the r8 verdict's "missing #3" done-criterion)."""
    import random

    from transcription_lakehouse_spark.operators.ngram_lm import (
        score_ngram_logprob,
        train_ngram_counts,
    )

    rng = random.Random(7)
    patterns = [
        "the cat sat on the mat and the dog slept by the door",
        "a quick brown fox jumps over the lazy dog every single day",
        "she sells sea shells by the sea shore in the morning",
        "we hold these truths to be self evident among the people",
    ]
    train_texts = [
        " ".join(rng.choice(patterns) for _ in range(3)) for _ in range(40)
    ]
    train_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)],
        "doc_id long, text string",
    )
    model = train_ngram_counts(
        train_df, "text", uni_b=1024, bi_b=2048, tri_b=4096
    )

    # eval: held-out fluent compositions + their token-shuffled twins
    fluent = [
        " ".join(rng.choice(patterns) for _ in range(2)) for _ in range(10)
    ]
    rows = []
    for i, t in enumerate(fluent):
        rows.append((i * 2, t))                     # even ids: fluent
        shuffled = t.split()
        rng.shuffle(shuffled)
        rows.append((i * 2 + 1, " ".join(shuffled)))  # odd: gibberish twin
    scored = {
        r["doc_id"]: (r["sum_nll"], r["n_tokens"])
        for r in score_ngram_logprob(
            spark.createDataFrame(rows, "doc_id long, text string"),
            "doc_id", "text", model,
        ).collect()
    }
    margins = []
    for i in range(10):
        nll_f, n_f = scored[i * 2]
        nll_g, n_g = scored[i * 2 + 1]
        assert n_f == n_g  # same multiset, same token count
        margins.append(nll_g / n_g - nll_f / n_f)
    # EVERY shuffled twin scores strictly worse per token — while the
    # unigram score's margin is identically zero on these pairs
    assert all(m > 0.1 for m in margins), margins


def test_ngram_arrow_kernel_matches_join_path(spark):
    """The r11 Arrow backoff kernel must be ROW-IDENTICAL (ids, counts,
    and every sum_nll bit) to the five-broadcast-join plan it replaced —
    on the committed artifact AND a freshly trained model, including the
    empty/NULL/1-token/2-token edge stripe the join path drops or
    backoff-guards."""
    from transcription_lakehouse_spark import _ngram_lm as LM
    from transcription_lakehouse_spark.operators.ngram_lm import (
        score_ngram_logprob,
        train_ngram_counts,
    )

    rows = [
        (1, "hello"),
        (2, "hello world"),
        (3, ""),
        (4, None),
        (5, "the cat sat on the mat and the dog slept by the door"),
        (6, "zzz qqq xxx unseen tokens everywhere"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    committed = {
        "uni_b": LM.UNI_B, "bi_b": LM.BI_B, "tri_b": LM.TRI_B,
        "total": LM.TOTAL, "uni": LM.UNI, "bi": LM.BI, "tri": LM.TRI,
    }
    trained = train_ngram_counts(
        df.filter("doc_id = 5"), "text", uni_b=64, bi_b=128, tri_b=128
    )
    for model in (committed, trained):
        a = score_ngram_logprob(
            df, "doc_id", "text", model, arrow=True
        ).collect()
        b = score_ngram_logprob(
            df, "doc_id", "text", model, arrow=False
        ).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        assert {r["doc_id"] for r in a} == {1, 2, 5, 6}


def test_curation_v4_lm_band_catches_gibberish_that_survives_v3(
    spark, tmp_path
):
    """The v4 funnel's trigram-LM band (committed held-out-trained
    artifact) catches token-shuffled gibberish that PASSES every v3
    gate: a shuffled twin shares the original's token multiset (unigram
    surprisal ties exactly), shares no 5-gram shingles (never a near-dup
    cluster member) and no cross-doc 13-grams (no dup spans). Pinned
    docs 45/31 from the sf0.01 corpus: originals score ~1.9 mean nll,
    their seed-42 shuffles ~3.6 — straddling the 3.2 band."""
    import random

    from transcription_lakehouse_spark.workload.text import (
        doc_curation_v3,
        doc_curation_v4,
    )

    src = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .filter("doc_id < 120").collect()
    )
    by_id = {int(r["doc_id"]): r for r in src}
    rng = random.Random(42)
    rows = [(int(r["doc_id"]), r["text"], r["lang"], r["source"],
             int(r["n_chars"])) for r in src]
    for orig_id, twin_id in ((45, 1045), (31, 1031)):
        toks = by_id[orig_id]["text"].split()
        # seed-42 per-doc shuffle, same discipline as the band probe
        sh = toks[:]
        rng.shuffle(sh)
        txt = " ".join(sh)
        rows.append((twin_id, txt, by_id[orig_id]["lang"],
                     by_id[orig_id]["source"], len(txt)))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    sf_dir = str(tmp_path / "sf")
    df.repartition(1).write.parquet(f"{sf_dir}/documents.parquet")

    v3 = {r["doc_id"]: r.asDict()
          for r in doc_curation_v3(spark, sf_dir).collect()}
    v4 = {r["doc_id"]: r.asDict()
          for r in doc_curation_v4(spark, sf_dir).collect()}
    for orig_id, twin_id in ((45, 1045), (31, 1031)):
        # the gibberish twin SURVIVES v3 (all three gates pass) ...
        assert v3[twin_id]["kept"], v3[twin_id]
        # ... and v4's LM band alone kills it
        assert not v4[twin_id]["g_lm"], v4[twin_id]
        assert not v4[twin_id]["kept"]
        # the fluent original passes the band (v4 keeps iff v3 kept)
        assert v4[orig_id]["g_lm"], v4[orig_id]
        assert v4[orig_id]["kept"] == v3[orig_id]["kept"]
    # v4 never resurrects a v3 reject and only ever cuts via g_lm
    for d in v4:
        assert v4[d]["kept"] == (v3[d]["kept"] and v4[d]["g_lm"])


def test_pq_and_pca_drift_reports(spark):
    """Quantizer-drift observability beyond IVF (r10 VERDICT #5): PQ
    codeword-usage PSI and PCA captured-energy both sit ~0 on the
    training corpus and fire on a synthetically drifted one — the
    retrain signal for trained state that otherwise goes stale
    silently."""
    import random

    from transcription_lakehouse_spark.operators.drift import (
        pca_drift_report,
        pq_code_usage,
        pq_drift_report,
    )
    from transcription_lakehouse_spark.operators.pca import train_pca
    from transcription_lakehouse_spark.operators.pq import (
        train_pq_codebooks,
    )

    rows = _clustered_vectors(n_per_cluster=20)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    books = train_pq_codebooks(df, "vec_id", "embedding", m=4, k=8)
    use_train = pq_code_usage(df, "vec_id", "embedding", books)
    assert set(use_train) == {0, 1, 2, 3}          # m subspaces
    for d in use_train.values():                   # fractions normalize
        assert abs(sum(d.values()) - 1.0) < 1e-9
    same = pq_drift_report(use_train, use_train, k=8)
    assert same["psi_max"] == 0.0
    assert same["recommend_retrain"] is False

    # drift: one cluster floods the corpus — the cluster-bearing
    # subspace's usage collapses onto that cluster's codewords
    random.seed(13)
    center = rows[0][1]
    flood = [
        (10_000 + i, [x + random.gauss(0, 0.5) for x in center])
        for i in range(300)
    ]
    drifted = df.unionByName(spark.createDataFrame(
        flood, "vec_id long, embedding array<float>"))
    use_now = pq_code_usage(drifted, "vec_id", "embedding", books)
    rep = pq_drift_report(use_train, use_now, k=8)
    assert rep["psi_max"] >= 0.25
    assert rep["recommend_retrain"] is True

    # PCA: on the training corpus the live captured-energy ratio
    # matches the training explained-variance ratio
    mean, comps, eig = train_pca(df, "vec_id", "embedding",
                                 n_components=4)
    rep0 = pca_drift_report(df, "embedding", mean, comps, eig)
    assert abs(rep0["captured_now"] - rep0["captured_train"]) < 0.05
    assert rep0["recommend_retrain"] is False
    # drift: new mass varies in directions the basis never retained
    # (dims 8..15 were constant at train time) -> captured drops, fires
    ortho = [
        (20_000 + i,
         [-10.0 + random.gauss(0, 0.2)] * 8
         + [random.gauss(0, 10.0) for _ in range(8)])
        for i in range(200)
    ]
    drifted2 = df.unionByName(spark.createDataFrame(
        ortho, "vec_id long, embedding array<float>"))
    rep1 = pca_drift_report(drifted2, "embedding", mean, comps, eig)
    assert rep1["captured_now"] < rep1["captured_train"]
    assert rep1["rel_drop"] >= 0.1
    assert rep1["recommend_retrain"] is True


def test_cc_driver_fast_path_matches_distributed(spark):
    """r11: the bounded driver union-find (small symmetrized edge sets)
    must be row-identical to the distributed hash-to-min loop, for long
    AND string node ids; driver_max_edges=0 forces the loop."""
    from transcription_lakehouse_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (3, 1)],
        "a long, b long",
    )
    fast = {
        (r["node"], r["component"])
        for r in connected_components(edges, "a", "b").collect()
    }
    slow = {
        (r["node"], r["component"])
        for r in connected_components(
            edges, "a", "b", driver_max_edges=0
        ).collect()
    }
    assert fast == slow and fast
    sedges = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("q", "p")], "a string, b string"
    )
    f2 = {
        (r["node"], r["component"])
        for r in connected_components(sedges, "a", "b").collect()
    }
    s2 = {
        (r["node"], r["component"])
        for r in connected_components(
            sedges, "a", "b", driver_max_edges=0
        ).collect()
    }
    assert f2 == s2 == {
        ("x", "x"), ("y", "x"), ("z", "x"), ("q", "p"), ("p", "p")
    }


def test_kcenter_driver_fast_path_matches_distributed(spark, monkeypatch):
    """r11: the bounded driver k-center loop must be ROW-IDENTICAL
    (ids AND 6-dp rounded distances) to the distributed per-pick loop —
    the arithmetic replication contract (fold order + F.round
    semantics)."""
    import transcription_lakehouse_spark.workload.vectors as wv

    fast = wv.vec_kcenter_coreset(spark, "/root/testdata/sf0.001").collect()
    monkeypatch.setattr(wv, "_KCENTER_DRIVER_MAX_ROWS", 0)
    slow = wv.vec_kcenter_coreset(spark, "/root/testdata/sf0.001").collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in slow]
    assert len(fast) == wv._KCENTER_K
