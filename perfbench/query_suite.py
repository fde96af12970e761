"""``query_suite``: bulk analytical reads plus small serving calls, one
client, closed loop.

Setup writes the ten seeded tables, stores the x20 document corpus as
parquet (timed calls read stored tables), builds a ``txlog`` lake from
seeded transcripts (``pipeline.ingest`` + ``pipeline.catalog``), stores an
IVF index over the vectors with ``indexing.build_ivf_index``, and ends
with one untimed warm-up pass (its timed regions count toward
``setup_s``), so the timed passes measure the steady state rather than
the JVM's first use of each operator. Each pass runs the pool pinned by
name in ``spec.json`` (never by ``QUERIES`` order), in an order the seed
permutes. The inputs are small (about 1,500 orders, 5,000 x20 documents,
1,000 vectors), so most entries' walls are fixed per-call costs (job
scheduling, Catalyst, Python-worker round trips) rather than executor
work. Families:

- ``relational``/``events``/``text``/``transcript``/``vectors``: named
  ``workload.QUERIES`` entries, each checked against its DuckDB oracle
  (computed once, outside timed regions and outside ``setup_s``);
- ``ann20x``: MinHash signatures + LSH candidate pairs (``operators.
  dedup``) on the stored x20 documents, checked against a DuckDB digest of
  the exact candidate set and by the replica pairs it must hold;
- ``serve``: one-vector ``indexing.search_ivf`` (k=10), checked against
  an exact numpy top-k over the cells the query probes (recall against
  ``indexing.search(exact=True)`` is recorded, untimed), point lookups
  through ``ingestion.read_versioned`` on the txlog lake, and an append of
  a new ~60-utterance episode with ``lakehouse ingest --incremental`` (the
  JSONL file is written untimed). Every acknowledged append must read back
  with its exact row count at the end of the run.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import time
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from lake_build import dir_bytes

SIZES = gen.Sizes(events=5_000, episodes=75, orders=1_500, customers=150,
                  parts=200, suppliers=10, documents=250, vectors=1_000)
REPLICAS = 20
SERVE_UTTERANCES, SERVE_EPISODES, APPEND_UTTERANCES = 1_500, 25, 60
SEARCH_K = 10
NPROBE = 4
SIM_TOL = 2e-6  # 6-dp rounded cosines
FAMILIES = ("relational", "events", "text", "transcript", "vectors", "ann20x")


def pool() -> dict[str, list[str]]:
    with open(os.path.join(os.path.dirname(__file__), "spec.json")) as f:
        return json.load(f)["workloads"]["query_suite"]["pool"]


def _scaled(s: gen.Sizes, f: float) -> gen.Sizes:
    return gen.Sizes(**{k: max(10, int(v * f)) for k, v in vars(s).items()})


def _replicate(src: str, dst: str, id_col: str) -> None:
    """x20 corpus: every row ``REPLICAS`` times with distinct ids."""
    t = pq.read_table(src)
    idx = np.repeat(np.arange(t.num_rows), REPLICAS)
    ids = t[id_col].to_numpy()[idx] * REPLICAS + np.tile(
        np.arange(REPLICAS), t.num_rows)
    t = t.take(idx).drop([id_col]).add_column(0, id_col, [ids])
    pq.write_table(t, dst)


# --- setup -----------------------------------------------------------------

def setup(ctx) -> SimpleNamespace:
    from transcription_lakehouse_spark import indexing, pipeline

    spark, f = ctx.spark, ctx.scale
    st = SimpleNamespace(rng=np.random.default_rng([ctx.seed, 3]), recall=[],
                         acked={}, appended_bytes=0, setup_parts_s={})
    clock = [time.perf_counter()]

    def part(name):
        now = time.perf_counter()
        st.setup_parts_s[name] = now - clock[0]
        clock[0] = now

    st.sizes = _scaled(SIZES, f)
    st.data = os.path.join(ctx.tmp, "data")
    gen.write_tables(st.data, ctx.seed, st.sizes)
    st.doc20 = os.path.join(ctx.tmp, "documents20.parquet")
    _replicate(os.path.join(st.data, "documents.parquet"), st.doc20, "doc_id")
    part("tables")

    st.lake = os.path.join(ctx.tmp, "lake")
    raw = os.path.join(ctx.tmp, "serve_raw")
    utt, st.lake_input_bytes = gen.transcripts(
        raw, ctx.seed, max(60, int(SERVE_UTTERANCES * f)),
        max(2, int(SERVE_EPISODES * f)), 4, tag="s")
    st.counts = utt.groupby("episode_id").size().to_dict()
    st.setup_episodes = sorted(st.counts)
    pipeline.ingest(spark, os.path.join(raw, "*.jsonl"), st.lake, fmt="txlog")
    part("serve_lake_ingest")
    pipeline.catalog(spark, st.lake)
    part("serve_lake_catalog")

    st.index = os.path.join(ctx.tmp, "ivf_index")
    st.vectors = spark.read.parquet(os.path.join(st.data, "embeddings.parquet"))
    indexing.build_ivf_index(st.vectors, st.index, n_cells=16, id_col="vec_id")
    st.ivf = _load_ivf(st.index)
    part("ivf_index")
    return st


def _load_ivf(index_path: str) -> SimpleNamespace:
    """The stored IVF index as numpy arrays, for the exact reference."""
    from transcription_lakehouse_spark.indexing import read_index_meta

    t = pq.read_table(index_path, columns=["vec_id", "embedding", "cell"])
    vecs = np.stack([np.asarray(v, dtype=np.float64)
                     for v in t["embedding"].to_pylist()])
    return SimpleNamespace(
        ids=t["vec_id"].to_numpy(), vecs=vecs,
        norms=np.linalg.norm(vecs, axis=1),
        cells=np.asarray(t["cell"].to_pylist()),
        centroids=np.asarray(read_index_meta(index_path)["centroids"]))


def _round6(x):
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def ivf_reference(ivf: SimpleNamespace, vid: int) -> dict[int, float]:
    """Rounded cosine of every vector ``search_ivf`` may return for query
    ``vid``: the members of its ``NPROBE`` nearest cells, itself excluded."""
    q = ivf.vecs[ivf.ids == vid][0]
    c = ivf.centroids
    probed = np.argsort((c * c).sum(axis=1) - 2.0 * (c @ q),
                        kind="stable")[:NPROBE]
    cand = np.isin(ivf.cells, probed) & (ivf.ids != vid)
    sims = _round6(ivf.vecs[cand] @ q / (ivf.norms[cand] * np.linalg.norm(q)))
    return dict(zip(ivf.ids[cand].tolist(), sims.tolist()))


# --- pool entries ------------------------------------------------------------
# Each entry returns (build, check): ``build()`` gives the DataFrame the
# timed region actions with ``toPandas()``; ``check(pdf)`` returns problems.

def _query_entry(ctx, st, name):
    from transcription_lakehouse_spark.workload import QUERIES

    return (lambda: QUERIES[name](ctx.spark, st.data),
            lambda pdf: oracle.compare(pdf, st.oracle[name]))


def _ann_minhash(ctx, st):
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signature)

    def build():
        docs = ctx.spark.read.parquet(st.doc20)
        pairs = lsh_candidate_pairs(
            minhash_signature(docs, "doc_id", "text", n=3), "doc_id")
        d1, d2 = F.col("doc_id_1"), F.col("doc_id_2")
        same = F.floor(d1 / REPLICAS) == F.floor(d2 / REPLICAS)
        return pairs.agg(
            F.count(F.lit(1)).alias("n"), F.sum(d1).alias("s1"),
            F.sum(d2).alias("s2"), F.sum(d1 * d2).alias("s12"),
            F.sum(same.cast("long")).alias("replica"))

    # identical replicas share every band, so each source document gives
    # exactly its C(20, 2) replica pairs
    replica = st.sizes.documents * REPLICAS * (REPLICAS - 1) // 2

    def check(pdf):
        got = {k: int(pdf[k].iloc[0] or 0) for k in pdf.columns}
        bad = [] if got["replica"] == replica else [
            f"{got['replica']} replica pairs != {replica}"]
        del got["replica"]
        if got != st.minhash_oracle:
            bad.append(f"pair digest {got} != oracle {st.minhash_oracle}")
        return bad

    return build, check


def _serve_search(ctx, st):
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark import indexing

    vid = int(st.rng.integers(st.sizes.vectors))
    q = st.vectors.filter(F.col("vec_id") == vid)

    def build():
        return indexing.search_ivf(ctx.spark, q, st.index, id_col="vec_id",
                                   k=SEARCH_K, nprobe=NPROBE)

    def check(pdf):
        exact = indexing.search(q, st.vectors, "vec_id", "embedding",
                                k=SEARCH_K, exact=True).toPandas()
        st.recall.append(len(set(pdf["neighbor_id"]) & set(exact["neighbor_id"]))
                         / SEARCH_K)
        # IVF is exact within the probed cells: every neighbour is a member
        # of one with its true similarity, and the k similarities are the
        # k best there (ties may pick either id)
        ref = ivf_reference(st.ivf, vid)
        ids, sims = pdf["neighbor_id"].tolist(), pdf["sim"].to_numpy()
        if len(ids) != SEARCH_K or len(set(ids)) != SEARCH_K:
            return [f"{len(ids)} rows, {len(set(ids))} distinct != k={SEARCH_K}"]
        bad = [f"neighbor {i} sim {s}: not in a probed cell, or true sim "
               f"{ref.get(i)}" for i, s in zip(ids, sims)
               if i not in ref or abs(ref[i] - s) > SIM_TOL]
        best = np.sort(np.fromiter(ref.values(), float))[::-1][:SEARCH_K]
        if np.abs(np.sort(sims)[::-1] - best).max() > SIM_TOL:
            bad.append(f"sims {sorted(sims, reverse=True)} != best {best.tolist()}")
        return bad[:3]

    return build, check


def _lookup(ctx, st, artifact, episodes, want_rows):
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.ingestion import read_versioned

    ep = episodes[int(st.rng.integers(len(episodes)))]

    def build():
        df = read_versioned(ctx.spark, st.lake, artifact, "v1")
        return df.filter(F.col("episode_id") == ep)

    want = want_rows(ep)
    return build, lambda pdf: [] if len(pdf) == want else [
        f"{artifact} episode {ep}: {len(pdf)} rows != {want}"]


def _serve_append(ctx, st):
    from transcription_lakehouse_spark.cli import cli

    k = len(st.acked)
    ep = f"ep-a{ctx.seed}-{k}"
    rng = np.random.default_rng([ctx.seed, 4, k])
    utt = gen.utterances(gen.events_frame(rng, APPEND_UTTERANCES, 1), "")
    utt["episode_id"] = ep
    out_dir = os.path.join(ctx.tmp, "appends", str(k))
    st.appended_bytes += gen.write_jsonl(utt, out_dir, 1, rng)
    path = os.path.join(out_dir, "part-0000.jsonl")

    def build():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cli.main(args=["ingest", path, "--lakehouse-path", st.lake,
                           "--incremental"], standalone_mode=False)
        return json.loads(buf.getvalue())

    def check(out):
        if out.get("valid") != len(utt) or out.get("invalid") != 0:
            return [f"append of {ep}: {out}"]
        st.acked[ep] = len(utt)
        st.counts[ep] = len(utt)
        return []

    return build, check


def make_entry(ctx, st, name):
    if name == "ann20x_minhash_lsh":
        return _ann_minhash(ctx, st)
    if name == "serve_search":
        return _serve_search(ctx, st)
    if name == "serve_lookup_utterances":
        return _lookup(ctx, st, "normalized", sorted(st.counts),
                       lambda ep: st.counts[ep])
    if name == "serve_lookup_catalog":
        return _lookup(ctx, st, "catalogs/episodes", st.setup_episodes,
                       lambda ep: 1)
    if name == "serve_append":
        return _serve_append(ctx, st)
    return _query_entry(ctx, st, name)


# --- passes --------------------------------------------------------------------

def run_pass(ctx, st, tr, label: str) -> dict[str, float]:
    """One pass over the pool in a seed-permuted order; returns entry walls
    (timed regions only)."""
    entries = [(fam, n) for fam, names in pool().items() for n in names]
    walls = {}
    for i in st.rng.permutation(len(entries)):
        fam, name = entries[i]
        build, check = make_entry(ctx, st, name)
        problems = []
        with tr.span(f"suite.{fam}.{name}") as span:
            t0 = time.perf_counter()
            try:
                df = build()
                t_built = time.perf_counter()
                res = df if isinstance(df, dict) else df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failed entry is a failed op
                problems, res = [f"{type(e).__name__}: {e}"[:300]], None
                t_built = t0
            walls[name] = time.perf_counter() - t0
        if tr.enabled and res is not None:
            span["timed_s"] = walls[name]
            span["build_ms"] = (t_built - t0) * 1e3
            if not isinstance(df, dict):
                _plan_counters(tr, span, df)
        if res is not None:
            problems = check(res)
        ctx.record(f"{label} {name}", problems)
    return walls


def _plan_counters(tr, span: dict, df) -> None:
    from spans import catalyst_ms, scan_metric

    from transcription_lakehouse_spark.plans.inspect import count_exchanges

    t0 = time.perf_counter()
    span["plan_ms"] = catalyst_ms(df)
    span["exchanges"] = count_exchanges(df)
    span["files_read"] = scan_metric(df, "numFiles")
    span["partitions_read"] = scan_metric(df, "numPartitions")
    tr.bookkeeping_s += time.perf_counter() - t0


def final_checks(ctx, st) -> None:
    """Every acknowledged append reads back with its exact row count."""
    import pyspark.sql.functions as F

    from transcription_lakehouse_spark.ingestion import read_versioned

    got = {r["episode_id"]: r["count"] for r in
           read_versioned(ctx.spark, st.lake, "normalized", "v1")
           .filter(F.col("episode_id").isin(list(st.acked)))
           .groupBy("episode_id").count().collect()}
    ctx.record("append read-back", [
        f"{ep}: {got.get(ep)} rows != {n}" for ep, n in st.acked.items()
        if got.get(ep) != n])


def run(ctx) -> tuple[dict, dict]:
    from spans import NullTracer

    from transcription_lakehouse_spark.operators.dedup import (
        BAND_SIZE, N_MINHASHES)
    from transcription_lakehouse_spark.workload import ORACLES

    t0 = time.perf_counter()
    st = setup(ctx)
    setup_s = ctx.session_s + time.perf_counter() - t0
    names = [n for ns in pool().values() for n in ns]
    t_or = time.perf_counter()
    st.oracle = oracle.oracle_digests(
        st.data, {n: ORACLES[n] for n in names if n in ORACLES})
    st.minhash_oracle = oracle.minhash_pairs_digest(st.doc20, N_MINHASHES,
                                                    BAND_SIZE)
    oracle_s = time.perf_counter() - t_or
    warm = run_pass(ctx, st, NullTracer(), "warm-up")
    setup_s += sum(warm.values())

    # in a traced run the first timed pass is the traced one
    passes, t_start = [], time.perf_counter()
    while not passes or time.perf_counter() - t_start < ctx.seconds:
        passes.append(run_pass(ctx, st, NullTracer() if passes else ctx.tracer,
                               f"pass {len(passes)}"))
    metrics = {}
    if ctx.tracer.enabled:
        metrics.update(layer_metrics(ctx, st, passes[0]))
    final_checks(ctx, st)

    per_entry = {n: float(np.median([p[n] for p in passes])) for n in names}
    pass_walls = [sum(p.values()) for p in passes]
    metrics.update({
        "setup_s": setup_s,
        "wall_s": float(np.median(pass_walls)),
        "stored_bytes_ratio": dir_bytes(st.lake)
        / (st.lake_input_bytes + st.appended_bytes),
    })
    detail = {
        "inputs": {**vars(st.sizes), "replicas": REPLICAS,
                   "serve_episodes": len(st.setup_episodes),
                   "appends": len(st.acked)},
        "warmup_pass": {k: round(v, 4) for k, v in warm.items()},
        "passes": [{k: round(v, 4) for k, v in p.items()} for p in passes],
        "suite.wall_s": metrics["wall_s"],
        "suite.geomean_s": float(np.exp(np.mean(np.log(list(per_entry.values()))))),
        "serve.recall_at_10": float(np.mean(st.recall)),
        "setup_parts_s": {"session": ctx.session_s, **st.setup_parts_s},
        "oracle_s": oracle_s,
    }
    return metrics, detail


def layer_metrics(ctx, st, traced: dict) -> dict:
    from spans import scan_metric

    from transcription_lakehouse_spark.ingestion import seen_episode_ids
    from transcription_lakehouse_spark.txlog import LogTable

    tr = ctx.tracer
    spans = [s for s in tr.spans if s["name"].startswith("suite.")]
    m = {"trace.unit_wall_s": sum(traced.values()),
         "trace.bookkeeping_s": tr.bookkeeping_s}
    for fam in FAMILIES:
        ss = [s for s in spans if s["name"].startswith(f"suite.{fam}.")]
        m[f"suite.{fam}.build_ms"] = sum(s.get("build_ms", 0.0) for s in ss)
        m[f"suite.{fam}.plan_ms"] = sum(s.get("plan_ms", 0.0) for s in ss)
        m[f"suite.{fam}.exchanges"] = sum(s.get("exchanges", 0) for s in ss)
        m[f"suite.{fam}.wall_s"] = sum(s.get("timed_s", 0.0) for s in ss)
        for key, src in (("exec_cpu_s", "exec_cpu_s"), ("jobs", "jobs"),
                         ("shuffle_mb", "shuffle_write_mb")):
            m[f"suite.{fam}.{key}"] = sum(s["counters"][src] for s in ss)

    def one(name):
        return next(s for s in spans if s["name"] == f"suite.serve.{name}")

    s = one("serve_search")
    m["serve.search.jobs"] = s["counters"]["jobs"]
    m["serve.search.plan_ms"] = s.get("plan_ms", 0.0)
    m["serve.search.cells_read"] = s.get("partitions_read", 0)
    s = one("serve_lookup_utterances")
    m["serve.lookup.resolve_ms"] = s.get("build_ms", 0.0)
    m["serve.lookup.files_read"] = s.get("files_read", 0)
    m["serve.lookup.jobs"] = s["counters"]["jobs"]
    m["serve.append.jobs"] = one("serve_append")["counters"]["jobs"]

    # the incremental-ingest existence probe, re-issued for the last
    # appended episode: which share of live normalized files it opens
    live = LogTable(ctx.spark, os.path.join(st.lake, "normalized")).detail()
    probe = seen_episode_ids(ctx.spark, st.lake, "normalized", "v1",
                             [list(st.acked)[-1]])
    probe.collect()
    m["serve.append.files_probed_frac"] = (
        scan_metric(probe, "numFiles") / max(1, live["files"]))
    m["serve.txlog.live_files"] = live["files"]
    m["serve.txlog.log_entries"] = live["version"] + 1
    m["serve.search.recall_at_10"] = float(np.mean(st.recall))
    return m
