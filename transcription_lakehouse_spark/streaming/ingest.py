"""Structured Streaming ingestion (SURVEY §2.11).

The reference has no streaming (roadmap item, README.md:955); its
incremental-batch semantics (exactly-once per episode, deterministic IDs,
F6 anti-join) define what the streaming twin must preserve. Spark plan:

    readStream (file source, JSONL) → same validation/normalization
    transformations as batch → foreachBatch idempotent parquet upsert keyed
    on deterministic utterance_id.

Because IDs are content hashes, replaying a micro-batch is a no-op — the
anti-join inside ``foreachBatch`` makes the sink idempotent without Delta
MERGE (which this container lacks). ``session_window`` gives the streaming
twin of span sessionization (W2) for live dashboards.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..ckpt import cut_lineage
from ..ingestion import normalize, split_valid
from ..schemas import RAW_UTTERANCE_SCHEMA

__all__ = [
    "stream_ingest",
    "stream_ingest_txlog",
    "stream_aggregate_txlog",
    "stream_merge_txlog",
    "streaming_session_stats",
    "streaming_dedup",
    "streaming_quality_stats",
    "stream_index_update",
    "stream_ivf_update",
    "stream_cluster_update",
    "stream_hll_update",
    "stream_graph_update",
    "read_graph_state",
    "read_versioned_state",
]


def _read_state(sess: SparkSession, path: str) -> DataFrame | None:
    """Read persisted micro-batch state, returning None ONLY when the state
    genuinely does not exist yet (first batch). Any other read failure — a
    transient FS error, a corrupt footer — re-raises so the micro-batch
    aborts and Structured Streaming retries it, instead of silently
    treating accumulated state as absent and overwriting it with just the
    current batch (permanent state loss / full re-ingest)."""
    from pyspark.errors import AnalysisException

    try:
        df = sess.read.parquet(path)
        df.schema  # force footer/schema resolution now, inside the guard
        return df
    except AnalysisException as exc:
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        schema_fail = (
            "UNABLE_TO_INFER_SCHEMA" in msg or "Unable to infer schema" in msg
        )
        if schema_fail and not _has_data_files(sess, path):
            # dir exists but holds no committed data files (e.g. a crash
            # between mkdir and the first commit left only _temporary/) —
            # genuinely first-batch; retrying a raise could never recover.
            # A dir WITH data files that still fails inference is corrupt
            # state and falls through to the raise below.
            return None
        raise


def _has_data_files(sess: SparkSession, path: str) -> bool:
    """True iff `path` contains >= 1 non-hidden file (recursively), via the
    Hadoop FS API so any supported filesystem works."""
    jvm = sess._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(sess._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    stack = [hpath]
    while stack:
        for st in fs.listStatus(stack.pop()):
            name = st.getPath().getName()
            if name.startswith((".", "_")):
                continue  # _temporary, _SUCCESS, hidden
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                return True
    return False


def _file_source(
    spark: SparkSession, schema, input_dir: str, max_files: int = 16
) -> DataFrame:
    """Streaming JSON file source over ``input_dir``, at most ``max_files``
    new files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .json(input_dir)
    )


def _start(raw: DataFrame, upsert, checkpoint_dir: str,
           trigger_once: bool) -> StreamingQuery:
    """Start ``raw`` with ``upsert`` as its ``foreachBatch`` sink; with
    ``trigger_once`` the query drains the available input and stops."""
    writer = (
        raw.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _id_text_schema(id_col: str, text_col: str):
    """(id, text) string schema of a text-artifact stream."""
    from pyspark.sql.types import StringType, StructField, StructType

    return StructType([
        StructField(id_col, StringType(), False),
        StructField(text_col, StringType(), True),
    ])


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    lake_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """File-source stream → validated/normalized utterances → idempotent
    parquet append under `<lake>/normalized/v1`."""
    raw = _file_source(spark, RAW_UTTERANCE_SCHEMA, input_dir)
    out_path = f"{lake_dir}/normalized/v1"

    def upsert(batch: DataFrame, batch_id: int) -> None:
        valid, _ = split_valid(batch)
        normalized = normalize(valid)
        existing = _read_state(batch.sparkSession, out_path)
        if existing is not None:
            fresh = normalized.join(
                F.broadcast(existing.select("utterance_id")),
                "utterance_id",
                "left_anti",
            )
        else:  # first batch: sink does not exist yet
            fresh = normalized
        fresh.write.mode("append").parquet(out_path)

    return _start(raw, upsert, checkpoint_dir, trigger_once)


def stream_ingest_txlog(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
    auto_compact_files: int | None = 64,
) -> StreamingQuery:
    """`stream_ingest`'s transactional twin: each micro-batch of
    validated/normalized utterances lands as ONE atomic LogTable commit
    instead of a bare parquet append. What the commit log buys over the
    plain sink:

    - all-or-nothing batch visibility: a crash mid-append can leave the
      plain sink with a partially committed file subset that readers see;
      here uncommitted data files are invisible by construction (readers
      follow the log), so downstream consumers never observe half a batch;
    - replay is still a no-op (deterministic utterance_id anti-join), and
      time travel / `changes()` come free — "what did this micro-batch
      add?" is a log question, not a file-diff question.

    The anti-join reads only the id column of the current snapshot
    (column pruning reaches the parquet scan) and lets Spark pick the
    join strategy — the accumulated id set grows without bound, so a
    forced broadcast would eventually exceed broadcast memory and wedge
    the stream. The commit log is loaded once per batch (dedup) plus
    once inside append; at very long stream lifetimes compact the log's
    table periodically so the snapshot file list stays short."""
    from ..txlog import LogTable

    raw = _file_source(spark, RAW_UTTERANCE_SCHEMA, input_dir)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        valid, _ = split_valid(batch)
        normalized = normalize(valid)
        sess = batch.sparkSession
        t = LogTable(sess, table_path)
        # checkpoint-seeded prefix: O(interval) commit reads per batch
        # regardless of stream age, not a full O(V) log replay
        commits = t._load_for_read(None, allow_empty=True)
        if commits:
            files, schema = t._snapshot_of(commits)
            if files:
                ids = sess.read.schema(schema).parquet(*files).select(
                    "utterance_id"
                )
                normalized = normalized.join(
                    ids, "utterance_id", "left_anti"
                )
        fresh = normalized
        if fresh.head(1):
            t.append(fresh)
            if auto_compact_files is not None:
                # one checkpoint-seeded prefix load (file COUNT only) —
                # not a version() listing + full snapshot per batch, and
                # never on batches that appended nothing
                from ..txlog import _live_files

                prefix = t._load_for_read(None, allow_empty=True)
                if prefix and \
                        len(_live_files(prefix)) > auto_compact_files:
                    t.compact(target_files=max(1, auto_compact_files // 4))

    return _start(raw, upsert, checkpoint_dir, trigger_once)


def stream_merge_txlog(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    checkpoint_dir: str,
    schema,
    key: str,
    seq_col: str,
    op_col: str = "_op",
    app_id: str | None = None,
    trigger_once: bool = True,
    deletion_vectors: bool = False,
    optimize_every: int | None = None,
    min_dead_ratio: float = 0.2,
    cluster_by: list[str] | None = None,
    small_file_bytes: int | None = None,
) -> StreamingQuery:
    """Streaming CDC apply: a change feed of keyed records (op 'U'/'I'
    upsert, 'D' delete, ordered by ``seq_col``) merges into a LogTable —
    each micro-batch is ONE snapshot-atomic `merge_cdc` commit that
    rewrites only the files holding that batch's keys.
    ``deletion_vectors=True`` makes the apply MERGE-ON-READ: matched
    keys are marked in per-file DV bitmaps and the upserts append — the
    per-batch write cost is O(batch), never O(touched file bytes), even
    when the stream's keys spread across the whole table.

    Exactly-once: the batch is first collapsed to the LAST change per key
    (max ``seq_col``, change-op as tiebreak so a delete beats a
    same-sequence upsert), then applied with Delta's txnAppId/txnVersion
    idempotence — the (app_id, batch_id) pair rides in the commit params,
    so a foreachBatch replay after a crash (same checkpoint, same
    batch_id) is detected IN THE LOG and skipped, not double-applied.
    ``app_id`` defaults to the table path; keep it stable across
    restarts of the same logical stream.

    ``optimize_every=N`` SCHEDULES the merge-on-read maintenance policy
    inside the sink itself: every N batches the apply also calls
    ``LogTable.optimize(min_dead_ratio, cluster_by, small_file_bytes)``,
    so continuous CDC never needs an operator to remember to purge DVs
    — without it every read pays the DV bitmap tax on a forever-growing
    file set (measured: ``tools/cdc_stream_scaling.py --lifecycle``,
    SCALING.md r10). Replay-safe: a replayed batch's merge is skipped by
    the txn watermark, and optimize is content-neutral and a strict
    no-op when nothing crosses the threshold.

    Scale: the collapse is one window per batch (partitioned by key —
    batch-sized, not corpus-sized); file discovery inside merge_cdc is a
    left-semi join (no key collect, no rewrite cliff); the corpus never
    shuffles."""
    from pyspark.sql import Window

    from ..txlog import LogTable

    app = app_id or f"cdc:{table_path}"
    raw = _file_source(spark, schema, input_dir)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        w = Window.partitionBy(key).orderBy(
            F.desc(seq_col),
            # deterministic winner when two changes share a sequence
            # number: deletes win, then lexicographic op
            F.desc(F.col(op_col) == "D"),
            F.asc(op_col),
        )
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        t = LogTable(batch.sparkSession, table_path,
                     deletion_vectors=deletion_vectors)
        t.merge_cdc(latest, key, op_col=op_col, txn=(app, batch_id))
        if optimize_every and batch_id % optimize_every == optimize_every - 1:
            t.optimize(min_dead_ratio=min_dead_ratio,
                       cluster_by=cluster_by,
                       small_file_bytes=small_file_bytes)

    return _start(raw, apply_batch, checkpoint_dir, trigger_once)


def stream_index_update(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "artifact_id",
    text_col: str = "text",
    trigger_once: bool = True,
) -> StreamingQuery:
    """Live vector-index maintenance: stream text artifacts → embed
    (mapInPandas, shared M1 batcher) → `indexing.incremental_update` per
    micro-batch. The anti-join inside incremental_update makes replays
    idempotent (deterministic ids) and appends keep the index's persisted
    hash family. The batch-mode 30% rebuild is DISABLED here: a micro-batch
    is a delta, not the corpus, and rebuilding from it would drop every
    previously indexed row — periodic full rebuilds are an offline
    `build_index` duty over the full store."""
    from ..embeddings import generate_embeddings
    from ..indexing import incremental_update

    raw = _file_source(spark, _id_text_schema(id_col, text_col), input_dir)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        emb = generate_embeddings(batch, id_col, text_col, "stream").select(
            "artifact_id", "embedding"
        )
        incremental_update(
            batch.sparkSession, emb, index_path,
            rebuild_threshold=float("inf"),
        )

    return _start(raw, upsert, checkpoint_dir, trigger_once)


def stream_ivf_update(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "artifact_id",
    text_col: str = "text",
    n_cells: int = 16,
    psi_rebuild_threshold: float | None = 0.25,
    drift_check_every: int = 1,
    trigger_once: bool = True,
) -> StreamingQuery:
    """IVF sibling of ``stream_index_update`` WITH the quantizer
    lifecycle wired in: stream text → embed → assign under the TRAINED
    centroids → append to cell partitions; every
    ``drift_check_every``-th micro-batch also runs the occupancy-PSI
    drift check and — past ``psi_rebuild_threshold`` — retrains the
    coarse quantizer from the index's own stored rows (atomic staged
    swap; see ``ivf_incremental_update``). Off-schedule batches pass
    ``None`` and stay pure appends.

    Replay-safe end to end: the anti-join skips already-indexed ids, a
    replayed batch appends nothing, and a rebuild rebases the occupancy
    baseline so the replay's drift check reads ~0 and cannot rebuild
    twice. At 100 TB the schedule bounds retrain cost exactly like the
    CDC sink's ``optimize_every`` bounds DV debt: maintenance rides the
    stream instead of depending on anyone remembering an offline job."""
    from ..embeddings import generate_embeddings
    from ..indexing import ivf_incremental_update

    raw = _file_source(spark, _id_text_schema(id_col, text_col), input_dir)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        emb = generate_embeddings(batch, id_col, text_col, "stream").select(
            F.col("artifact_id").alias(id_col), "embedding"
        )
        on_schedule = (
            drift_check_every > 0
            and batch_id % drift_check_every == drift_check_every - 1
        )
        ivf_incremental_update(
            batch.sparkSession, emb, index_path,
            id_col=id_col, n_cells=n_cells,
            psi_rebuild_threshold=(
                psi_rebuild_threshold if on_schedule else None
            ),
        )

    return _start(raw, upsert, checkpoint_dir, trigger_once)


def stream_cluster_update(
    spark: SparkSession,
    input_dir: str,
    cluster_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Incremental duplicate-CLUSTER maintenance over a document stream —
    the streaming twin of the batch dedup pipeline (MinHash → LSH bands →
    exact-Jaccard rescore → connected components), mirroring how
    `stream_index_update` maintains the ANN index.

    State tree under ``cluster_path`` (all parquet):

        corpus/    (doc_id, text)          — for exact rescore of candidates
        bands/     (doc_id, band, key)     — persisted LSH inverted index,
                                             so existing docs NEVER re-shingle
        pairs/     (doc_id_1, doc_id_2)    — confirmed near-dup edges
        clusters/  (doc_id, component_id, is_keeper)

    Per micro-batch: anti-join against the corpus (deterministic ids ⇒
    replay is a no-op — zero keeper churn), band only the NEW docs, bucket-
    join new bands against the stored index, exact-rescore candidates, and
    recompute connected components ONLY for clusters touched by new pairs
    (untouched components carry over verbatim). Cost anatomy at scale: the
    SHUFFLE/compute work is bounded by the delta's LSH-bucket reach, while
    the band-index probe is a broadcast-join SCAN of the stored index —
    bucket the bands store by `key` (sources/bucketed.py) on a real
    deployment so the probe prunes files instead of reading the full
    index each batch."""
    from ..operators.dedup import (
        jaccard_rescore,
        minhash_signature,
        signature_bands,
    )
    from ..operators.graph import dup_clusters

    corpus_path = f"{cluster_path}/corpus"
    bands_path = f"{cluster_path}/bands"
    pairs_path = f"{cluster_path}/pairs"
    clusters_path = f"{cluster_path}/clusters"

    raw = _file_source(spark, _id_text_schema(id_col, text_col), input_dir)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        batch = batch.dropDuplicates([id_col])
        corpus = _read_state(sess, corpus_path)
        if corpus is not None:
            fresh = batch.join(
                F.broadcast(corpus.select(id_col)), id_col, "left_anti"
            )
        else:
            fresh = batch
        fresh = cut_lineage(fresh)  # reused by 4 consumers below
        if not fresh.head(1):
            return

        new_bands = cut_lineage(signature_bands(
            minhash_signature(fresh, id_col, text_col), id_col
        ))
        old_bands = _read_state(sess, bands_path)
        all_bands = (
            old_bands.unionByName(new_bands) if old_bands is not None else new_bands
        )
        # candidates must touch >= 1 new doc: one side is the new-band
        # relation, the other the full index — never old×old
        cands = (
            all_bands.select(
                F.col(id_col).alias("_other"), "band", "key"
            )
            .join(
                new_bands.select(F.col(id_col).alias("_new"), "band", "key"),
                ["band", "key"],
            )
            .filter(F.col("_other") != F.col("_new"))
            .select(
                F.least("_other", "_new").alias(f"{id_col}_1"),
                F.greatest("_other", "_new").alias(f"{id_col}_2"),
            )
            .distinct()
        )
        texts = (
            corpus.unionByName(fresh.select(id_col, text_col))
            if corpus is not None
            else fresh.select(id_col, text_col)
        )
        new_pairs = cut_lineage(
            jaccard_rescore(cands, texts, id_col, text_col)
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select(f"{id_col}_1", f"{id_col}_2")
        )

        # WRITE ORDER IS THE CRASH-SAFETY CONTRACT: the corpus append goes
        # ABSOLUTELY LAST because it is the replay gate (the anti-join
        # above). A crash anywhere before it means the replay re-enters
        # with the same docs and re-runs every step — the re-appended
        # bands/pairs are harmless duplicates (candidates are DISTINCT
        # pairs and connected components dedups edges) and the clusters
        # overwrite is recomputed from the pairs store. Corpus-first would
        # gate the replay out and permanently strand the docs with no band
        # index and stale clusters. (A transactional log — what Delta
        # provides — is the complete fix; this ordering makes every
        # partial-failure path re-runnable.)
        new_bands.write.mode("append").parquet(bands_path)
        new_pairs.write.mode("append").parquet(pairs_path)

        if not new_pairs.head(1):
            fresh.select(id_col, text_col).write.mode("append").parquet(
                corpus_path
            )
            return  # no cluster structure changed

        # CC delta: recompute only components reachable from the new pairs
        old_clusters = read_versioned_state(sess, clusters_path)
        touched = (
            new_pairs.select(F.col(f"{id_col}_1").alias("doc_id"))
            .union(new_pairs.select(F.col(f"{id_col}_2").alias("doc_id")))
            .distinct()
        )
        all_pairs = sess.read.parquet(pairs_path)
        if old_clusters is not None:
            affected_comp = (
                old_clusters.join(touched, "doc_id")
                .select("component_id")
                .distinct()
            )
            affected_docs = (
                old_clusters.join(
                    F.broadcast(affected_comp), "component_id"
                )
                .select("doc_id")
                .union(touched)
                .distinct()
            )
            scoped_pairs = all_pairs.join(
                affected_docs.select(F.col("doc_id").alias(f"{id_col}_1")),
                f"{id_col}_1",
                "semi",
            )
            kept = old_clusters.join(affected_docs, "doc_id", "anti")
        else:
            scoped_pairs = all_pairs
            kept = None
        recomputed = dup_clusters(scoped_pairs, f"{id_col}_1", f"{id_col}_2")
        # materialize BEFORE overwriting our own input
        out = cut_lineage(
            kept.unionByName(recomputed) if kept is not None else recomputed
        )
        # versioned commit (write-new-then-prune, the stream_hll_update
        # discipline): a bare overwrite here has a partial-job-commit
        # window in which _read_state would see a half-written dir as
        # valid cluster state and the delta scoping would silently drop
        # the missing components' assignments
        _write_versioned(out, clusters_path, sess)
        # the replay gate commits ONLY after all derived state is durable
        fresh.select(id_col, text_col).write.mode("append").parquet(corpus_path)

    return _start(raw, upsert, checkpoint_dir, trigger_once)


def _fs_of(sess: SparkSession, path: str):
    jvm = sess._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sess._jsc.hadoopConfiguration()), hpath, jvm


def _complete_dirs(
    sess: SparkSession, root: str, prefix: str
) -> list[tuple[int, str]]:
    """``<prefix>K`` child dirs of ``root`` (``v=K`` versions, ``epoch=E``
    epochs) that finished their job commit (``_SUCCESS`` marker present),
    newest first."""
    fs, hroot, jvm = _fs_of(sess, root)
    if not fs.exists(hroot):
        return []
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        try:
            k = int(name[len(prefix):])
        except ValueError:
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            out.append((k, str(st.getPath())))
    out.sort(reverse=True)
    return out


def read_versioned_state(sess: SparkSession, root: str) -> DataFrame | None:
    """Read the newest COMPLETE version of a versioned state store
    (``root/v=K`` dirs written by `stream_hll_update` /
    `stream_cluster_update`), or None when no complete version exists
    yet."""
    versions = _complete_dirs(sess, root, "v=")
    return sess.read.parquet(versions[0][1]) if versions else None


def _write_versioned(df: DataFrame, root: str, sess: SparkSession) -> None:
    """Write-new-then-prune versioned commit: materialize ``df`` as
    ``root/v=<max complete version + 1>`` and only then delete older
    complete versions. The version number comes from the STORE, not the
    stream's batch id — a replayed batch therefore writes a fresh
    version instead of overwriting the only complete one in place (an
    in-place overwrite deletes-then-writes, and a crash inside that
    window would leave zero complete versions: exactly the accumulated-
    state loss this store exists to prevent). A crash mid-write leaves
    the previous version authoritative; a crash before the prune leaves
    two complete versions that converge on replay (the caller's merge
    must be idempotent, which max-merge and full-recompute both are)."""
    versions = _complete_dirs(sess, root, "v=")
    v = (versions[0][0] if versions else -1) + 1
    # overwrite only ever clears an INCOMPLETE leftover of this same
    # number (crash before _SUCCESS) — never a complete version
    df.write.mode("overwrite").parquet(f"{root}/v={v}")
    fs, _, jvm = _fs_of(sess, root)
    for k, old in _complete_dirs(sess, root, "v="):
        if k != v:
            fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)


def stream_hll_update(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    group_cols: tuple[str, ...] = ("event_type",),
    trigger_once: bool = True,
) -> StreamingQuery:
    """Live distinct-count monitoring with HyperLogLog state: each
    micro-batch's registers merge by MAX into a persisted register table
    (≤ groups × 256 rows — the whole dashboard state), so the running
    per-group distinct estimate never re-reads history and replays are
    no-ops (max of identical registers). The batch estimator
    (`hll_estimate_from_registers`) reads the same state — streaming and
    batch agree by construction because registers, not floats, are the
    state. Read it back with :func:`read_versioned_state`.

    Crash contract: state versions are WRITE-NEW-THEN-PRUNE — each batch
    writes ``{state}/v=<newest complete version + 1>`` (numbered from the
    store, not the batch id; see ``_write_versioned``) and only then
    deletes older complete versions. A crash mid-write leaves the previous complete version as
    the newest ``_SUCCESS``-marked dir, so the replay merges against it;
    a crash after the write but before the prune (or before the stream
    checkpoint commits) leaves two complete versions whose contents
    CONVERGE on replay because the max-merge is idempotent. At no point
    can accumulated registers be lost to a half-finished overwrite (the
    round-6 advice against delete-then-write on the only copy)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..operators.sketches import hll_registers

    schema = StructType(
        [StructField(c, StringType(), True) for c in group_cols]
        + [StructField(key_col, LongType(), True)]
    )
    raw = _file_source(spark, schema, input_dir)
    gcols = list(group_cols)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        sess = batch.sparkSession
        delta = hll_registers(batch, key_col, gcols)
        existing = read_versioned_state(sess, state_path)
        if existing is not None:
            merged = (
                existing.unionByName(delta)
                .groupBy(*gcols, "register")
                .agg(F.max("max_rank").alias("max_rank"))
            )
        else:  # first complete version
            merged = delta
        merged = cut_lineage(merged)  # sever lineage from the old version
        _write_versioned(merged, state_path, sess)

    return _start(raw, upsert, checkpoint_dir, trigger_once)


_EDGE_DDL = "src bigint, dst bigint, sim double"
_EDGE_DDL_PART = _EDGE_DDL + ", bucket int, epoch int"


def _current_bucket_dirs(
    sess: SparkSession, edges_root: str, buckets: list[int] | None = None
) -> tuple[list[str], bool]:
    """Resolve each bucket's CURRENT content dir — the newest complete
    epoch containing that bucket — via a driver-side listing (≤ P bucket
    dirs per epoch; epochs stay few because the writer prunes superseded
    bucket dirs after every commit). Returns ``(dirs, store_exists)``;
    ``buckets`` narrows the resolution (the writer's partition pruning)."""
    epochs = _complete_dirs(sess, edges_root, "epoch=")
    if not epochs:
        return [], False
    fs, _, _ = _fs_of(sess, edges_root)
    jvm = sess._jvm
    want = set(buckets) if buckets is not None else None
    best: dict[int, str] = {}
    for _, epath in epochs:  # newest first: first sighting wins
        for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(epath)):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith("bucket=")):
                continue
            b = int(name[7:])
            if b in best or (want is not None and b not in want):
                continue
            best[b] = str(st.getPath())
    return sorted(best.values()), True


def _read_current_edges(
    sess: SparkSession, edges_root: str, buckets: list[int] | None = None
) -> DataFrame | None:
    """Current edge rows ``(src, dst, sim, bucket)`` — every bucket read
    from its newest complete epoch, with an EXPLICIT schema so an
    edgeless (but committed) store reads as empty instead of failing
    parquet schema inference and wedging the stream."""
    dirs, exists = _current_bucket_dirs(sess, edges_root, buckets)
    if not exists:
        return None
    if not dirs:
        return sess.createDataFrame([], _EDGE_DDL + ", bucket int")
    return (
        sess.read.option("basePath", edges_root)
        .schema(_EDGE_DDL_PART)
        .parquet(*dirs)
        .select("src", "dst", "sim", "bucket")
    )


def _prune_superseded_buckets(sess: SparkSession, edges_root: str) -> None:
    """Best-effort GC after a committed epoch: delete every bucket dir
    that a NEWER complete epoch supersedes, then any old epoch dir left
    without bucket dirs. Failure or a crash here is harmless — readers
    always resolve per-bucket newest-epoch content; the next batch's
    prune sweeps leftovers."""
    epochs = _complete_dirs(sess, edges_root, "epoch=")
    if len(epochs) < 1:
        return
    fs, _, _ = _fs_of(sess, edges_root)
    jvm = sess._jvm
    seen: set[int] = set()
    newest = epochs[0][0]
    for e, epath in epochs:  # newest first
        hpath = jvm.org.apache.hadoop.fs.Path(epath)
        remaining = 0
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith("bucket=")):
                continue
            b = int(name[7:])
            if b in seen:
                fs.delete(st.getPath(), True)  # superseded by newer epoch
            else:
                seen.add(b)
                remaining += 1
        if remaining == 0 and e != newest:
            fs.delete(hpath, True)


def read_graph_state(
    spark: SparkSession, state_path: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> tuple[DataFrame | None, DataFrame | None]:
    """Read a `stream_graph_update` state store back as ``(nodes, edges)``
    — nodes ``(id, vector)``, edges ``(src, dst, sim)``. Either is None
    when that store does not exist yet."""
    nodes = _read_state(spark, state_path + "/nodes")
    raw = _read_current_edges(spark, state_path + "/edges")
    edges = raw.select("src", "dst", "sim") if raw is not None else None
    return nodes, edges


def stream_graph_update(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_graph: int = 8,
    n_bands: int = 8,
    planes_per_band: int = 4,
    n_state_buckets: int = 64,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Live k-NN-GRAPH maintenance (the graph-index sibling of
    `stream_index_update`): each micro-batch of new vectors folds into the
    persisted edge list with the `append_knn_graph` semantics, whose
    contract is EXACT equality with a full rebuild — so the streamed graph
    never drifts from what batch construction over the accumulated corpus
    would produce (pinned by the parity e2e).

    State layout (the 100 TB shape — per-batch WRITE is O(touched), not
    O(corpus)):

    - ``{state}/nodes``: append-only parquet ``(id, vector)`` — each batch
      appends only its genuinely new rows; nothing is ever rewritten.
    - ``{state}/edges/epoch=E/bucket=B``: each batch writes ONE new epoch
      dir holding only the buckets it touched (``bucket =
      pmod(hash(src), n_state_buckets)`` — keep the bucket count stable
      for a store's lifetime, like a table's partitioning). A bucket's
      current content is its newest complete epoch; superseded bucket
      dirs are pruned AFTER the commit. Untouched buckets' files are
      never opened, let alone rewritten (pinned by the partial-rewrite
      e2e) — at 1 B nodes a batch touches o(buckets), so per-batch I/O
      tracks the delta, not the accumulated corpus.

    Crash contract — REPLAY-IDEMPOTENT, and no window ever deletes the
    only copy of anything: the epoch write is create-new (a crashed
    attempt leaves an incomplete, invisible dir that the retry
    overwrites), the node store is append-only, and the prune removes
    only content a newer COMMITTED epoch supersedes. Order per batch:
    edges epoch commit → node append → prune.

    - crash before the epoch commits: invisible; the replay re-runs whole.
    - after the epoch commit, before the node append: the replayed batch
      is still fully "new" (node anti-join), and the fold SANITIZES the
      edge slice — rows whose src or dst is a batch id (from the crashed
      attempt's committed epoch) are dropped and recomputed; bucket
      membership is corpus-independent, so the replay writes a further
      epoch with identical content and the prune collapses them.
    - during the node append: the committed subset S is corpus now; the
      replay folds ``batch \\ S`` — exact by the same domination argument
      that makes append == rebuild (folding a batch in two pieces equals
      folding it at once). Edges already written for S stay correct
      because S-src rows with batch dsts are re-derived, not trusted.
    - during the prune: harmless — readers resolve per-bucket newest
      epoch; the next batch's prune finishes the sweep.

    Replays of fully committed batches are no-ops: ids already in the
    node store anti-join away before any write."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.graph_ann import (
        _batch_candidate_scores,
        _fold_edges,
        _new_src_edges,
        build_knn_graph,
    )

    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField(vec_col, ArrayType(DoubleType()), True),
    ])
    raw = _file_source(spark, schema, input_dir, max_files=1)
    nodes_path = state_path + "/nodes"
    edges_path = state_path + "/edges"
    bucket_of = lambda c: F.pmod(F.hash(c), F.lit(n_state_buckets))  # noqa: E731

    def _write_epoch(sess: SparkSession, edges: DataFrame) -> None:
        epochs = _complete_dirs(sess, edges_path, "epoch=")
        e = (epochs[0][0] if epochs else -1) + 1
        # overwrite only ever clears an INCOMPLETE leftover of this same
        # epoch number (crash before _SUCCESS) — never committed content
        (
            edges.repartition(F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(f"{edges_path}/epoch={e}")
        )

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        # duplicate ids WITHIN one micro-batch would mint duplicate node
        # rows (and double-fold their vectors); keep the first occurrence
        batch = batch.dropDuplicates([id_col])
        sess = batch.sparkSession
        nodes = _read_state(sess, nodes_path)
        if nodes is None:
            new = cut_lineage(batch)
            g1 = build_knn_graph(
                new, id_col, vec_col,
                k_graph=k_graph, n_bands=n_bands,
                planes_per_band=planes_per_band,
            )
            _write_epoch(sess, g1.withColumn("bucket", bucket_of(F.col("src"))))
            new.write.mode("append").parquet(nodes_path)
            return
        new = cut_lineage(batch.join(
            nodes.select(id_col), id_col, "left_anti"
        ))
        if not new.head(1):
            return  # fully replayed batch: exact no-op, zero writes
        # materialized once: both the touched-bucket resolution and the
        # fold consume it — without this the banded candidate-scoring
        # join (the dominant per-batch cost) would run twice
        scored_new = cut_lineage(_batch_candidate_scores(
            nodes, new, id_col, vec_col, n_bands, planes_per_band
        ))
        new_edges = _new_src_edges(
            nodes, new, id_col, vec_col,
            k_graph, n_bands, planes_per_band,
        )
        # the buckets this batch may change: touched existing srcs + new srcs
        touched_buckets = [
            r["b"]
            for r in scored_new.select(
                bucket_of(F.col("src")).alias("b")
            ).unionByName(
                new.select(bucket_of(F.col(id_col)).alias("b"))
            ).distinct().collect()
        ]
        # pruned read by construction: only the touched buckets' current dirs
        edge_slice = _read_current_edges(
            sess, edges_path, buckets=touched_buckets
        ).select("src", "dst", "sim")
        # replay sanitize (see crash contract above): drop rows a crashed
        # attempt of THIS batch may have committed, then dedup defensively
        new_ids = new.select(F.col(id_col).alias("_nid"))
        slice_clean = (
            edge_slice
            .join(
                F.broadcast(new_ids),
                F.col("src") == F.col("_nid"), "left_anti",
            )
            .join(
                F.broadcast(new_ids),
                F.col("dst") == F.col("_nid"), "left_anti",
            )
            .dropDuplicates(["src", "dst"])
        )
        # pin content before the store mutates
        out = cut_lineage(
            _fold_edges(slice_clean, scored_new, k_graph)
            .unionByName(new_edges)
            .withColumn("bucket", bucket_of(F.col("src")))
        )
        _write_epoch(sess, out)
        new.write.mode("append").parquet(nodes_path)
        _prune_superseded_buckets(sess, edges_path)

    return _start(raw, upsert, checkpoint_dir, trigger_once)


def streaming_quality_stats(
    spark: SparkSession,
    input_dir: str,
    window: str = "60 seconds",
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Live quality monitor: event-time windows of the A12-style text
    battery (utterance counts, duration, token stats) per episode —
    tumbling by default, SLIDING when ``slide`` < ``window`` (each row then
    lands in window/slide overlapping windows; state stays bounded because
    the watermark still expires window state in event-time order). The
    streaming twin of `quality.metrics.text_metrics`, for dashboards over
    an ingest that never ends. Returns an unstarted streaming frame."""
    from ..functions.text import token_count

    raw = (
        spark.readStream.schema(RAW_UTTERANCE_SCHEMA)
        .json(input_dir)
        .withColumn("event_time", F.timestamp_seconds("start"))
        .withWatermark("event_time", watermark)
    )
    win = (
        F.window("event_time", window, slide)
        if slide
        else F.window("event_time", window)
    )
    return raw.groupBy(win, "episode_id").agg(
        F.count(F.lit(1)).alias("n_utterances"),
        F.round(F.sum(F.col("end") - F.col("start")), 3).alias("spoken_seconds"),
        F.sum(token_count("text")).alias("total_tokens"),
        F.round(F.avg(token_count("text")), 4).alias("avg_tokens"),
    )


def streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the live twin of the batch fingerprint
    dedup (`operators/dedup.py:fingerprint`): drop any utterance whose
    normalized-text fingerprint was already seen within the watermark.

    `dropDuplicatesWithinWatermark` bounds the dedup state by event time
    (state entries expire once the watermark passes them), which is the
    only way streaming dedup survives an unbounded corpus — a plain
    dropDuplicates would accumulate one state row per distinct document
    forever. Returns an unstarted streaming DataFrame."""
    from ..operators.dedup import fingerprint

    raw = (
        spark.readStream.schema(RAW_UTTERANCE_SCHEMA)
        .json(input_dir)
        .withColumn("event_time", F.timestamp_seconds("start"))
        .withWatermark("event_time", watermark)
        .withColumn("_fp", fingerprint("text"))
    )
    return raw.dropDuplicatesWithinWatermark(["_fp"]).drop("_fp")


def streaming_session_stats(
    spark: SparkSession, input_dir: str, gap: str = "0.5 seconds"
) -> DataFrame:
    """W2's streaming twin: session_window over event-time. Returns an
    unstarted streaming DataFrame (caller picks sink/trigger). Watermark
    bounds state for late data."""
    raw = (
        spark.readStream.schema(RAW_UTTERANCE_SCHEMA)
        .json(input_dir)
        .withColumn("event_time", F.timestamp_seconds("start"))
        .withWatermark("event_time", "10 minutes")
    )
    return raw.groupBy(
        F.session_window("event_time", gap), "episode_id", "speaker"
    ).agg(
        F.count(F.lit(1)).alias("n_utterances"),
        F.min("start").alias("session_start"),
        F.max("end").alias("session_end"),
    )


def stream_aggregate_txlog(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    view_path: str,
    checkpoint_dir: str,
    schema,
    group_by: list[str] | str,
    sum_cols: list[str] | None = None,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Continuous aggregate: each micro-batch lands as ONE atomic
    LogTable commit AND the materialized count/sum view refreshes from
    the resulting change feed, inside the same ``foreachBatch`` — the
    streaming composition of the round's transactional pieces, end to
    end exactly-once:

    - the detail append carries ``txn=(app, batch_id)``, so a batch
      re-fired after a crash between sink write and checkpoint advance
      is a clean no-op skip (never a double append);
    - the view refresh is idempotent by its own watermark (the source
      version it folded) — whether the re-fired batch skipped or the
      crash hit between append and refresh, the refresh lands each
      source commit exactly once;
    - a refresh crash before commit loses nothing: the next batch's
      refresh folds BOTH windows (CDF windows compose).

    Contract (same as ``stream_merge_txlog``): txn versions map to the
    stream's batch ids, so CONTINUED ingestion must reuse its
    checkpoint — a fresh checkpoint is only valid for replaying
    identical input (batch ids renumber; a fresh checkpoint over GROWN
    input would alias new data onto an already-applied version and
    skip it).

    The view is therefore always a prefix-consistent aggregate of the
    detail table — at 100 TB this replaces the nightly recompute of
    every rollup the reference's quality reports derive by full scans
    (`src/lakehouse/quality`), with per-batch cost tracking the batch."""
    from ..matview import IncrementalAggView
    from ..txlog import LogTable

    raw = _file_source(spark, schema, input_dir)
    app = f"stream-agg:{table_path}"

    def upsert(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        t = LogTable(sess, table_path)
        if batch.head(1):
            t.append(batch, txn=(app, int(batch_id)))
        IncrementalAggView(
            sess, t, view_path, group_by=group_by, sum_cols=sum_cols
        ).refresh()

    return _start(raw, upsert, checkpoint_dir, trigger_once)
