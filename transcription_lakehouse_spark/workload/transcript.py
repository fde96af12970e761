"""Hierarchical-pipeline workload: the spans → beats → sections operators
(W2/W8/W9/W10, `aggregation.py`) run end-to-end on driver testdata with full
DuckDB oracle twins — including the sha256 content-hash artifact IDs.

The driver ships no transcript table, so utterances are DERIVED from
`events` deterministically: user → episode, event_type → speaker, and the
timeline compressed 1e5× (µs / 1e11 → seconds) so that real inter-event
gaps (median ~7 h) land around the 0.5 s span gap threshold and the
sessionization actually merges runs. Durations are synthesized from `value`
(2–11.8 s) so the guardrail filters and the beat/section duration
accounting see real variation. Every float is produced by the SAME
arithmetic expression on both engines (single divisions/additions in a
fixed order), so comparisons at the gap/duration thresholds agree bitwise.

The oracle side reproduces:
- the lag → break-flag → cumsum sessionization (`with_session_id`) as
  window SQL,
- the carried-state beat grouping (speaker change / >5 s gap / cumulative
  >180 s reset, `generate_beats_heuristic`'s applyInPandas kernel) as a
  RECURSIVE CTE walking each episode's spans in order — per-row state
  (group id, accumulated duration) is exactly the kernel's,
- time-based section packing (`generate_sections` with no embeddings:
  break once summed duration ≥ the 8-min target, never below the 5-min
  min) with the same recursive-walk idiom over beats,
- `_assemble`'s position ranking ((start_time, end_time, first child id))
  and `ids.child_agg_id`'s `{prefix}_{sha256(ep)[:12]}_{pos:06d}_{sha256(
  sorted_child_ids|sha256(text)[:16])[:8]}` — DuckDB's sha256/list_sort/
  lpad reproduce the Spark expressions, proving the deterministic-ID
  contract is engine-portable (reference `ids.py:56-207`).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..aggregation import (
    generate_beats_embedding,
    generate_beats_heuristic,
    generate_sections,
    generate_spans,
)
from ..ckpt import cut_lineage
from ..sources.tables import load_table

# --- shared utterance derivation ------------------------------------------

_TIME_SCALE = 1e11  # µs → compressed seconds (1e5× time compression)

# The explicit kernel pins probe the group count past this core count
# (locally par<=64 can't meaningfully overshoot ~1.5k episodes; on a big
# cluster the probe is one tiny job over an already-thin input and stops
# the pin from forcing a wider exchange than there are groups — r11
# verdict "wrong #3").
_PIN_PROBE_MIN_PAR = 64


def _pin_width(df: DataFrame, key: str, par: int) -> int:
    """Partition count for an explicit kernel-feeding repartition: the
    pin exists to hand the per-group Python kernels ~one task per core
    (AQE's byte-based coalescing starves them on thin inputs), but it
    must never exceed the number of key groups — on a 2000-core cluster
    with 1500 episodes a defaultParallelism pin would force a wider
    exchange than the data can fill. Below _PIN_PROBE_MIN_PAR cores the
    probe job isn't worth its latency and the historical behavior (pin
    at par) stands."""
    if par <= _PIN_PROBE_MIN_PAR:
        return par
    n_groups = df.select(F.approx_count_distinct(key)).first()[0]
    return max(1, min(par, int(n_groups)))



def _utterances(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project episode_id FIRST and key the min(ts_us) window on that same
    # attribute (injective long→string cast, so groups — and min(ts_us) —
    # are identical): every downstream sessionization/assembly window and
    # groupBy partitions by episode_id, and hashpartitioning(episode_id)
    # established here satisfies all of them, so the full text-bearing
    # utterance relation shuffles ONCE instead of twice (guide §2.4).
    # Windowing on a cast *expression* of user_id would not merge: the
    # exchange keys on a fresh attribute the planner cannot equate with
    # episode_id.
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("episode_id"),
        F.col("event_id").cast("string").alias("utterance_id"),
        F.col("event_type").alias("speaker"),
        F.col("ts_us"),
        F.col("value"),
        F.concat(F.col("event_type"), F.lit(" "), F.col("event_id")).alias("text"),
    )
    # The chain ends in applyInPandas kernels (beats/sections) whose cost is
    # Python-seconds, not bytes: AQE's byte-targeted coalescing shrinks this
    # small-byte shuffle to 2-5 partitions and starves them (measured: beats
    # stage 4.9 s at 5 tasks → 2.9 s at defaultParallelism; sections 9.7 →
    # 5.6 s). Pin the episode exchange at defaultParallelism — but only when
    # the scan itself is thin; a big input's scan partitioning already
    # exceeds it and AQE's byte sizing stays right (same guard as
    # operators/dedup._merged_dup_spans).
    par = spark.sparkContext.defaultParallelism
    if ev.rdd.getNumPartitions() < par:
        ev = ev.repartition(_pin_width(ev, "episode_id", par), "episode_id")
    rel = F.col("ts_us") - F.min("ts_us").over(Window.partitionBy("episode_id"))
    start = rel / F.lit(_TIME_SCALE)
    return ev.select(
        "episode_id",
        "utterance_id",
        "speaker",
        start.alias("start"),
        (start + F.lit(2.0) + F.col("value") / F.lit(50.0)).alias("end"),
        "text",
    )


_UTTERANCES_SQL = """
  SELECT CAST(user_id AS VARCHAR) AS episode_id,
         CAST(event_id AS VARCHAR) AS utterance_id,
         event_type AS speaker,
         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id)) / 100000000000.0 AS start,
         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id)) / 100000000000.0
           + 2.0 + value / 50.0 AS end_t,
         concat(event_type, ' ', event_id) AS text
  FROM events
"""

# DuckDB twin of ids.child_agg_id over aggregated (ids list, text):
#   {prefix}_{sha256(episode_id)[:12]}_{position:06d}
#          _{sha256(concat(sorted_ids_csv, '|', sha256(text)[:16]))[:8]}
def _agg_id_sql(prefix: str, ids_col: str, pos_col: str) -> str:
    return (
        f"concat('{prefix}_', substr(sha256(episode_id), 1, 12), '_', "
        f"lpad(CAST({pos_col} AS VARCHAR), 6, '0'), '_', "
        f"substr(sha256(concat(array_to_string(list_sort({ids_col}), ','), '|', "
        f"substr(sha256(text), 1, 16))), 1, 8))"
    )


# spans as produced by generate_spans, before output projection — shared by
# the span query and as the base of the beat/section recursions.
# Parameterized over the utterance derivation so the semantic gates (which
# need longer durations / topic-tagged text) reuse the identical span twin.
def _spans_sql_over(utt_sql: str) -> str:
    return f"""
utt AS ({utt_sql}),
flagged AS (
  SELECT *, CASE WHEN lag(end_t) OVER w IS NULL
                   OR start - lag(end_t) OVER w > 0.5
                   OR speaker <> lag(speaker) OVER w
                 THEN 1 ELSE 0 END AS is_new
  FROM utt
  WINDOW w AS (PARTITION BY episode_id ORDER BY start, end_t, utterance_id)
),
numbered AS (
  SELECT *, CAST(sum(is_new) OVER (PARTITION BY episode_id
                                   ORDER BY start, end_t, utterance_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
),
sgrouped AS (
  SELECT episode_id, session_id,
         min(speaker) AS speaker,
         min(start) AS start_time,
         max(end_t) AS end_time,
         string_agg(text, ' ' ORDER BY start, utterance_id) AS text,
         list(utterance_id ORDER BY start, utterance_id) AS utterance_ids
  FROM numbered GROUP BY episode_id, session_id
),
sfiltered AS (
  SELECT *, round(end_time - start_time, 6) AS duration
  FROM sgrouped
  WHERE round(end_time - start_time, 6) >= 1.0
    AND round(end_time - start_time, 6) <= 240.0
),
spans AS (
  SELECT *, row_number() OVER (PARTITION BY episode_id
                               ORDER BY start_time, end_time, utterance_ids[1]) - 1 AS pos
  FROM sfiltered
)
"""


_SPANS_SQL = _spans_sql_over(_UTTERANCES_SQL)


def trn_span_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+W10 oracle: full `generate_spans` output — sessionized spans with
    guardrail filters and engine-portable content-hash span IDs."""
    spans = generate_spans(_utterances(spark, sf_dir))
    return spans.select(
        "episode_id",
        "span_id",
        "speaker",
        F.round("start_time", 6).alias("start_sec"),
        F.round("end_time", 6).alias("end_sec"),
        "duration",
        F.size("utterance_ids").alias("n_utterances"),
        F.concat_ws(",", "utterance_ids").alias("utterance_csv"),
        "text",
    )


TRN_SPAN_CATALOG_SQL = f"""
WITH {_SPANS_SQL}
SELECT episode_id,
       {_agg_id_sql("spn", "utterance_ids", "pos")} AS span_id,
       speaker,
       round(start_time, 6) AS start_sec,
       round(end_time, 6)   AS end_sec,
       duration,
       CAST(len(utterance_ids) AS INTEGER) AS n_utterances,
       array_to_string(utterance_ids, ',') AS utterance_csv,
       text
FROM spans
"""


# beats: recursive walk over each episode's spans carrying (group id,
# accumulated duration) — exactly generate_beats_heuristic's kernel state
_BEATS_SQL = f"""
{_SPANS_SQL},
ordered AS (
  SELECT episode_id, speaker, start_time, end_time, text,
         {_agg_id_sql("spn", "utterance_ids", "pos")} AS span_id
  FROM spans
),
seq AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY episode_id
                               ORDER BY start_time, span_id) AS rn
  FROM ordered
),
walk AS (
  SELECT episode_id, rn, speaker, start_time, end_time, text, span_id,
         CAST(0 AS BIGINT) AS grp,
         end_time - start_time AS acc
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.episode_id, s.rn, s.speaker, s.start_time, s.end_time, s.text, s.span_id,
         CASE WHEN s.speaker <> w.speaker
                OR s.start_time - w.end_time > 5.0
                OR w.acc + (s.end_time - s.start_time) > 180.0
              THEN w.grp + 1 ELSE w.grp END,
         CASE WHEN s.speaker <> w.speaker
                OR s.start_time - w.end_time > 5.0
                OR w.acc + (s.end_time - s.start_time) > 180.0
              THEN s.end_time - s.start_time
              ELSE w.acc + (s.end_time - s.start_time) END
  FROM seq s JOIN walk w
    ON s.episode_id = w.episode_id AND s.rn = w.rn + 1
),
bgrouped AS (
  SELECT episode_id, grp,
         min(start_time) AS start_time,
         max(end_time) AS end_time,
         string_agg(text, ' ' ORDER BY start_time, span_id) AS text,
         list(span_id ORDER BY start_time, span_id) AS span_ids
  FROM walk GROUP BY episode_id, grp
),
bfiltered AS (
  SELECT *, round(end_time - start_time, 6) AS duration
  FROM bgrouped
  WHERE round(end_time - start_time, 6) <= 360.0
),
beats AS (
  SELECT *, row_number() OVER (PARTITION BY episode_id
                               ORDER BY start_time, end_time, span_ids[1]) - 1 AS pos
  FROM bfiltered
)
"""


def trn_beat_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8+W10 oracle: heuristic beats (speaker change / >5 s gap /
    cumulative-duration reset — carried state, applyInPandas) recomputed by
    the oracle as a recursive CTE. The ONE carried-state operator in the
    repo with a full SQL twin."""
    beats = generate_beats_heuristic(generate_spans(_utterances(spark, sf_dir)))
    return beats.select(
        "episode_id",
        "beat_id",
        F.round("start_time", 6).alias("start_sec"),
        F.round("end_time", 6).alias("end_sec"),
        "duration",
        F.size("span_ids").alias("n_spans"),
        F.concat_ws(",", "span_ids").alias("span_csv"),
        "text",
    )


TRN_BEAT_CATALOG_SQL = f"""
WITH RECURSIVE {_BEATS_SQL}
SELECT episode_id,
       {_agg_id_sql("bet", "span_ids", "pos")} AS beat_id,
       round(start_time, 6) AS start_sec,
       round(end_time, 6)   AS end_sec,
       duration,
       CAST(len(span_ids) AS INTEGER) AS n_spans,
       array_to_string(span_ids, ',') AS span_csv,
       text
FROM beats
"""


def trn_section_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9+W10 oracle: time-based section packing (no embeddings → break
    when summed beat duration reaches the 8-min target, never under the
    5-min min) — `generate_sections`' carried state recomputed by the
    oracle with the same recursive-walk idiom over beats."""
    utt = _utterances(spark, sf_dir)
    beats = generate_beats_heuristic(generate_spans(utt))
    # the beats kernel's FlatMapGroupsInPandas output reports no
    # partitioning, so the sections groupBy re-exchanges behind an
    # ENSURE_REQUIREMENTS shuffle AQE coalesces down to 2-5 tasks on
    # these tiny bytes — starving the packing kernel exactly like the
    # semantic chain before its pin. An explicit episode repartition is
    # exempt from AQE coalescing and replaces (not adds to) that
    # exchange; scale-adaptive via defaultParallelism. The width probe
    # reads the utterances (same episode groups), never the beats: a
    # probe over beats would run the Python kernel twice.
    beats = beats.repartition(
        _pin_width(utt, "episode_id", spark.sparkContext.defaultParallelism),
        "episode_id",
    )
    sections = generate_sections(beats, beat_embeddings=None)
    return sections.select(
        "episode_id",
        "section_id",
        "title",
        F.round("start_time", 6).alias("start_sec"),
        F.round("end_time", 6).alias("end_sec"),
        "duration_minutes",
        F.size("beat_ids").alias("n_beats"),
        F.concat_ws(",", "beat_ids").alias("beat_csv"),
        "text",
    )


TRN_SECTION_CATALOG_SQL = f"""
WITH RECURSIVE {_BEATS_SQL},
bseq AS MATERIALIZED (
  SELECT episode_id, start_time, end_time, text,
         {_agg_id_sql("bet", "span_ids", "pos")} AS beat_id
  FROM beats
),
bnum AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY episode_id
                               ORDER BY start_time, beat_id) AS rn
  FROM bseq
),
swalk AS (
  -- state: (grp, acc) = (section index, summed duration of current section);
  -- the kernel breaks BEFORE appending when acc >= 300 and acc + dur >= 480
  SELECT episode_id, rn, start_time, end_time, text, beat_id,
         CAST(0 AS BIGINT) AS grp,
         end_time - start_time AS acc
  FROM bnum WHERE rn = 1
  UNION ALL
  SELECT b.episode_id, b.rn, b.start_time, b.end_time, b.text, b.beat_id,
         CASE WHEN w.acc >= 300.0
                AND w.acc + (b.end_time - b.start_time) >= 480.0
              THEN w.grp + 1 ELSE w.grp END,
         CASE WHEN w.acc >= 300.0
                AND w.acc + (b.end_time - b.start_time) >= 480.0
              THEN b.end_time - b.start_time
              ELSE w.acc + (b.end_time - b.start_time) END
  FROM bnum b JOIN swalk w
    ON b.episode_id = w.episode_id AND b.rn = w.rn + 1
),
packed AS (
  -- the kernel's section span is first-row start to LAST-row end in
  -- iteration order (cur[0]/cur[-1]) — overlapping beats make that differ
  -- from max(end_time), hence arg_max on the walk sequence
  SELECT episode_id, grp AS pos,
         min(start_time) AS start_time,
         arg_max(end_time, rn) AS end_time,
         string_agg(text, ' ' ORDER BY rn) AS text,
         list(beat_id ORDER BY rn) AS beat_ids
  FROM swalk GROUP BY episode_id, grp
)
SELECT episode_id,
       {_agg_id_sql("sec", "beat_ids", "pos")} AS section_id,
       concat('Section ', pos + 1) AS title,
       round(start_time, 6) AS start_sec,
       round(end_time, 6)   AS end_sec,
       round((end_time - start_time) / 60.0, 6) AS duration_minutes,
       CAST(len(beat_ids) AS INTEGER) AS n_beats,
       array_to_string(beat_ids, ',') AS beat_csv,
       text
FROM packed
"""


def trn_duration_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 oracle over the REAL quality battery: `quality.metrics.
    duration_stats` (exact percentiles) grouped by speaker on the derived
    spans — the quality module itself is what the oracle gates here, not a
    workload reimplementation."""
    from ..quality.metrics import duration_stats

    spans = generate_spans(_utterances(spark, sf_dir))
    return duration_stats(spans, "speaker")


TRN_DURATION_STATS_SQL = f"""
WITH {_SPANS_SQL}
SELECT speaker,
       count(*) AS n,
       round(min(duration), 6) AS min_duration,
       round(max(duration), 6) AS max_duration,
       round(avg(duration), 6) AS mean_duration,
       round(quantile_cont(duration, 0.05), 6) AS p5_duration,
       round(quantile_cont(duration, 0.5), 6)  AS median_duration,
       round(quantile_cont(duration, 0.95), 6) AS p95_duration,
       round(stddev_samp(duration), 6) AS std_duration
FROM spans
GROUP BY speaker
"""


def trn_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 oracle over `quality.metrics.duration_histogram` (fixed custom
    bin edges, counts + percents) on the derived spans."""
    from ..quality.metrics import duration_histogram

    spans = generate_spans(_utterances(spark, sf_dir))
    return duration_histogram(spans, [3.0, 6.0, 12.0, 24.0])


TRN_DURATION_HISTOGRAM_SQL = f"""
WITH {_SPANS_SQL},
binned AS (
  SELECT CASE WHEN duration < 3.0 THEN 0
              WHEN duration < 6.0 THEN 1
              WHEN duration < 12.0 THEN 2
              WHEN duration < 24.0 THEN 3
              ELSE 4 END AS bin
  FROM spans
)
SELECT bin, count(*) AS n,
       round(count(*) * 100.0 / (SELECT count(*) FROM spans), 2) AS pct
FROM binned GROUP BY bin ORDER BY bin
"""


def trn_speaker_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 oracle over `quality.metrics.speaker_balance`: per-speaker share
    with deterministic ranking and top-N flag. The global rank window is
    over the per-speaker AGGREGATE (cardinality = #speakers, bounded), not
    the row table — safe at any corpus size."""
    from ..quality.metrics import speaker_balance

    spans = generate_spans(_utterances(spark, sf_dir))
    return speaker_balance(spans, top_n=3)


TRN_SPEAKER_BALANCE_SQL = f"""
WITH {_SPANS_SQL},
per AS (
  SELECT speaker, count(*) AS n_segments,
         round(sum(duration), 6) AS total_duration
  FROM spans GROUP BY speaker
)
SELECT speaker, n_segments, total_duration,
       CAST(row_number() OVER (ORDER BY total_duration DESC, speaker ASC) AS INTEGER) AS rank,
       round(total_duration * 100.0 / sum(total_duration) OVER (), 2) AS pct_duration,
       (row_number() OVER (ORDER BY total_duration DESC, speaker ASC)) <= 3 AS in_top_n
FROM per
"""


def trn_integrity_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 oracle over `quality.metrics.integrity_battery`: the events rows
    are deterministically DIRTIED (blank text on event_id % 97, zero
    duration on % 101, null speaker on % 103, negated start on % 107) so
    every violation counter is nonzero and the whole battery — one
    conditional-aggregation scan — is hash-gated against DuckDB."""
    from ..quality.metrics import integrity_battery

    utt = _utterances(spark, sf_dir)
    eid = F.col("utterance_id").cast("long")
    dirty = utt.select(
        F.when(eid % 107 == 0, -F.col("start") - 1.0).otherwise(F.col("start")).alias(
            "start_time"
        ),
        F.when(eid % 101 == 0, F.lit(0.0))
        .otherwise(F.col("end") - F.col("start"))
        .alias("duration"),
        "episode_id",
        F.when(eid % 103 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("speaker"))
        .alias("speaker"),
        F.when(eid % 97 == 0, F.lit("   ")).otherwise(F.col("text")).alias("text"),
    )
    return integrity_battery(dirty)


TRN_INTEGRITY_SQL = f"""
WITH utt AS ({_UTTERANCES_SQL}),
dirty AS (
  SELECT CASE WHEN CAST(utterance_id AS BIGINT) % 107 = 0
              THEN -start - 1.0 ELSE start END AS start_time,
         CASE WHEN CAST(utterance_id AS BIGINT) % 101 = 0
              THEN 0.0 ELSE end_t - start END AS duration,
         episode_id,
         CASE WHEN CAST(utterance_id AS BIGINT) % 103 = 0
              THEN NULL ELSE speaker END AS speaker,
         CASE WHEN CAST(utterance_id AS BIGINT) % 97 = 0
              THEN '   ' ELSE text END AS text
  FROM utt
)
SELECT CAST(sum(CASE WHEN duration < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_duration,
       CAST(sum(CASE WHEN duration = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_duration,
       CAST(sum(CASE WHEN episode_id IS NULL OR trim(episode_id) = '' THEN 1 ELSE 0 END) AS BIGINT) AS missing_episode_id,
       CAST(sum(CASE WHEN speaker IS NULL OR trim(speaker) = '' THEN 1 ELSE 0 END) AS BIGINT) AS missing_speaker,
       CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END) AS BIGINT) AS missing_text,
       CAST(sum(CASE WHEN start_time < 0 THEN 1 ELSE 0 END) AS BIGINT) AS negative_start
FROM dirty
"""


def trn_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 oracle over `quality.metrics.coverage_metrics`: per-episode
    union-coverage % (capped at 100 — the reference's non-standard
    semantic), island counts, and sweep-line overlap stats — W3+W5 composed
    through the REAL quality module and hash-gated end-to-end."""
    from ..quality.metrics import coverage_metrics

    utt = _utterances(spark, sf_dir)
    spans = generate_spans(utt)
    episodes = utt.groupBy("episode_id").agg(
        (F.max("end") - F.min("start")).alias("duration_seconds")
    )
    return coverage_metrics(spans, episodes)


TRN_COVERAGE_SQL = f"""
WITH {_SPANS_SQL},
utt2 AS ({_UTTERANCES_SQL}),
eps AS (
  SELECT episode_id, max(end_t) - min(start) AS duration_seconds
  FROM utt2 GROUP BY episode_id
),
tagged AS (
  SELECT episode_id, start_time, end_time,
         CASE WHEN max(end_time) OVER (PARTITION BY episode_id ORDER BY start_time, end_time
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR start_time > max(end_time) OVER (PARTITION BY episode_id ORDER BY start_time, end_time
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM spans
),
islands AS (
  SELECT *, sum(new_island) OVER (PARTITION BY episode_id ORDER BY start_time, end_time
                                  ROWS UNBOUNDED PRECEDING) AS island_id
  FROM tagged
),
merged AS (
  SELECT episode_id, island_id, min(start_time) AS s, max(end_time) AS e
  FROM islands GROUP BY episode_id, island_id
),
per_ep AS (
  SELECT episode_id, sum(e - s) AS covered_seconds, count(*) AS n_islands
  FROM merged GROUP BY episode_id
),
sweep AS (
  SELECT episode_id, start_time AS t, 1 AS delta FROM spans
  UNION ALL
  SELECT episode_id, end_time AS t, -1 AS delta FROM spans
),
running AS (
  SELECT episode_id, sum(delta) OVER (PARTITION BY episode_id ORDER BY t, delta
                                      ROWS UNBOUNDED PRECEDING) AS active
  FROM sweep
),
ovl AS (
  SELECT episode_id,
         CAST(max(active) AS BIGINT) AS max_concurrency,
         CAST(sum(CASE WHEN active >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap_points
  FROM running GROUP BY episode_id
)
SELECT e.episode_id,
       e.duration_seconds,
       COALESCE(p.covered_seconds, 0.0) AS covered_seconds,
       CAST(COALESCE(p.n_islands, 0) AS BIGINT) AS n_islands,
       o.max_concurrency,
       CAST(COALESCE(o.n_overlap_points, 0) AS BIGINT) AS n_overlap_points,
       CASE WHEN e.duration_seconds > 0
            THEN least(100.0, round(COALESCE(p.covered_seconds, 0.0) * 100.0
                                    / e.duration_seconds, 2))
            ELSE 0.0 END AS coverage_pct
FROM eps e
LEFT JOIN per_ep p USING (episode_id)
LEFT JOIN ovl o USING (episode_id)
"""


def trn_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12-A14 oracle over `quality.metrics.text_metrics`: token/char
    counts, lexical density (stopword-filtered token share), punctuation
    ratio — per speaker on the derived spans."""
    from ..quality.metrics import text_metrics

    spans = generate_spans(_utterances(spark, sf_dir))
    return text_metrics(spans, "speaker")


def _text_metrics_sql() -> str:
    from ..functions.text import duckdb_stopword_list, duckdb_tokens_sql

    tok = duckdb_tokens_sql("text")
    stop = duckdb_stopword_list()
    return f"""
WITH {_SPANS_SQL},
base AS (
  SELECT speaker,
         len({tok}) AS n_tokens,
         length(text) AS n_chars,
         len(list_filter({tok}, x -> NOT list_contains({stop}, x))) AS n_content,
         CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) > 0
              THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                   / CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
              ELSE 0.0 END AS punct
  FROM spans
)
SELECT speaker,
       count(*) AS n_segments,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(n_tokens), 4) AS avg_tokens,
       round(avg(n_chars), 4) AS avg_chars,
       round(sum(n_content) / CAST(sum(n_tokens) AS DOUBLE), 6) AS lexical_density,
       round(avg(punct), 6) AS avg_punct_ratio
FROM base GROUP BY speaker
"""


TRN_TEXT_METRICS_SQL = _text_metrics_sql()


def trn_speaker_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+J1+SO3+A18 oracle: role-config broadcast enrichment
    (`enrich_spans`) and beat speaker metadata (`beat_speaker_metadata` —
    first-appearance-ordered speakers_set, sorted expert span ids,
    token-weighted expert coverage %) with a literal config, hash-gated
    end-to-end against DuckDB."""
    from ..speaker_roles import SpeakerRoleConfig, beat_speaker_metadata, enrich_spans

    cfg = SpeakerRoleConfig(
        experts=["click", "error"],
        roles={"view": "host"},
        canonical={"purchase": "buy"},
    )
    spans = generate_spans(_utterances(spark, sf_dir))
    beats = generate_beats_heuristic(spans)
    meta = beat_speaker_metadata(beats, enrich_spans(spans, cfg, spark))
    return meta.select(
        "beat_id",
        F.concat_ws(",", "speakers_set").alias("speakers_csv"),
        F.concat_ws(",", "expert_span_ids").alias("expert_csv"),
        "expert_coverage_pct",
    )


TRN_SPEAKER_ENRICHMENT_SQL = f"""
WITH RECURSIVE {_BEATS_SQL},
beats_id AS (
  SELECT {_agg_id_sql("bet", "span_ids", "pos")} AS beat_id, span_ids, episode_id
  FROM beats
),
spansx AS (
  SELECT {_agg_id_sql("spn", "utterance_ids", "pos")} AS span_id, speaker, text
  FROM spans
),
cfg(speaker, canon, is_expert) AS (
  VALUES ('click', 'click', true), ('error', 'error', true),
         ('purchase', 'buy', false), ('view', 'view', false)
),
enr AS (
  SELECT s.span_id,
         COALESCE(c.canon, s.speaker) AS speaker_canonical,
         COALESCE(c.is_expert, false) AS is_expert,
         len(string_split_regex(s.text, '\\s+')) AS toks
  FROM spansx s LEFT JOIN cfg c ON s.speaker = c.speaker
),
expl AS (
  SELECT beat_id,
         unnest(list_zip(span_ids,
                         list_transform(generate_series(1, len(span_ids)), x -> x))) AS z
  FROM beats_id
),
flat AS (
  SELECT beat_id, z[1] AS span_id, z[2] AS pos FROM expl
),
joined AS (
  SELECT f.beat_id, f.pos, f.span_id, e.speaker_canonical, e.is_expert, e.toks
  FROM flat f LEFT JOIN enr e USING (span_id)
),
spk_first AS (
  SELECT beat_id, speaker_canonical, min(pos) AS first_pos
  FROM joined GROUP BY beat_id, speaker_canonical
),
spk_set AS (
  SELECT beat_id,
         array_to_string(list(speaker_canonical ORDER BY first_pos), ',') AS speakers_csv
  FROM spk_first GROUP BY beat_id
),
agg AS (
  SELECT beat_id,
         array_to_string(list(span_id ORDER BY span_id) FILTER (WHERE is_expert), ',') AS expert_csv,
         round(COALESCE(sum(CASE WHEN is_expert THEN toks ELSE 0 END) * 100.0
                        / sum(toks), 0.0), 2) AS expert_coverage_pct
  FROM joined GROUP BY beat_id
)
SELECT b.beat_id, s.speakers_csv,
       COALESCE(a.expert_csv, '') AS expert_csv,
       a.expert_coverage_pct
FROM beats_id b
JOIN spk_set s USING (beat_id)
JOIN agg a USING (beat_id)
"""


def trn_crosstalk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-speaker overlapping speech per episode (interruption /
    crosstalk QA): every pair of same-episode utterances by DIFFERENT
    speakers whose time ranges overlap, rolled up to per-episode pair count
    and total overlap seconds. The reference's overlap check walks rows in
    Python (`quality/metrics/integrity.py` timestamp overlap scan); here
    the pair detection is the binned range join (`operators/rangejoin.py`,
    8 s buckets over µs-quantized times) — equi-join shaped, so an episode
    with thousands of utterances never degenerates to an all-pairs scan.
    The DuckDB twin is the naive inequality join over the same µs longs."""
    from ..operators.rangejoin import interval_overlap_join

    u = _utterances(spark, sf_dir)
    us = u.select(
        "episode_id",
        "utterance_id",
        "speaker",
        F.floor(F.col("start") * 1e6).cast("long").alias("s_us"),
        F.floor(F.col("end") * 1e6).cast("long").alias("e_us"),
    )
    a = us.select(
        "episode_id",
        F.col("utterance_id").alias("id_1"),
        F.col("speaker").alias("sp_1"),
        F.col("s_us").alias("s_1"),
        F.col("e_us").alias("e_1"),
    )
    b = us.select(
        "episode_id",
        F.col("utterance_id").alias("id_2"),
        F.col("speaker").alias("sp_2"),
        F.col("s_us").alias("s_2"),
        F.col("e_us").alias("e_2"),
    )
    pairs = interval_overlap_join(
        a, b, ["episode_id"], "s_1", "e_1", "s_2", "e_2", bin_width_us=8_000_000
    ).filter((F.col("id_1") < F.col("id_2")) & (F.col("sp_1") != F.col("sp_2")))
    return (
        pairs.groupBy("episode_id")
        .agg(
            F.count(F.lit(1)).alias("n_crosstalk_pairs"),
            F.round(
                F.sum(F.least("e_1", "e_2") - F.greatest("s_1", "s_2"))
                / F.lit(1e6),
                6,
            ).alias("crosstalk_sec"),
        )
        .orderBy("episode_id")
    )


TRN_CROSSTALK_SQL = f"""
WITH u AS ({_UTTERANCES_SQL}),
iv AS (
  SELECT episode_id, utterance_id, speaker,
         CAST(floor(start * 1000000.0) AS BIGINT) AS s,
         CAST(floor(end_t * 1000000.0) AS BIGINT) AS e
  FROM u
)
SELECT a.episode_id,
       count(*) AS n_crosstalk_pairs,
       round(sum(least(a.e, b.e) - greatest(a.s, b.s)) / 1000000.0, 6)
         AS crosstalk_sec
FROM iv a JOIN iv b
  ON a.episode_id = b.episode_id
 AND a.utterance_id < b.utterance_id
 AND a.speaker <> b.speaker
 AND a.s < b.e AND b.s < a.e
 -- mirror the operator's empty-interval guard (end <= start never joins)
 AND a.e > a.s AND b.e > b.s
GROUP BY a.episode_id
ORDER BY a.episode_id
"""


# --- semantic (embedding-driven) beat → section path (W7 + W9 semantic) ----
#
# The production hash-embedding provider draws PCG64 Gaussians (not SQL-
# replicable), so these gates derive span/beat embeddings from the SAME
# md5→uniform family used by the LSH/sketch oracles: component j of a text's
# vector is md5(text || '|j')'s first 32 bits scaled to [-1, 1) — every step
# (power-of-two scaling, one add, one exact 0.25 multiply) is bitwise-
# identical across engines.
#
# The default derived utterances are useless for this gate (episode wall
# ≈ 32 s compressed — the section decision tree never reaches its 5-min
# minimum, and adjacent spans essentially never cohere: 2 merges in 8 015
# beats measured). The semantic derivation therefore differs on purpose:
# - every utterance text is prefixed with a TOPIC token that advances every
#   7 utterances, and span vectors are topic-dominated (topic + 0.25·text),
#   so same-topic adjacency coheres (cosine ≈ 0.9 → merge) and topic
#   changes break — BOTH branches of `generate_beats_embedding` fire
#   (reference `aggregation/beats.py:126-217`);
# - durations are 40–138 s at 5e9 µs/s compression, so per-episode summed
#   beat duration reaches ~20 min and every tier of the section decision
#   tree (strong/plain boundary, overflow, >30 s gap) actually executes.
# 1/16 of spans (md5(text) starting '0') and of beats (starting 'f') get NO
# embedding, exercising the null-boundary path and the ≥80% coverage guard.

_SEM_DIM = 8
_SEM_SPAN_NULL_HEX = "0"  # spans with md5(text)[0] == this get no embedding
_SEM_BEAT_NULL_HEX = "f"
_SEM_TIME_SCALE = 5e9  # µs → seconds at 5 000× compression (20× the default)
_SEM_TOPIC_EVERY = 7  # utterances per topic block


def _sem_utterances(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same projected-attribute windowing as _utterances: the episode_id
    # exchange established here feeds the whole downstream episode-keyed
    # chain (guide §2.4)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("episode_id"),
        F.col("event_id").cast("string").alias("utterance_id"),
        F.col("event_type").alias("speaker"),
        F.col("ts_us"),
        F.col("value"),
        F.col("event_type"),
        F.col("event_id"),
    )
    # same guarded defaultParallelism pin as _utterances: the semantic
    # chain's md5-embedding derivations and its sections applyInPandas
    # kernel are compute-bound on tiny bytes, which AQE would coalesce to
    # a handful of tasks
    par = spark.sparkContext.defaultParallelism
    if ev.rdd.getNumPartitions() < par:
        ev = ev.repartition(_pin_width(ev, "episode_id", par), "episode_id")
    wep = Window.partitionBy("episode_id")
    word = wep.orderBy("ts_us", "event_id")
    rel = F.col("ts_us") - F.min("ts_us").over(wep)
    s0 = rel / F.lit(_SEM_TIME_SCALE)
    # insert a 240 s dead zone after every 120 s of compressed time so the
    # section tree's >30 s gap tier fires (otherwise 40-138 s utterance
    # durations overlap every natural gap); monotonic, exact in doubles
    start = s0 + F.lit(240.0) * F.floor(s0 / F.lit(120.0))
    rn = F.row_number().over(word)
    topic = F.concat(
        F.lit("T"),
        F.floor((rn - F.lit(1)) / F.lit(_SEM_TOPIC_EVERY)).cast("string"),
    )
    return ev.select(
        "episode_id",
        "utterance_id",
        "speaker",
        start.alias("start"),
        (start + F.lit(40.0) + F.col("value") / F.lit(5.0)).alias("end"),
        F.concat(
            topic, F.lit(" "), F.col("event_type"), F.lit(" "), F.col("event_id")
        ).alias("text"),
    )


_SEM_UTTERANCES_SQL = f"""
  SELECT CAST(user_id AS VARCHAR) AS episode_id,
         CAST(event_id AS VARCHAR) AS utterance_id,
         event_type AS speaker,
         rel / {_SEM_TIME_SCALE!r}
           + 240.0 * floor(rel / {_SEM_TIME_SCALE!r} / 120.0) AS start,
         rel / {_SEM_TIME_SCALE!r}
           + 240.0 * floor(rel / {_SEM_TIME_SCALE!r} / 120.0)
           + 40.0 + value / 5.0 AS end_t,
         concat('T', CAST(CAST(floor((rn - 1) / {_SEM_TOPIC_EVERY}) AS BIGINT) AS VARCHAR),
                ' ', event_type, ' ', event_id) AS text
  FROM (
    SELECT *,
           epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id) AS rel,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS rn
    FROM events
  )
"""


def _md5_unit(col: Column, j: int) -> Column:
    """Deterministic double in [-1, 1): first 32 md5 bits of ``col || '|j'``
    scaled by the exact power-of-two 2^-31 then shifted — bitwise-portable."""
    h = F.conv(
        F.substring(F.md5(F.concat(col, F.lit(f"|{j}"))), 1, 8), 16, 10
    ).cast("long")
    return h / F.lit(2147483648.0) - F.lit(1.0)


def _md5_unit_sql(expr: str, j: int) -> str:
    return (
        f"(CAST(('0x' || substr(md5({expr} || '|{j}'), 1, 8)) AS BIGINT)"
        " / 2147483648.0 - 1.0)"
    )


def _span_sem_embedding_col() -> Column:
    """Topic-dominated span vectors as a COLUMN over the spans relation
    (NULL for the 1/16 no-embedding spans): the span text's leading topic
    token anchors the direction, the full text adds 0.25-scaled noise —
    adjacent same-topic spans land at cosine ≈ 0.9 (merge), topic changes
    at ~random cosine (break). Attached inline via
    `generate_beats_embedding(embedding_col=...)` — the embedding is a pure
    derivation of the span row, so the former filter + 1:1 join-back
    (two exchanges + SMJ of co-resident rows) is a plain projection."""
    topic = F.regexp_extract(F.col("text"), r"^\S+", 0)
    comps = [
        _md5_unit(topic, j) + F.lit(0.25) * _md5_unit(F.col("text"), j)
        for j in range(_SEM_DIM)
    ]
    return F.when(
        F.substring(F.md5("text"), 1, 1) != _SEM_SPAN_NULL_HEX, F.array(*comps)
    )


def _span_emb_list_sql() -> str:
    topic = "regexp_extract(text, '^\\S+')"
    comps = ", ".join(
        f"({_md5_unit_sql(topic, j)} + 0.25 * {_md5_unit_sql('text', j)})"
        for j in range(_SEM_DIM)
    )
    return f"[{comps}]"


def _beat_sem_embedding_col() -> Column:
    """Beat vectors as a COLUMN over the beats relation (NULL for the 1/16
    no-embedding beats) — see :func:`_span_sem_embedding_col`."""
    comps = [_md5_unit(F.col("text"), j) for j in range(_SEM_DIM)]
    return F.when(
        F.substring(F.md5("text"), 1, 1) != _SEM_BEAT_NULL_HEX, F.array(*comps)
    )


def _beat_emb_list_sql() -> str:
    return "[" + ", ".join(_md5_unit_sql("text", j) for j in range(_SEM_DIM)) + "]"


def _clipped_cos_sql(a: str, b: str) -> str:
    """Twin of functions/vector.py cosine_clipped: left-to-right list_sum
    mirrors the JVM zip_with+aggregate fold; clip to [0, 1]."""
    num = f"list_sum(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]))"
    na = f"sqrt(list_sum(list_transform({a}, t -> t * t)))"
    nb = f"sqrt(list_sum(list_transform({b}, t -> t * t)))"
    return (
        f"greatest(0.0, least(1.0, CASE WHEN {na} * {nb} > 0 "
        f"THEN {num} / ({na} * {nb}) ELSE 0.0 END))"
    )


def _raw_cos_sql(a: str, b: str) -> str:
    """Twin of the section kernel's cos(): UNclipped, same fold order."""
    num = f"list_sum(list_transform(list_zip({a}, {b}), z -> z[1] * z[2]))"
    na = f"sqrt(list_sum(list_transform({a}, t -> t * t)))"
    nb = f"sqrt(list_sum(list_transform({b}, t -> t * t)))"
    return (
        f"(CASE WHEN {na} * {nb} > 0 THEN {num} / ({na} * {nb}) ELSE 0.0 END)"
    )


# semantic beats: lag → cosine-threshold break flag → cumsum — plain window
# SQL (generate_beats_embedding is NOT carried state, unlike the heuristic
# kernel), over the semantic utterance derivation's spans
_SEM_BEATS_SQL = f"""
{_spans_sql_over(_SEM_UTTERANCES_SQL)},
sord AS (
  SELECT episode_id, speaker, start_time, end_time, text,
         {_agg_id_sql("spn", "utterance_ids", "pos")} AS span_id
  FROM spans
),
semb AS (
  SELECT *, CASE WHEN substr(md5(text), 1, 1) = '{_SEM_SPAN_NULL_HEX}' THEN NULL
                 ELSE {_span_emb_list_sql()} END AS e
  FROM sord
),
slag AS (
  SELECT *, lag(e) OVER (PARTITION BY episode_id
                         ORDER BY start_time, span_id) AS pe
  FROM semb
),
sflag AS (
  SELECT *, CASE WHEN pe IS NULL OR e IS NULL
                   OR {_clipped_cos_sql("pe", "e")} < 0.7
                 THEN 1 ELSE 0 END AS is_new
  FROM slag
),
snum AS (
  SELECT *, sum(is_new) OVER (PARTITION BY episode_id
                              ORDER BY start_time, span_id
                              ROWS UNBOUNDED PRECEDING) AS grp
  FROM sflag
),
sgrp AS (
  SELECT episode_id, grp,
         min(start_time) AS start_time,
         max(end_time) AS end_time,
         string_agg(text, ' ' ORDER BY start_time, span_id) AS text,
         list(span_id ORDER BY start_time, span_id) AS span_ids
  FROM snum GROUP BY episode_id, grp
),
sbf AS (
  SELECT *, round(end_time - start_time, 6) AS duration
  FROM sgrp
  WHERE round(end_time - start_time, 6) <= 360.0
),
sembeats AS (
  SELECT *, row_number() OVER (PARTITION BY episode_id
                               ORDER BY start_time, end_time, span_ids[1]) - 1 AS pos
  FROM sbf
)
"""


def trn_beat_semantic_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7+W10 oracle: EMBEDDING-mode beats — boundary where cosine(prev span
    vector, curr) < 0.7 (`generate_beats_embedding`, reference
    `aggregation/beats.py:126-217`), over md5-derived engine-portable span
    embeddings (topic-dominated so both merge and break branches fire;
    1/16 of spans embedding-less so the null-boundary path fires too)."""
    # the span embedding is a pure derivation of the span row — attach it
    # as a column (no filter + 1:1 join-back, no checkpoint needed: spans
    # now has exactly one consumer and the head exchange flows through)
    spans = generate_spans(_sem_utterances(spark, sf_dir))
    beats = generate_beats_embedding(
        spans, embedding_col=_span_sem_embedding_col()
    )
    return beats.select(
        "episode_id",
        "beat_id",
        F.round("start_time", 6).alias("start_sec"),
        F.round("end_time", 6).alias("end_sec"),
        "duration",
        F.size("span_ids").alias("n_spans"),
        F.concat_ws(",", "span_ids").alias("span_csv"),
        "text",
    )


TRN_BEAT_SEMANTIC_CATALOG_SQL = f"""
WITH {_SEM_BEATS_SQL}
SELECT episode_id,
       {_agg_id_sql("bet", "span_ids", "pos")} AS beat_id,
       round(start_time, 6) AS start_sec,
       round(end_time, 6)   AS end_sec,
       duration,
       CAST(len(span_ids) AS INTEGER) AS n_spans,
       array_to_string(span_ids, ',') AS span_csv,
       text
FROM sembeats
"""


def trn_section_semantic_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 semantic oracle: the reference's flagship materialization mode —
    semantic beats packed into sections with the full `_should_break_section`
    decision tree (reference `aggregation/sections.py:144-272`): two-tier
    boundary preference (strong sim<0.3 from 7.5 min, plain sim<0.5 from
    6.4 min), semantic-overflow above 12 min, >30 s gap rule, nothing under
    5 min — carried state recomputed by the DuckDB twin as a recursive CTE
    over the same md5-derived beat embeddings. Also exercises the in-plan
    ≥80% coverage guard on its green path (93.75% of beats embedded)."""
    # both embeddings attach inline (see _span_sem_embedding_col) — spans
    # has a single consumer again, so its checkpoint is gone. beats still
    # feeds the packing kernel AND the coverage guard branch: the lazy
    # checkpoint pins one evaluation of the beat walk, and the explicit
    # episode repartition below it replaces the AQE-coalesced exchange the
    # sections groupBy would otherwise insert (the kernel is
    # Python-seconds-bound on tiny bytes — same starvation as the
    # heuristic chain, fixed at the _utterances head there; the checkpoint
    # severs that lineage here, so re-pin)
    spans = generate_spans(_sem_utterances(spark, sf_dir))
    beats = cut_lineage(
        generate_beats_embedding(spans, embedding_col=_span_sem_embedding_col()),
        eager=False,
    )
    beats = beats.repartition(
        _pin_width(
            beats, "episode_id", spark.sparkContext.defaultParallelism
        ),
        "episode_id",
    )
    sections = generate_sections(
        beats, beat_embedding_col=_beat_sem_embedding_col()
    )
    return sections.select(
        "episode_id",
        "section_id",
        "title",
        F.round("start_time", 6).alias("start_sec"),
        F.round("end_time", 6).alias("end_sec"),
        "duration_minutes",
        F.size("beat_ids").alias("n_beats"),
        F.concat_ws(",", "beat_ids").alias("beat_csv"),
        "text",
    )


def _section_semantic_sql() -> str:
    from ..aggregation import (
        SECTION_BOUNDARY_SIM,
        SECTION_GAP_SEC,
        SECTION_MAX_MIN,
        SECTION_MIN_MIN,
        SECTION_SEMANTIC_CHECK_MULT,
        SECTION_STRONG_FACTOR,
        SECTION_TARGET_MIN,
    )

    # inject the kernel's EXACT float thresholds (repr round-trip): e.g.
    # target_s * 0.8 is NOT 384.0 in doubles — writing the rounded literal
    # would flip breaks that land between the two values
    min_s = repr(SECTION_MIN_MIN * 60)
    max_s = repr(SECTION_MAX_MIN * 60)
    strong_from = repr((SECTION_MIN_MIN * 60) * SECTION_SEMANTIC_CHECK_MULT)
    plain_from = repr((SECTION_TARGET_MIN * 60) * 0.8)
    sim_t = repr(SECTION_BOUNDARY_SIM)
    strong_t = repr(SECTION_BOUNDARY_SIM * SECTION_STRONG_FACTOR)
    gap_t = repr(SECTION_GAP_SEC)
    cosv = _raw_cos_sql("w.e", "b.e")
    semantic = f"(w.e IS NOT NULL AND b.e IS NOT NULL AND {cosv} < {sim_t})"
    strong = f"(w.e IS NOT NULL AND b.e IS NOT NULL AND {cosv} < {strong_t})"
    dur = "(b.end_time - b.start_time)"
    brk = f"""(w.acc >= {min_s} AND (
      CASE WHEN w.acc + {dur} > {max_s} THEN {semantic}
           WHEN w.acc >= {strong_from} AND {strong} THEN TRUE
           WHEN w.acc >= {plain_from} AND {semantic} THEN TRUE
           WHEN b.start_time - w.end_time > {gap_t} THEN TRUE
           ELSE FALSE END))"""
    return f"""
WITH RECURSIVE {_SEM_BEATS_SQL},
bsem AS (
  SELECT episode_id, start_time, end_time, text,
         {_agg_id_sql("bet", "span_ids", "pos")} AS beat_id,
         CASE WHEN substr(md5(text), 1, 1) = '{_SEM_BEAT_NULL_HEX}' THEN NULL
              ELSE {_beat_emb_list_sql()} END AS e
  FROM sembeats
),
bnum AS MATERIALIZED (
  SELECT *, row_number() OVER (PARTITION BY episode_id
                               ORDER BY start_time, beat_id) AS rn
  FROM bsem
),
swalk AS (
  -- carried state: (grp, acc) plus the previous row's (end_time, e) come in
  -- through w — exactly the kernel's (section idx, summed dur, last beat)
  SELECT episode_id, rn, start_time, end_time, text, beat_id, e,
         CAST(0 AS BIGINT) AS grp,
         end_time - start_time AS acc
  FROM bnum WHERE rn = 1
  UNION ALL
  SELECT b.episode_id, b.rn, b.start_time, b.end_time, b.text, b.beat_id, b.e,
         CASE WHEN {brk} THEN w.grp + 1 ELSE w.grp END,
         CASE WHEN {brk} THEN b.end_time - b.start_time
              ELSE w.acc + (b.end_time - b.start_time) END
  FROM bnum b JOIN swalk w
    ON b.episode_id = w.episode_id AND b.rn = w.rn + 1
),
packed AS (
  SELECT episode_id, grp AS pos,
         min(start_time) AS start_time,
         arg_max(end_time, rn) AS end_time,
         string_agg(text, ' ' ORDER BY rn) AS text,
         list(beat_id ORDER BY rn) AS beat_ids
  FROM swalk GROUP BY episode_id, grp
)
SELECT episode_id,
       {_agg_id_sql("sec", "beat_ids", "pos")} AS section_id,
       concat('Section ', pos + 1) AS title,
       round(start_time, 6) AS start_sec,
       round(end_time, 6)   AS end_sec,
       round((end_time - start_time) / 60.0, 6) AS duration_minutes,
       CAST(len(beat_ids) AS INTEGER) AS n_beats,
       array_to_string(beat_ids, ',') AS beat_csv,
       text
FROM packed
"""


TRN_SECTION_SEMANTIC_CATALOG_SQL = _section_semantic_sql()


QUERIES = {
    "trn_crosstalk": trn_crosstalk,
    "trn_span_catalog": trn_span_catalog,
    "trn_beat_catalog": trn_beat_catalog,
    "trn_section_catalog": trn_section_catalog,
    "trn_beat_semantic_catalog": trn_beat_semantic_catalog,
    "trn_section_semantic_catalog": trn_section_semantic_catalog,
    "trn_duration_stats": trn_duration_stats,
    "trn_duration_histogram": trn_duration_histogram,
    "trn_speaker_balance": trn_speaker_balance,
    "trn_integrity_battery": trn_integrity_battery,
    "trn_coverage": trn_coverage,
    "trn_text_metrics": trn_text_metrics,
    "trn_speaker_enrichment": trn_speaker_enrichment,
}

ORACLES = {
    "trn_crosstalk": TRN_CROSSTALK_SQL,
    "trn_speaker_enrichment": TRN_SPEAKER_ENRICHMENT_SQL,
    "trn_text_metrics": TRN_TEXT_METRICS_SQL,
    "trn_integrity_battery": TRN_INTEGRITY_SQL,
    "trn_coverage": TRN_COVERAGE_SQL,
    "trn_span_catalog": TRN_SPAN_CATALOG_SQL,
    "trn_beat_catalog": TRN_BEAT_CATALOG_SQL,
    "trn_section_catalog": TRN_SECTION_CATALOG_SQL,
    "trn_beat_semantic_catalog": TRN_BEAT_SEMANTIC_CATALOG_SQL,
    "trn_section_semantic_catalog": TRN_SECTION_SEMANTIC_CATALOG_SQL,
    "trn_duration_stats": TRN_DURATION_STATS_SQL,
    "trn_duration_histogram": TRN_DURATION_HISTOGRAM_SQL,
    "trn_speaker_balance": TRN_SPEAKER_BALANCE_SQL,
}
