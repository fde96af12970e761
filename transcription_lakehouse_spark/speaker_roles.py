"""Speaker-role configuration + enrichment joins (J4, SO3, A18).

Reference: `/root/reference/src/lakehouse/speaker_roles.py` — a YAML config
mapping speakers to roles (expert/host/guest/caller/other) used to enrich
spans and beats. Spark shape: the config is a tiny broadcast DataFrame; all
enrichment is broadcast equi-join + conditional expressions, never a UDF.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

__all__ = ["SpeakerRoleConfig", "enrich_spans", "beat_speaker_metadata"]

VALID_ROLES = ("expert", "host", "guest", "caller", "other")


@dataclass
class SpeakerRoleConfig:
    """In-memory form of `config/speaker_roles.yaml`
    (`speaker_roles.py:31-75`): experts set + explicit role map + default."""

    experts: list[str] = field(default_factory=list)
    roles: dict[str, str] = field(default_factory=dict)
    canonical: dict[str, str] = field(default_factory=dict)  # alias -> canonical
    default_role: str = "other"

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = []
        speakers = set(self.experts) | set(self.roles) | set(self.canonical)
        for s in sorted(speakers):
            rows.append(
                (
                    s,
                    self.canonical.get(s, s),
                    self.roles.get(s, "expert" if s in self.experts else None),
                    s in self.experts,
                )
            )
        return spark.createDataFrame(
            rows, "speaker string, speaker_canonical string, speaker_role string, is_expert boolean"
        )


def enrich_spans(spans: DataFrame, config: SpeakerRoleConfig, spark: SparkSession) -> DataFrame:
    """J4: attach speaker_canonical / speaker_role / is_expert via broadcast
    join against the config table (`speaker_roles.py:212-255`)."""
    cfg = config.to_df(spark).withColumnRenamed("speaker", "_cfg_speaker")
    out = spans.join(
        F.broadcast(cfg), spans["speaker"] == cfg["_cfg_speaker"], "left"
    ).drop("_cfg_speaker")
    return (
        out.withColumn("speaker_canonical", F.coalesce("speaker_canonical", "speaker"))
        .withColumn(
            "speaker_role", F.coalesce("speaker_role", F.lit(config.default_role))
        )
        .withColumn("is_expert", F.coalesce("is_expert", F.lit(False)))
    )


_BEAT_META = ("speakers_set", "expert_span_ids", "expert_coverage_pct")


def beat_speaker_metadata(beats: DataFrame, spans: DataFrame) -> DataFrame:
    """J1 + SO3 + A18: enrich beats with speakers_set (ordered distinct by
    first appearance), expert_span_ids, and token-weighted
    expert_coverage_pct (`speaker_roles.py:289-420`).

    Shape: explode beat.span_ids → join spans (broadcastable when spans are
    per-episode small; otherwise a shuffle equi-join on span_id) →
    re-aggregate per beat. The beat row rides along on its first exploded
    element, so ``beats`` is consumed once (no join back to it, which
    would re-run its whole lineage) and its payload is shuffled once per
    beat, not once per span.
    """
    cols = [c for c in beats.columns if c not in _BEAT_META]
    exploded = beats.select(
        F.struct(*cols).alias("_beat"),
        F.posexplode_outer("span_ids").alias("pos", "span_id"),
    ).select(
        F.col("_beat.beat_id").alias("_beat_id"),
        # the outer explode keeps a beat without span ids as one null row
        F.when(F.coalesce("pos", F.lit(0)) == 0, F.col("_beat")).alias("_beat"),
        "pos",
        "span_id",
    )
    sp = spans.select(
        "span_id",
        F.col("speaker_canonical").alias("_speaker"),
        "is_expert",
        "start_time",
        F.size(F.split("text", r"\s+")).alias("_tokens"),
    )
    joined = exploded.join(sp, "span_id", "left")
    # a beat without span ids gets NULL metadata, as an unmatched join would
    has_spans = F.count("pos") > 0
    agg = joined.groupBy("_beat_id").agg(
        F.any_value("_beat", ignoreNulls=True).alias("_beat"),
        # ordered-distinct speakers by span position within the beat (SO3)
        F.when(has_spans, F.array_distinct(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "_speaker"))),
                lambda s: s["_speaker"],
            )
        )).alias("speakers_set"),
        F.when(has_spans, F.sort_array(
            F.collect_list(F.when(F.col("is_expert"), F.col("span_id")))
        )).alias("expert_span_ids"),
        F.when(has_spans, F.round(
            F.coalesce(
                F.sum(F.when(F.col("is_expert"), F.col("_tokens")).otherwise(0))
                * 100.0
                / F.sum("_tokens"),
                F.lit(0.0),
            ),
            2,
        )).alias("expert_coverage_pct"),
    )
    return agg.select(
        "_beat.beat_id",
        *[f"_beat.{c}" for c in cols if c != "beat_id"],
        *_BEAT_META,
    )
