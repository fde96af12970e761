"""Incrementally-maintained aggregate views over a LogTable's change feed.

A materialized GROUP BY that refreshes from the source table's CDF
instead of recomputing: each ``refresh()`` reads ONLY the files the
source log added/removed since the last refresh (``LogTable.changes``
— unchanged files cancel out in the log, they are never opened), folds
that delta into per-group count/sum adjustments, and applies them to
the view's own LogTable with ONE snapshot-atomic ``merge_cdc`` commit
carrying an ``(app_id, source_version)`` txn watermark. The watermark
makes refreshes idempotent and exactly-once under replay (a crashed
refresh re-run is a clean skip), and the delta-read makes per-refresh
cost track the CHANGE, not the table — measured in
``tools/matview_scaling.py``: the source grows 5x while per-refresh
wall stays flat.

Retraction-safe aggregates maintain purely from deltas: ``count(*)``,
``sum(col)`` and the (Σx, Σx²) variance fold (``avg``/``var``/``std``
derive at read time — ``read()`` surfaces them). ``min``/``max`` are
NOT retraction-safe from deltas alone — they use the HYBRID rule
(``min_cols``/``max_cols``): inserts fold incrementally, and a delete
that touches a group's recorded extremum triggers an exact recompute
of ONLY that group, file-pruned through ``source.scan()`` (deletes that
don't touch an extremum stay delta-only).

Reference anchor: the reference rebuilds its catalogs from scratch on
every run (`src/lakehouse/aggregation/spans.py` recomputes the full
span catalog; `src/lakehouse/quality` recomputes every report) — this
module is the incremental twin a 100 TB deployment needs, built from
the same two public ideas Delta Live Tables composes: CDF deltas and
SetTransaction watermarks.

100 TB shape: the refresh plan is (delta scan of only changed files) →
(one shuffle on the group key, pre-aggregated map-side) → (broadcast
join of the touched-group keys against the view for old values) →
(merge_cdc, which rewrites only the view files holding touched groups).
Nothing in the plan scales with the SOURCE table size, and the only
thing that scales with the VIEW size is the key-pruned file rewrite.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .ckpt import cut_lineage
from .txlog import LogTable, StaleWatermarkError, _fold_txns

__all__ = ["IncrementalAggView"]

_KEY = "_grp_key"
_SIGN = "_sign"
# Max recompute-group keys collected to the driver for the file-pruned
# scan('in') fast path; larger touched-group sets use the distributed
# semi-join read instead (same cliff guard as txlog._BLOOM_PROBE_CAP).
_MINMAX_IN_CAP = 4096


class IncrementalAggView:
    """A count/sum GROUP BY over ``source``, materialized at ``path``
    and maintained from the source's change feed.

    ``group_by`` may be several columns: the view stores an md5-of-JSON
    surrogate key (``to_json(struct(cols))`` — distinguishes NULL from
    empty string) so the single-key ``merge_cdc`` path applies
    unchanged. ``sum_cols`` are maintained as ``sum_<col>`` doubles;
    ``cnt`` is always maintained and is the group-liveness signal —
    a group whose count reaches zero is deleted from the view.
    """

    def __init__(self, spark: SparkSession, source: LogTable, path: str,
                 group_by: list[str] | str,
                 sum_cols: list[str] | None = None,
                 var_cols: list[str] | None = None,
                 min_cols: list[str] | None = None,
                 max_cols: list[str] | None = None):
        self.spark = spark
        self.source = source
        self.group_by = (
            [group_by] if isinstance(group_by, str) else list(group_by)
        )
        self.sum_cols = list(sum_cols or [])
        # variance via the signed (Σx, Σx²) fold — both retraction-safe;
        # var/std derive at read. The textbook caveat applies: Σx² − n·μ²
        # cancels catastrophically when std ≪ |mean| — acceptable for a
        # monitoring rollup, use a full scan when you need Welford-exact.
        self.var_cols = list(var_cols or [])
        for c in self.var_cols:
            if c not in self.sum_cols:
                self.sum_cols.append(c)
        # min/max via the HYBRID rule (they are NOT retraction-safe from
        # deltas alone — the r8 refusal stands for the pure-delta fold):
        # inserts maintain incrementally (least/greatest against the old
        # extremum); a delete that TOUCHES a group's recorded extremum
        # (deleted value <= stored min / >= stored max) triggers an exact
        # recompute of ONLY that group from the source snapshot — file-
        # pruned through source.scan() when the group key is a single
        # str/int column. Deletes that don't touch an extremum stay
        # delta-only, so refresh cost still tracks the change.
        self.min_cols = list(min_cols or [])
        self.max_cols = list(max_cols or [])
        reserved = {_KEY, _SIGN, "cnt"} | {
            f"sum_{c}" for c in self.sum_cols
        } | {f"sumsq_{c}" for c in self.var_cols} | {
            f"min_{c}" for c in self.min_cols
        } | {f"max_{c}" for c in self.max_cols}
        clash = reserved & set(self.group_by)
        if clash:
            # a group column named like a maintained value column would
            # silently shadow it in the view schema
            raise ValueError(
                f"matview: group column(s) {sorted(clash)} collide with "
                "maintained columns (cnt / sum_<col> / internals)"
            )
        # the view carries a bloom index on its own surrogate key: each
        # refresh applies a keyed rewrite, and the bloom lets touched-
        # file discovery prune from the LOG instead of scanning every
        # view file — at a large view that turns per-refresh discovery
        # from O(view) scan into O(touched groups) file opens
        self.view = LogTable(spark, path, bloom_for=[_KEY])
        # one watermark per (source table, view) pair: a second view on
        # the same source keeps its own refresh cursor
        self.app_id = f"matview:{self.source.path}->{self.view.path}"

    # ---- plan pieces -----------------------------------------------------

    def _keyed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            _KEY,
            F.md5(F.to_json(F.struct(*[F.col(c) for c in self.group_by]))),
        )

    def _delta_agg(self, rows: DataFrame) -> DataFrame:
        """Per-group signed adjustments: inserts weigh +1, deletes -1.
        Map-side partial aggregation applies — the shuffle payload is
        one row per TOUCHED group, not per changed row."""
        aggs = [F.sum(F.col(_SIGN)).cast("long").alias("cnt")]
        for c in self.sum_cols:
            aggs.append(
                F.sum(F.col(c).cast("double") * F.col(_SIGN))
                .alias(f"sum_{c}")
            )
        for c in self.var_cols:
            aggs.append(
                F.sum(F.col(c).cast("double") * F.col(c).cast("double")
                      * F.col(_SIGN))
                .alias(f"sumsq_{c}")
            )
        # min/max fold SIGNED SIDES separately: the insert side maintains
        # the extremum incrementally, the delete side is the recompute
        # trigger (a deleted value at-or-past the stored extremum)
        for agg, cols in ((F.min, self.min_cols), (F.max, self.max_cols)):
            name = "min" if agg is F.min else "max"
            for c in cols:
                aggs.append(agg(
                    F.when(F.col(_SIGN) > 0, F.col(c).cast("double"))
                ).alias(f"_ins_{name}_{c}"))
                aggs.append(agg(
                    F.when(F.col(_SIGN) < 0, F.col(c).cast("double"))
                ).alias(f"_del_{name}_{c}"))
        return self._keyed(rows).groupBy(_KEY, *self.group_by).agg(*aggs)

    def _minmax_names(self) -> list[tuple[str, str]]:
        return ([("min", c) for c in self.min_cols]
                + [("max", c) for c in self.max_cols])

    def _value_cols(self) -> list[str]:
        """The ADDITIVE maintained columns (fold = old + delta)."""
        return (["cnt"] + [f"sum_{c}" for c in self.sum_cols]
                + [f"sumsq_{c}" for c in self.var_cols])

    def _all_value_cols(self) -> list[str]:
        """Every maintained view column, in the stored order."""
        return (self._value_cols()
                + [f"{n}_{c}" for n, c in self._minmax_names()])

    def _exact_minmax(self, rec_keys: DataFrame, src_v: int) -> DataFrame:
        """Exact per-group min/max over the source snapshot at
        ``src_v``, ONLY for the groups whose recorded extremum a delete
        touched. A single-column str/int group key goes through
        ``source.scan('in', ...)``, which prunes files from the LOG
        (min/max stats + blooms) — the targeted recompute opens
        O(files holding those groups), not the table; other key shapes
        fall back to a semi-joined snapshot read."""
        aggs = [
            (F.min if n == "min" else F.max)(F.col(c).cast("double"))
            .alias(f"_rec_{n}_{c}")
            for n, c in self._minmax_names()
        ]
        if len(self.group_by) == 1:
            col0 = self.group_by[0]
            # Cap the driver collect (mirrors txlog._BLOOM_PROBE_CAP): a
            # broad delete touching many groups' extrema (e.g. "delete
            # everything below a global threshold") would otherwise pull
            # an unbounded key set to the driver, build a giant IN-list,
            # and pay O(files x values) driver-side bloom probes in
            # scan(). Past the cap, fall through to the broadcast
            # semi-join snapshot read below.
            head = rec_keys.select(col0).limit(_MINMAX_IN_CAP + 1).collect()
            vals = [r[0] for r in head]
            if vals and len(vals) <= _MINMAX_IN_CAP and all(
                isinstance(v, (str, int)) and not isinstance(v, bool)
                for v in vals
            ):
                src = self.source.scan([(col0, "in", vals)],
                                       version=src_v)
                return self._keyed(src).groupBy(_KEY).agg(*aggs)
        src = self._keyed(self.source.read(src_v))
        return (
            src.join(F.broadcast(rec_keys.select(_KEY)), _KEY, "left_semi")
            .groupBy(_KEY).agg(*aggs)
        )

    # ---- API -------------------------------------------------------------

    def refresh(self) -> dict:
        """Fold source commits since the last refresh into the view.
        One snapshot-atomic view commit per call; replaying a refresh of
        an already-applied source version is a no-op skip (the txn
        watermark). An ADDITIVE source schema evolution folds through
        (``LogTable.changes`` reads both sides with the merged schema);
        a non-additive change raises — run ``full_refresh`` after one.

        Concurrent refreshers are safe BOTH ways: the watermark and the
        view's old values are captured from ONE view-log snapshot, and
        the commit is a compare-and-swap on that watermark
        (``require_txn``) — if a concurrent refresh advanced it in
        between (its fold would already be inside our "old" values,
        the double-apply of r8 ADVICE #2), the commit is refused and
        this refresh RE-PLANS from the new watermark."""
        src_v = self.source.version()
        if src_v < 0:
            return {"skipped": True, "reason": "source has no commits"}
        last_exc: StaleWatermarkError | None = None
        for _ in range(self.view.max_commit_retries + 1):
            try:
                return self._refresh_once(src_v)
            except StaleWatermarkError as exc:
                last_exc = exc
        raise last_exc

    def _refresh_once(self, src_v: int) -> dict:
        """One refresh attempt against ONE consistent view snapshot:
        the watermark and the old group values come from the same
        loaded view-log prefix, and the commit CASes on that watermark."""
        vprefix = self.view._load_for_read(None, allow_empty=True)
        last = _fold_txns(vprefix).get(self.app_id, -1)
        if last >= src_v:
            return {"skipped": True, "source_version": src_v}
        if last < 0:
            delta = self.source.read(src_v).withColumn(_SIGN, F.lit(1))
        else:
            delta = self.source.changes(last, src_v).withColumn(
                _SIGN,
                F.when(F.col("_change_type") == "delete", F.lit(-1))
                .otherwise(F.lit(1)),
            ).drop("_change_type")
        # one row per TOUCHED group — pin it: merge_cdc runs several
        # actions (dup refusal, file discovery, the rewrite) and each
        # would otherwise replay the whole CDF lineage (exceptAll over
        # the changed files) from scratch
        d = cut_lineage(self._delta_agg(delta))

        vals = self._value_cols()
        mm = self._minmax_names()
        all_vals = self._all_value_cols()
        if vprefix:
            # old values from the SAME pinned snapshot the watermark came
            # from — a fresh read() here could include a concurrent
            # refresher's fold and double-apply the shared window
            old = self.view._read_of(vprefix).select(
                F.col(_KEY),
                *[F.col(v).alias(f"_old_{v}") for v in all_vals],
            )
            # the view never shuffles: restrict it to touched groups
            # with a broadcast semi-join (delta-sized), then serve old
            # values from that bounded slice with a second broadcast
            old_touched = old.join(
                F.broadcast(d.select(_KEY)), _KEY, "left_semi"
            )
            merged = d.join(F.broadcast(old_touched), _KEY, "left")
        else:
            merged = d.select(
                "*", *[F.lit(None).cast("double" if v != "cnt" else "long")
                       .alias(f"_old_{v}") for v in all_vals]
            )
        def _zero(v: str) -> F.Column:
            return F.lit(0).cast("long" if v == "cnt" else "double")

        # null-safe on BOTH sides: a group new to the view has no old
        # value, and a delta whose sum column is all-NULL contributes 0
        # (SQL sum ignores nulls; `old + NULL` would poison the group)
        new_vals = [
            (F.coalesce(F.col(f"_old_{v}"), _zero(v))
             + F.coalesce(F.col(v), _zero(v))).alias(v)
            for v in vals
        ]
        mm_exprs: list[F.Column] = []
        if mm:
            # hybrid min/max: inserts fold incrementally; a delete that
            # touches a group's recorded extremum flags the group for an
            # exact recompute from the source snapshot (min/max are not
            # retraction-safe from deltas alone — the r8 refusal, now
            # served by targeted recompute instead of refusal)
            need = F.lit(False)
            for n, c in mm:
                delv = F.col(f"_del_{n}_{c}")
                oldv = F.col(f"_old_{n}_{c}")
                hit = (delv <= oldv) if n == "min" else (delv >= oldv)
                need = need | (delv.isNotNull()
                               & (oldv.isNull() | hit))
            survives = (
                F.coalesce(F.col("_old_cnt"), F.lit(0))
                + F.coalesce(F.col("cnt"), F.lit(0)) > 0
            )
            merged = cut_lineage(merged.withColumn(
                "_needs_rec", need & survives
            ))
            rec_keys = merged.filter(F.col("_needs_rec")).select(
                _KEY, *self.group_by
            )
            if rec_keys.head(1):
                exact = self._exact_minmax(rec_keys, src_v)
                merged = merged.join(F.broadcast(exact), _KEY, "left")
            else:
                merged = merged.select("*", *[
                    F.lit(None).cast("double").alias(f"_rec_{n}_{c}")
                    for n, c in mm
                ])
            for n, c in mm:
                inc = (F.least if n == "min" else F.greatest)(
                    F.col(f"_old_{n}_{c}").cast("double"),
                    F.col(f"_ins_{n}_{c}"),
                )
                mm_exprs.append(
                    F.when(F.col("_needs_rec"), F.col(f"_rec_{n}_{c}"))
                    .otherwise(inc).alias(f"{n}_{c}")
                )
        # a group that appeared and vanished inside one window never
        # reached the view — drop it instead of emitting a no-op delete
        # still one row per touched group; pinned for the same
        # several-actions reason as `d`
        changes = cut_lineage(
            merged
            .filter(F.col("_old_cnt").isNotNull() | (F.col("cnt") > 0))
            .select(F.col(_KEY), *self.group_by, *new_vals, *mm_exprs)
            .withColumn(
                "_op",
                F.when(F.col("cnt") <= 0, F.lit("D")).otherwise(F.lit("U")),
            )
        )
        res = self.view.merge_cdc(changes, key=_KEY,
                                  txn=(self.app_id, src_v),
                                  require_txn=(self.app_id, last))
        res["source_version"] = src_v
        res["refreshed_from"] = last
        return res

    def full_refresh(self) -> dict:
        """Recompute the view from the current source snapshot and
        overwrite — the escape hatch after a source schema change (and
        the correctness oracle the tests compare ``refresh`` against).
        Records the same txn watermark, so incremental refreshes resume
        from here."""
        src_v = self.source.version()
        if src_v < 0:
            return {"skipped": True, "reason": "source has no commits"}
        full = self.source.read(src_v).withColumn(_SIGN, F.lit(1))
        df = self._delta_agg(full)
        # all-insert fold: the insert-side extremum IS the exact one
        for n, c in self._minmax_names():
            df = df.withColumnRenamed(
                f"_ins_{n}_{c}", f"{n}_{c}"
            ).drop(f"_del_{n}_{c}")
        v = self.view.overwrite(df, params={
            "txn_app_id": self.app_id, "txn_version": src_v,
        })
        return {"version": v, "source_version": src_v}

    def read(self) -> DataFrame:
        """The materialized groups with derived averages (avg_<col> =
        sum_<col> / cnt) and, for ``var_cols``, population variance and
        stddev (clamped at 0 against float cancellation) — the surrogate
        key stays internal."""
        df = self.view.read()
        for c in self.sum_cols:
            df = df.withColumn(
                f"avg_{c}", F.col(f"sum_{c}") / F.col("cnt")
            )
        for c in self.var_cols:
            var = (F.col(f"sumsq_{c}") / F.col("cnt")
                   - F.pow(F.col(f"sum_{c}") / F.col("cnt"), 2))
            df = df.withColumn(
                f"var_{c}", F.greatest(var, F.lit(0.0))
            ).withColumn(f"std_{c}", F.sqrt(F.col(f"var_{c}")))
        return df.drop(_KEY)
