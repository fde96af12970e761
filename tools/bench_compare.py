#!/usr/bin/env python3
"""Bench regression gate: diff two bench records and fail on any shared
query slower than THRESHOLD× the previous record unless the regression
has a written cause in BENCH_CAUSES.json.

Round-3 verdict prescribed this after an 11-query regression cluster that
was probably machine load during the driver's bench run but could not be
ruled noise without a gate. Both records must come from the same host
(e.g. the first stdout line of ``python bench.py`` at the parent and at
the change, each saved to a file). Usage:

    python tools/bench_compare.py PREV.json CUR.json

Exit 2 without exactly two files; exit 1 on unexplained regressions. BENCH_CAUSES.json (repo root) maps
query name -> {"round": N, "cause": "..."} entries; a cause only excuses
the round it names.
"""
from __future__ import annotations

import json
import os
import re
import sys

THRESHOLD = 1.3
# below this absolute wall, ratio noise swamps signal on a shared machine
MIN_ABS_DELTA_SEC = 0.25
# a "regression" must ALSO be slower in RAW seconds: when the PREVIOUS
# artifact was taken under non-uniform host load (its calibration reads
# loaded while many queries measured idle — the r8 driver artifact),
# normalizing by the calibration ratio demands every query speed up by
# the host ratio, and queries that were already at idle speed "flag"
# while measuring FASTER. A real regression is slower on both axes.
MIN_RAW_RATIO = 1.1

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


_META_KEYS = {
    "metric", "value", "sf", "calibration_sec", "calibration_post_sec",
    "load_1min_start", "load_1min_end",
}


def _rescue_tail(tail: str) -> dict:
    """Best-effort record from a TRUNCATED stdout tail (the r9 driver
    artifact: capture starts mid-JSON, ``parsed`` is null). Per-query
    walls are every ``"name": number`` pair that isn't a metadata key or
    inside the ``reruns`` map; scalars take their LAST occurrence (the
    compact final line bench.py now prints is complete and last)."""
    out: dict = {}
    for key in ("value", "calibration_sec", "calibration_post_sec"):
        hits = re.findall(rf'"{key}":\s*([0-9.]+)', tail)
        if hits:
            out[key] = float(hits[-1])
    body = re.sub(r'"reruns":\s*\{[^}]*\}?', "", tail)
    q = {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"([a-z0-9_]+)":\s*([0-9.]+)', body)
        if m.group(1) not in _META_KEYS
    }
    if q:
        out["queries"] = q
    rr = re.search(r'"reruns":\s*\{([^}]*)\}', tail)
    if rr:
        out["reruns"] = {
            m.group(1): int(m.group(2))
            for m in re.finditer(r'"([a-z0-9_]+)":\s*(\d+)', rr.group(1))
        }
    return out


_ART_CACHE: dict[str, dict] = {}


def _artifact(path: str) -> dict:
    hit = _ART_CACHE.get(path)
    if hit is not None:
        return hit
    with open(path) as f:
        d = json.load(f)
    if not isinstance(d, dict):
        _ART_CACHE[path] = {}
        return {}
    rec = d.get("parsed", d)
    if isinstance(rec, dict) and rec.get("queries"):
        _ART_CACHE[path] = rec
        return rec
    # parsed is null (truncated capture) or the compact summary line
    # (no queries): rescue what the tail still holds instead of crashing
    rescued = _rescue_tail(d.get("tail", "") or "")
    if isinstance(rec, dict):
        rescued = {**rescued, **{k: v for k, v in rec.items()
                                 if k != "queries"}}
    if rescued.get("queries"):
        print(f"note: {os.path.basename(path)} parsed=null/compact; "
              f"regex-rescued {len(rescued['queries'])} query walls "
              "from the truncated tail")
    _ART_CACHE[path] = rescued
    return rescued


def _queries(path: str) -> dict[str, float]:
    q = _artifact(path).get("queries")
    if q is None:
        raise SystemExit(f"{path}: no queries section (even after "
                         "tail rescue)")
    return q


def _round_of(path: str) -> int:
    m = re.search(r"BENCH_r(\d+)\.json$", path)
    return int(m.group(1)) if m else 0


def main() -> int:
    args = sys.argv[1:]
    if len(args) != 2 or any(a.startswith("-") for a in args):
        # no default pair: committed artifacts come from other hosts, so
        # diffing them gates nothing about the code under test
        print("usage: python tools/bench_compare.py PREV.json CUR.json",
              file=sys.stderr)
        return 2
    prev_path, cur_path = args
    prev, cur = _queries(prev_path), _queries(cur_path)
    cur_round = _round_of(cur_path)

    # host-speed normalization: both artifacts carry a pinned-query
    # calibration scalar (bench.py q1 median-of-3). Ratios are divided by
    # cal_ratio before the threshold test, so a uniformly slower bench box
    # explains itself mechanically; only residual per-query regressions
    # need a written cause.
    cal_prev = _artifact(prev_path).get("calibration_sec")
    cal_cur = _artifact(cur_path).get("calibration_sec")
    cal_ratio = 1.0
    if cal_prev and cal_cur:
        cal_ratio = cal_cur / cal_prev
        print(
            f"calibration: prev {cal_prev:.3f}s cur {cal_cur:.3f}s "
            f"-> host ratio {cal_ratio:.2f}x (per-query ratios normalized)"
        )
    else:
        print("calibration: absent from one artifact; raw ratios used")
    # artifacts self-report mid-run contamination (bench.py records a
    # post-suite calibration too): surface it so a loaded tail doesn't
    # masquerade as per-query regressions
    for label, path in (("prev", prev_path), ("cur", cur_path)):
        art = _artifact(path)
        pre, post = art.get("calibration_sec"), art.get("calibration_post_sec")
        if pre and post and max(post / pre, pre / post) > 1.3:
            print(
                f"WARNING: {label} artifact self-reports mid-run host "
                f"contamination (calibration {pre:.3f}s -> {post:.3f}s); "
                "treat its slow tail entries as suspect"
            )

    causes = {}
    causes_path = os.path.join(REPO, "BENCH_CAUSES.json")
    if os.path.exists(causes_path):
        with open(causes_path) as f:
            causes = json.load(f)

    cur_reruns = _artifact(cur_path).get("reruns") or {}
    shared = sorted(set(prev) & set(cur))
    bad = []
    print(f"{'query':34s} {'prev':>7s} {'cur':>7s} {'ratio':>6s} {'norm':>6s}")
    for name in shared:
        p, c = prev[name], cur[name]
        ratio = c / p if p else float("inf")
        norm = ratio / cal_ratio
        mark = ""
        # the absolute floor is host-normalized too: compare cur against
        # what prev would cost on the current host
        if norm > THRESHOLD and ratio <= MIN_RAW_RATIO:
            # auditable, not silent: a fast current host can push norm
            # past the threshold while the query measured FASTER in raw
            # seconds — surface the suppression so masked entries stay
            # reviewable (r9 ADVICE)
            mark = "  suppressed by raw-floor (host speed delta)"
        elif (norm > THRESHOLD
                and (c - p * cal_ratio) < MIN_ABS_DELTA_SEC):
            mark = "  suppressed by abs-floor (sub-noise delta)"
        if (norm > THRESHOLD and ratio > MIN_RAW_RATIO
                and (c - p * cal_ratio) >= MIN_ABS_DELTA_SEC):
            # a query may carry one entry per round (list) or a single
            # {round, cause} dict — a cause only excuses its named round
            ent = causes.get(name)
            ents = ent if isinstance(ent, list) else [ent] if ent else []
            hit = next(
                (e for e in ents if e.get("round") == cur_round), None
            )
            rr = (f" [survived {cur_reruns[name]} runs]"
                  if name in cur_reruns else "")
            if hit:
                mark = f"  EXPLAINED: {hit['cause']}{rr}"
            else:
                mark = f"  REGRESSION (no written cause){rr}"
                bad.append((name, p, c, norm))
        if norm > THRESHOLD or norm < 1 / THRESHOLD:
            print(
                f"{name:34s} {p:7.3f} {c:7.3f} {ratio:5.2f}x "
                f"{norm:5.2f}x{mark}"
            )
    print(
        f"\n{len(shared)} shared queries; "
        f"{len(bad)} unexplained regression(s) > {THRESHOLD}x (normalized)"
    )
    if bad:
        for name, p, c, r in bad:
            print(f"  FAIL {name}: {p:.3f}s -> {c:.3f}s ({r:.2f}x)")
        print(
            "\nEither fix the regression or add a written cause to "
            "BENCH_CAUSES.json:\n"
            f'  {{"<query>": {{"round": {cur_round}, "cause": "<why>"}}}}'
        )
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
