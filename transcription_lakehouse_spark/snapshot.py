"""Immutable versioned snapshots with sha256 manifests (S15).

Reference: `/root/reference/src/lakehouse/snapshot/` — copies artifact
parquet into `snapshots/vX.Y.Z/`, writes `lake_manifest.json` with per-file
sha256 + row counts, and refuses to overwrite an existing version
(immutability contract, `creator.py:99-130`, `manifest.py:39-92`).

Spark note: file checksums and row counts are driver-side I/O by design
(manifests are O(files), not O(rows)): the rows come from the footers of
the parquet files just copied, with no Spark job. On Delta-capable
clusters, `CLONE` + time travel replaces the copy (SURVEY §1).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime, timezone

import pyarrow.parquet as pq
from pyspark.sql import SparkSession

__all__ = ["create_snapshot", "verify_snapshot"]


def _data_file(rel: str) -> bool:
    """Whether a parquet scan reads ``rel``: no hidden or ``_``-prefixed
    path part (checksums, markers), bar ``key=value`` partition dirs."""
    return not any(p.startswith(".") or (p.startswith("_") and "=" not in p)
                   for p in rel.split(os.sep))


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def create_snapshot(
    spark: SparkSession,
    lake_dir: str,
    version: str,
    artifacts: list[str] = ("normalized", "spans", "beats", "sections"),
    qa_status: str = "UNKNOWN",
    allow_red: bool = False,
    snapshot_root: str | None = None,
    lakehouse_version: str = "v1",
) -> str:
    """Copy artifacts into `<snapshot_root>/<version>/` (default root
    `<lake>/snapshots`) + manifest. Raises if the version already exists
    (immutability). ``lakehouse_version`` selects which artifact version
    is snapshotted.

    QA gating (`creator.py:99-130`): a RED quality verdict refuses the
    snapshot unless `allow_red=True`, in which case the manifest still
    carries the RED status so `verify_snapshot` surfaces it downstream.
    Pass the verdict from `quality.assessor.assess()`."""
    if qa_status.upper() == "RED" and not allow_red:
        raise ValueError(
            f"refusing snapshot {version}: quality status is RED "
            "(pass allow_red=True to force; the manifest will be flagged)"
        )
    snap_dir = os.path.join(snapshot_root or os.path.join(lake_dir, "snapshots"), version)
    if os.path.exists(snap_dir):
        raise FileExistsError(f"snapshot {version} already exists (immutable)")
    os.makedirs(snap_dir)
    manifest: dict = {
        "version": version,
        "created_at": datetime.now(timezone.utc).isoformat(),
        "qa_status": qa_status,
        "artifacts": {},
    }
    from .ingestion import lake_format

    fmt = lake_format(lake_dir)
    for art in artifacts:
        if fmt == "txlog":
            # snapshot the file set of the commit carrying the requested
            # LABEL (log-resolved — a crashed writer's uncommitted files
            # are invisible here too; an unlabeled table is skipped like
            # a missing dirs artifact); files from different commit dirs
            # may share part-file names, so prefix with an index
            from .ingestion import _txlog_resolve_label
            from .txlog import LogTable

            t = LogTable(spark, os.path.join(lake_dir, art))
            if t.version() < 0:
                continue
            try:
                v = _txlog_resolve_label(t, lakehouse_version)
            except ValueError:
                continue  # no commit under this label — same as no dir
            live, _ = t._snapshot(v)
            if not live:
                continue  # empty live set: nothing to copy or count
            dst = os.path.join(snap_dir, art)
            from .txlog import _live_adds

            adds = _live_adds(t._load_for_read(v))
            if any(a.get("dv") for a in adds):
                # deletion vectors present: a raw file copy would
                # resurrect DV-deleted rows in the snapshot — MATERIALIZE
                # the DV-folded live rows instead (the snapshot is an
                # immutable export, so losing the merge-on-read layout
                # here is exactly right)
                t.read(v).write.mode("errorifexists").parquet(dst)
                for extra in os.listdir(dst):
                    if extra.startswith((".", "_")):
                        os.remove(os.path.join(dst, extra))
            else:
                os.makedirs(dst)
                for i, f_src in enumerate(live):
                    shutil.copy2(
                        f_src,
                        os.path.join(
                            dst, f"{i:05d}-{os.path.basename(f_src)}"
                        ),
                    )
        else:
            src = os.path.join(lake_dir, art, lakehouse_version)
            if not os.path.isdir(src):
                continue
            dst = os.path.join(snap_dir, art)
            shutil.copytree(src, dst)
        files, n_rows = {}, 0
        for root, _, names in os.walk(dst):
            for n in sorted(names):
                p = os.path.join(root, n)
                rel = os.path.relpath(p, snap_dir)
                files[rel] = {"sha256": _sha256(p), "bytes": os.path.getsize(p)}
                if _data_file(os.path.relpath(p, dst)):
                    n_rows += pq.ParquetFile(p).metadata.num_rows
        manifest["artifacts"][art] = {"files": files, "rows": n_rows}
    with open(os.path.join(snap_dir, "lake_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return snap_dir


def verify_snapshot(snap_dir: str) -> list[str]:
    """Re-hash every file against the manifest; returns mismatches
    (`snapshot/validator.py` semantics). A RED qa_status in the manifest is
    surfaced as a problem — a forced RED snapshot stays visibly flagged."""
    with open(os.path.join(snap_dir, "lake_manifest.json")) as f:
        manifest = json.load(f)
    problems = []
    if str(manifest.get("qa_status", "UNKNOWN")).upper() == "RED":
        problems.append("qa_status is RED (snapshot was force-created)")
    for art, info in manifest["artifacts"].items():
        for rel, meta in info["files"].items():
            p = os.path.join(snap_dir, rel)
            if not os.path.exists(p):
                problems.append(f"missing file: {rel}")
            elif _sha256(p) != meta["sha256"]:
                problems.append(f"checksum mismatch: {rel}")
    return problems
