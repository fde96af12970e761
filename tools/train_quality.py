#!/usr/bin/env python3
"""Offline quality-model training — the model-based quality-filter stage's
train half (same committed-artifact discipline as tools/train_ivf.py /
train_pq.py / train_pca.py).

Labels: the Gopher rule battery's pass/fail over a MIXED-quality slice —
the sf documents table (stylistically homogeneous, ~98% pass) is augmented
with deterministically PLANTED low-quality documents (symbol spam, one-token
repetition, boilerplate loops, truncated stubs, numeric spam, long-word
gibberish, keyword stuffing — the failure modes a crawl actually contains,
one per Gopher rule family). Without the planted mix the labels are ~98.4%
positive and logistic regression just learns the prior (the round-5
artifact's honest defect); with it the classes are ~2:1 and every feature
has variance, so the committed weights actually separate.

Features: the FEATURE_ORDER vector from operators/quality_model.py,
rounded 6 — exactly what the apply path computes. Training: deterministic
full-batch logistic regression (no RNG anywhere — the planted texts are
index-formulaic, the holdout split is an md5 stride), so re-running this
script reproduces `transcription_lakehouse_spark/_quality_model.py`
bit-for-bit. A ~25% holdout (never seen by the optimizer) is scored and
recorded in the artifact; tests pin HOLDOUT_ACCURACY above the label prior.

Usage: python tools/train_quality.py [sf_dir]  (default /root/testdata/sf0.01)
"""
from __future__ import annotations

import hashlib
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# planted doc_ids live far above any sf slice's real ids
PLANTED_ID_BASE = 1_000_000
N_PER_KIND = 40
TRAIN_ITERS = 1500

_SPAM_WORDS = ("cheap", "deal", "offer", "win", "free", "bonus")


def planted_docs(n_per_kind: int = N_PER_KIND) -> list[tuple[int, str]]:
    """Deterministic low-quality documents, one generator per Gopher rule
    family (index-formulaic — no RNG — so retraining is bit-reproducible).
    Returns (doc_id, text) with ids offset by PLANTED_ID_BASE."""
    out: list[tuple[int, str]] = []
    did = PLANTED_ID_BASE
    for i in range(n_per_kind):
        # symbol spam: >=1 symbol char per token -> symbol_ratio ~1.0
        out.append((did, "#sale @now *deal ^top ~win |buy " * (3 + i % 5)))
        did += 1
        # one-token repetition: top_unigram_share -> 1, distinct_ratio -> 0
        out.append((did, ("click " * (20 + 3 * i)).strip()))
        did += 1
        # boilerplate loop: top_bigram_share high, distinct_ratio low
        out.append(
            (did, "all rights reserved terms of service apply "
                  * (5 + i % 7))
        )
        did += 1
        # truncated stub: fails min_tokens
        out.append((did, "subscribe now" + (" please" * (i % 3))))
        did += 1
        # numeric spam: alpha_word_ratio 0
        out.append(
            (did, " ".join(str(1000 + i + j) for j in range(30)))
        )
        did += 1
        # long-word gibberish: mean_word_len > 10
        out.append(
            (did, " ".join("x" * (12 + (i + j) % 6) for j in range(25)))
        )
        did += 1
        # keyword stuffing: distinct_ratio << 0.3, stopword_ratio 0
        out.append(
            (did, " ".join(_SPAM_WORDS[j % len(_SPAM_WORDS)]
                           for j in range(40 + i)))
        )
        did += 1
    return out


def build_slice(spark, sf_dir: str):
    """(keys, x, y) over the sf documents table UNION the planted docs,
    ordered by doc_id (deterministic). Labels are gopher_flags computed by
    the same Spark battery the rules oracle gates — planted docs are
    labeled by what they actually fail, never assumed."""
    from transcription_lakehouse_spark.operators.quality_model import (
        FEATURE_ORDER,
        quality_features,
    )
    from transcription_lakehouse_spark.operators.quality_rules import (
        gopher_flags,
    )

    real = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    planted = spark.createDataFrame(
        planted_docs(), "doc_id long, text string"
    )
    docs = real.unionByName(planted)
    feats = quality_features(docs, "doc_id", "text")
    labels = gopher_flags(docs, "doc_id", "text").select(
        "doc_id", "gopher_pass"
    )
    rows = feats.join(labels, "doc_id").orderBy("doc_id").collect()
    keys = [int(r["doc_id"]) for r in rows]
    x = [[float(r[f]) for f in FEATURE_ORDER] for r in rows]
    y = [1 if r["gopher_pass"] else 0 for r in rows]
    return keys, x, y


def is_holdout(doc_id: int) -> bool:
    """~25% holdout, md5-strided on the doc id (deterministic, id-mixing —
    planted and real docs land in both splits)."""
    h = hashlib.md5(str(doc_id).encode()).hexdigest()
    return int(h[:8], 16) % 4 == 0


def split_slice(keys, x, y):
    tr_x, tr_y, ho_x, ho_y = [], [], [], []
    for k, xi, yi in zip(keys, x, y):
        if is_holdout(k):
            ho_x.append(xi)
            ho_y.append(yi)
        else:
            tr_x.append(xi)
            tr_y.append(yi)
    return tr_x, tr_y, ho_x, ho_y


def accuracy(w, b, x, y) -> float:
    correct = sum(
        1
        for xi, yi in zip(x, y)
        if (1.0 / (1.0 + math.exp(-(b + sum(wj * xj
                                            for wj, xj in zip(w, xi)))))
            >= 0.5) == bool(yi)
    )
    return correct / len(y)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from transcription_lakehouse_spark.operators.quality_model import (
        FEATURE_ORDER,
        train_logreg,
    )
    from transcription_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="train-quality")
    keys, x, y = build_slice(spark, sf_dir)
    tr_x, tr_y, ho_x, ho_y = split_slice(keys, x, y)
    # 1500 full-batch steps: 500 leaves this slice under-converged
    # (train 0.933); 1500 reaches train 0.986 / holdout 1.0, and 3000
    # adds nothing — still fully deterministic
    w, b = train_logreg(tr_x, tr_y, iters=TRAIN_ITERS)

    train_acc = accuracy(w, b, tr_x, tr_y)
    hold_acc = accuracy(w, b, ho_x, ho_y)
    pos_rate = sum(tr_y) / len(tr_y)
    ho_pos_rate = sum(ho_y) / len(ho_y)
    n_planted = sum(1 for k in keys if k >= PLANTED_ID_BASE)
    print(
        f"n_train={len(tr_y)} n_holdout={len(ho_y)} n_planted={n_planted} "
        f"pos_rate={pos_rate:.3f} train_acc={train_acc:.3f} "
        f"holdout_pos_rate={ho_pos_rate:.3f} holdout_acc={hold_acc:.3f}"
    )

    out = os.path.join(
        REPO, "transcription_lakehouse_spark", "_quality_model.py"
    )
    with open(out, "w") as f:
        f.write(
            '"""Linear quality model trained offline by '
            "tools/train_quality.py — do not\nhand-edit. repr() round-trips "
            "doubles exactly, so the Spark expressions and the\nDuckDB SQL "
            "literals parse to bit-identical float64 values. Trained on the\n"
            "sf slice + planted low-quality docs (mixed labels); holdout "
            'scored below."""\n\n'
        )
        f.write(f"TRAINED_ON = {os.path.basename(sf_dir)!r}\n")
        f.write(f"N_TRAIN = {len(tr_y)}\n")
        f.write(f"N_HOLDOUT = {len(ho_y)}\n")
        f.write(f"N_PLANTED = {n_planted}\n")
        f.write(f"LABEL_POS_RATE = {pos_rate!r}\n")
        f.write(f"HOLDOUT_POS_RATE = {ho_pos_rate!r}\n")
        f.write(f"TRAIN_ACCURACY = {train_acc!r}\n")
        f.write(f"HOLDOUT_ACCURACY = {hold_acc!r}\n")
        f.write(f"FEATURES = {FEATURE_ORDER!r}\n")
        f.write("WEIGHTS = {\n")
        for name, wj in zip(FEATURE_ORDER, w):
            f.write(f"    {name!r}: {wj!r},\n")
        f.write("}\n")
        f.write(f"BIAS = {b!r}\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
