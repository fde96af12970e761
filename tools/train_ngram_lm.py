#!/usr/bin/env python3
"""Train the hashed 3-gram stupid-backoff LM artifact for the
doc_ngram_logprob quality filter (CCNet-style perplexity filtering,
public method) and commit it as transcription_lakehouse_spark/_ngram_lm.py — the same
offline-training discipline as tools/train_pca.py / train_quality.py:
the model is a fixed, versioned artifact, NOT refit per query, so
scores are reproducible and the DuckDB oracle can replay the identical
bucket tables.

Usage: python tools/train_ngram_lm.py [sf_dir]   (default sf0.01)
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transcription_lakehouse_spark.operators.ngram_lm import (  # noqa: E402
    train_ngram_counts,
)
from transcription_lakehouse_spark.session import get_spark  # noqa: E402
from transcription_lakehouse_spark.sources.tables import load_table  # noqa: E402

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "transcription_lakehouse_spark", "_ngram_lm.py",
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="train-ngram-lm")
    docs = load_table(spark, sf_dir, "documents")
    # TRAIN/SCORE SPLIT (r9 verdict #6): train on the md5-even half of
    # doc ids only, so the committed counts never memorize the documents
    # the oracle queries score — the filter demo measures generalization,
    # not recall. The split is a content hash, not a seed: deterministic
    # across engines and re-runs, and disjoint from every scoring run
    # on the odd half by construction.
    import pyspark.sql.functions as F

    held = docs.filter(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long") % 2 == 0
    )
    # Bucket sizing: at the r9 sizes (8 K tri buckets vs ~13 K training
    # trigrams) 70% of buckets were occupied, so a GIBBERISH trigram
    # collided into a "seen" bucket 7 times out of 10 and the backoff
    # penalty never fired — the filter couldn't separate shuffled text
    # from natural text at the document level. 8x the bigram / 8x the
    # trigram space puts the false-hit rate near 10%, which is what
    # makes the doc_curation_v4 surprisal band discriminative.
    model = train_ngram_counts(held, "text",
                               uni_b=4096, bi_b=32768, tri_b=65536)

    def _fmt(name: str, counts: list[int]) -> str:
        """Sparse (index, count) pairs — the dense lists are ~98% zeros
        at these bucket sizes; `_dense` in the artifact re-expands."""
        pairs = ",".join(
            f"({i},{c})" for i, c in enumerate(counts) if c
        )
        return f"{name} = _dense({name}_B, [{pairs}])\n"

    with open(OUT, "w") as f:
        f.write(
            '"""Committed hashed 3-gram LM counts (stupid backoff) — '
            "trained by\ntools/train_ngram_lm.py on "
            f"{sf_dir} documents. Regenerate with that tool;\n"
            "do not hand-edit. Bucket idiom: md5 -> first 8 hex -> "
            "bigint %% B\n(identical in Spark and DuckDB).\"\"\"\n\n"
        )
        f.write(f"UNI_B = {model['uni_b']}\n")
        f.write(f"BI_B = {model['bi_b']}\n")
        f.write(f"TRI_B = {model['tri_b']}\n")
        f.write(f"TOTAL = {model['total']}\n")
        f.write(f"TRAINED_ON = {sf_dir!r}\n")
        f.write("SPLIT = 'md5(doc_id) even half'\n")
        f.write(
            "\n\ndef _dense(m, pairs):\n"
            "    out = [0] * m\n"
            "    for i, c in pairs:\n"
            "        out[i] = c\n"
            "    return out\n\n\n"
        )
        f.write(_fmt("UNI", model["uni"]))
        f.write(_fmt("BI", model["bi"]))
        f.write(_fmt("TRI", model["tri"]))
    nz = {k: sum(1 for c in model[k] if c) for k in ("uni", "bi", "tri")}
    print(f"wrote {OUT}: total={model['total']} nonzero buckets={nz}")


if __name__ == "__main__":
    main()
