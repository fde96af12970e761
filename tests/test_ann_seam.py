"""The ANN scoring seam (`operators/similarity`: `_vec_side`, `_score_topk`,
`_rank_topk`) owns the rounding and the tie-break of every top-k path. On
a corpus of planted exact duplicates — so sims tie and rank falls to
``neighbor_id ASC`` — every path that degenerates to exact search must
return the same rows, sim values and column types as brute force."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from transcription_lakehouse_spark.operators.pca import pca_topk, train_pca
from transcription_lakehouse_spark.operators.pq import (
    ivfpq_topk,
    pq_topk,
    train_ivfpq_codebooks,
    train_pq_codebooks,
)
from transcription_lakehouse_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    train_centroids,
)

N_BASE, COPIES, DIMS, K, CELLS = 16, 3, 8, 5, 4


@pytest.fixture(scope="module")
def tied(spark):
    """Every base vector appears COPIES times (ids b, b+16, b+32): each
    query's own copies tie at sim 1.0 and every neighbor arrives as a
    three-way tie, so the k cut lands inside tied groups."""
    random.seed(5)
    base = [
        [round(random.gauss(0, 1.0), 3) for _ in range(DIMS)]
        for _ in range(N_BASE)
    ]
    rows = [
        (c * N_BASE + b, base[b]) for c in range(COPIES) for b in range(N_BASE)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, df.filter(F.col("vec_id") % 4 == 0), len(rows)


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
        for r in df.collect()
    )


def test_exact_degenerate_paths_share_ranks_sims_and_types(spark, tied):
    df, q, n = tied
    args = (q, df, "vec_id", "embedding")
    cents = train_centroids(df, "vec_id", "embedding", n_cells=CELLS)
    books = train_pq_codebooks(df, "vec_id", "embedding", m=2, k=4)
    res_books = train_ivfpq_codebooks(
        df, "vec_id", "embedding", cents, m=2, k=4
    )
    mean, comps, _ = train_pca(df, "vec_id", "embedding", n_components=3)

    exact = brute_force_topk(*args, k=K)
    want = _rows(exact)
    assert exact.dtypes == [
        ("query_id", "bigint"), ("neighbor_id", "bigint"),
        ("rank", "int"), ("sim", "double"),
    ]
    # the fixture really ties: rank 1 and 2 are the query's two copies at
    # sim 1.0, lower id first
    first = {(r[0], r[1]): r for r in want}
    for qid in {r[0] for r in want}:
        a, b = first[(qid, 1)], first[(qid, 2)]
        assert a[3] == b[3] == 1.0 and a[2] < b[2]

    paths = {
        "ivf": ivf_topk(*args, k=K, n_cells=CELLS, nprobe=CELLS,
                        centroids=cents),
        "pq": pq_topk(*args, books, k=K, shortlist=n),
        "pca": pca_topk(*args, mean, comps, k=K, shortlist=n),
        "ivfpq": ivfpq_topk(*args, cents, res_books, k=K, nprobe=CELLS,
                            shortlist=n),
    }
    for name, got in paths.items():
        assert got.dtypes == exact.dtypes, name
        assert _rows(got) == want, name


def test_banded_buckets_only_in_similarity():
    """Every banded-LSH bucket row in the package is built inside
    `operators/similarity.py` (`_banded_buckets`, `_collision_scores`), so
    the hash family, its margin guard and the collision join live once."""
    import pathlib

    import transcription_lakehouse_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    callers = sorted(
        str(f.relative_to(root))
        for f in root.rglob("*.py")
        if "_banded_buckets(" in (t := f.read_text())
        or "_band_buckets_udf(" in t
    )
    assert callers == ["operators/similarity.py"]
