"""DuckDB oracles. ``workload.QUERIES`` results compare by the rule of the
repository's correctness gate (``tools/check.py``): equal row count, equal
column names and an equal order-insensitive value hash. MinHash + LSH
candidate pairs compare by a digest of the pair set."""

from __future__ import annotations

import os

import pandas as pd

from tools.check import TABLES, table_hash


def digest(pdf: pd.DataFrame) -> tuple[int, list[str], str]:
    return len(pdf), sorted(pdf.columns), table_hash(pdf)


def oracle_digests(data_dir: str, sqls: dict[str, str]) -> dict[str, tuple]:
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    out = {name: digest(con.execute(sql).df()) for name, sql in sqls.items()}
    con.close()
    return out


def compare(got: pd.DataFrame, want: tuple) -> list[str]:
    n, cols, h = digest(got)
    if n != want[0]:
        return [f"rows {n} != oracle {want[0]}"]
    if cols != want[1]:
        return [f"columns {cols} != oracle {want[1]}"]
    return [] if h == want[2] else ["value hash differs from oracle"]


def minhash_pairs_digest(docs_path: str, n_hashes: int, band_size: int) -> dict:
    """Digest of the candidate pairs ``lsh_candidate_pairs(minhash_signature(
    docs, "doc_id", "text", n=3), "doc_id")`` must return: word 3-gram
    shingles, h_i = (a + i*b) mod 2^32 from the md5 words a, b of each
    shingle, bands of ``band_size`` consecutive minimums, and every
    (doc_id_1 < doc_id_2) pair sharing a whole band."""
    import duckdb

    from transcription_lakehouse_spark.functions.text import duckdb_tokens_sql

    mins = ", ".join(f"min((a + {i} * b) % 4294967296) AS m{i}"
                     for i in range(n_hashes))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', "
        + ", ".join(f"m{i}" for i in range(b * band_size, (b + 1) * band_size))
        + ") AS key FROM sigs" for b in range(n_hashes // band_size))
    sql = f"""
    WITH toks AS (
      SELECT doc_id, {duckdb_tokens_sql("text")} AS t
      FROM read_parquet('{docs_path}')
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS shingle
      FROM toks WHERE len(t) >= 3
    ), hw AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS a,
             CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) AS b
      FROM sh
    ), sigs AS (SELECT doc_id, {mins} FROM hw GROUP BY doc_id
    ), bands AS ({bands}
    ), cand AS (
      SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    )
    SELECT count(*) AS n, CAST(sum(d1) AS BIGINT) AS s1,
           CAST(sum(d2) AS BIGINT) AS s2, CAST(sum(d1 * d2) AS BIGINT) AS s12
    FROM cand"""
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    row = con.execute(sql).df().iloc[0]
    con.close()
    return {k: int(row[k]) for k in ("n", "s1", "s2", "s12")}
