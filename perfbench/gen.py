"""Seeded input generator for the benchmark.

Writes the ten fixture-shaped tables (the TPC-H-like star schema, the
``events`` stream, ``documents`` and ``embeddings``) as parquet with the
same column names and types as the engine's fixture data, plus the raw
JSONL transcripts that ``lake_build`` and the ``query_suite`` serve lake
ingest. Everything is drawn from ``numpy`` generators seeded by ``--seed``,
so a seed gives the same bytes on every host; sizes never depend on it.

The transcript derivation is the one ``workload/transcript._utterances``
applies to ``events``: user -> episode, event_type -> speaker, the
timeline compressed 1e5x (us / 1e11 -> seconds), ``end = start + 2 +
value / 50`` and ``text = event_type || ' ' || event_id``. The seed salts
the episode ids and shuffles rows across files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "the a fast slow big small data table row column key value join merge "
    "sort scan filter group agg order line part customer window hash batch "
    "stream spark vector query"
).split()
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_MONTH_US = 30 * 86_400 * 1_000_000
_TIME_SCALE = 1e11  # us -> compressed seconds, as in workload/transcript


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated data set (fixed per workload)."""

    events: int
    episodes: int
    orders: int
    customers: int
    parts: int
    suppliers: int
    documents: int
    vectors: int


def _write(table: pd.DataFrame | pa.Table, path: str) -> None:
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, preserve_index=False)
    pq.write_table(table, path)


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def events_frame(rng: np.random.Generator, n: int, users: int) -> pd.DataFrame:
    ts = np.sort(rng.integers(0, _MONTH_US, n)) + _EPOCH_US
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.asarray(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    words = np.asarray(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n)]
    # near-duplicates (a copy plus a marker token) and a few exact copies,
    # so the dedup / decontamination operators have work to find
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 300), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(_LANGS)[rng.integers(0, len(_LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_tables(data_dir: str, seed: int, s: Sizes) -> None:
    """All ten tables under ``data_dir/<name>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(data_dir, exist_ok=True)
    p = lambda name: os.path.join(data_dir, f"{name}.parquet")  # noqa: E731
    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS,
    }), p("region"))
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), p("nation"))
    acct = lambda n: np.round(rng.uniform(-1000, 10000, n), 2)  # noqa: E731
    _write(pd.DataFrame({
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
        "c_acctbal": acct(s.customers),
        "c_mktsegment": np.asarray(_SEGMENTS)[rng.integers(0, 5, s.customers)],
    }), p("customer"))
    _write(pd.DataFrame({
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
        "s_acctbal": acct(s.suppliers),
    }), p("supplier"))
    adj = np.asarray(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), s.parts)]
    noun = np.asarray(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), s.parts)]
    _write(pd.DataFrame({
        "p_partkey": np.arange(s.parts, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": np.asarray(_PART_TYPES)[rng.integers(0, 6, s.parts)],
        "p_size": rng.integers(1, 51, s.parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(s.parts) * 0.1 % 100, 1),
    }), p("part"))
    _write(pd.DataFrame({
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
        "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, s.orders), 2),
        "o_orderdate": _dates(rng, s.orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.asarray(_PRIORITIES)[rng.integers(0, 5, s.orders)],
    }), p("orders"))
    n_li = 4 * s.orders
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, s.orders, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, s.parts, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, s.suppliers, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
    }), p("lineitem"))
    _write(events_frame(rng, s.events, s.episodes), p("events"))
    _write(_documents(rng, s.documents), p("documents"))
    _write(_embeddings(rng, s.vectors), p("embeddings"))


def utterances(ev: pd.DataFrame, salt: str) -> pd.DataFrame:
    """The ``_utterances`` derivation of ``workload/transcript`` in pandas,
    with the episode id salted."""
    ts_us = ev["ts"].to_numpy("datetime64[us]").astype(np.int64)
    rel = ts_us - ev.groupby("user_id")["ts"].transform("min").to_numpy(
        "datetime64[us]").astype(np.int64)
    start = rel / _TIME_SCALE
    return pd.DataFrame({
        "episode_id": [f"ep-{salt}-{u}" for u in ev["user_id"]],
        "start": start,
        "end": start + 2.0 + ev["value"].to_numpy() / 50.0,
        "speaker": ev["event_type"].to_numpy(),
        "text": (ev["event_type"] + " " + ev["event_id"].astype(str)).to_numpy(),
    })


def write_jsonl(utt: pd.DataFrame, out_dir: str, n_files: int,
                rng: np.random.Generator) -> int:
    """Shuffle rows across ``n_files`` JSONL files; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    order = rng.permutation(len(utt))
    cols = list(utt.columns)
    recs = utt.to_numpy(dtype=object)
    total = 0
    for i, chunk in enumerate(np.array_split(order, n_files)):
        path = os.path.join(out_dir, f"part-{i:04d}.jsonl")
        with open(path, "w") as f:
            for j in chunk:
                f.write(json.dumps(dict(zip(cols, recs[j].tolist()))) + "\n")
        total += os.path.getsize(path)
    return total


def transcripts(out_dir: str, seed: int, n: int, episodes: int,
                n_files: int, tag: str = "t") -> tuple[pd.DataFrame, int]:
    """Raw JSONL transcripts derived from a seeded ``events`` table.
    Returns the utterance frame and the bytes written."""
    rng = np.random.default_rng([seed, 2])
    utt = utterances(events_frame(rng, n, episodes), f"{tag}{seed}")
    return utt, write_jsonl(utt, out_dir, n_files, rng)
