"""Seeded registry tables for the ``registry_mix`` workload.

``generate(sf_dir, seed, sf=0.1)`` writes the tables the mix's queries
read (``lineitem``, ``events`` and ``documents``) with the column names,
types and value domains of the harness tables (``TESTDATA.md``) at the
same row counts: 600k lineitem, 100k events and 5k documents at sf 0.1.
Money columns carry two decimals, as the exact DuckDB comparator expects.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    d = np.datetime64(start, "us") + rng.integers(0, n_days, n) * np.timedelta64(1, "D")
    return pa.array(d, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random 8-96 word texts; about 2% exact and 5% near duplicates of
    earlier documents (a copy with " dup" appended)."""
    words = np.array(WORDS)
    texts: list[str] = []
    sources: list[str] = []
    for i in range(n):
        x = rng.random()
        if i > 10 and x < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
            sources.append(f"src{i % 5}")
        elif i > 10 and x < 0.07:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            sources.append(f"src{5 + i % 10}")
        else:
            k = int(rng.integers(8, 97))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
            sources.append(f"src{i % 5}")
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(sf_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write every table as ``<sf_dir>/<name>.parquet``; return row counts."""
    rng = np.random.default_rng(seed)
    n_supp, n_part, n_ord = int(10_000 * sf), int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = int(50_000 * sf)

    tables = {
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_li)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
                pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev).clip(0, 560.21), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": _documents(rng, n_doc),
    }
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
