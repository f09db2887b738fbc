"""Seeded input tables for the benchmark workloads.

Every table is written with the schema of the repository's parquet
testdata (TESTDATA.md; one ``<name>.parquet`` file per table), so the package's
loaders, registry rows and DuckDB oracles run on it unchanged.  The
seed picks the content (keys, vocabulary, phrases, graph edges); the
sizes are fixed per workload, so that runs with different seeds
measure the same amount of work.  The same seed gives byte-identical
files.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

if TYPE_CHECKING:
    from workloads import DocSpec

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EPOCH = dt.datetime(1992, 1, 1)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase words of 3-8 letters."""
    out: dict[str, None] = {}
    while len(out) < n:
        k = int(rng.integers(3, 9))
        out["".join(rng.choice(LETTERS, k))] = None
    return list(out)


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def supplier_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` suppliers on distinct keys drawn from ``[0, 1.25 n)``: the
    street grid (sources.fixtures) places street i at grid cell i, so
    the key gaps leave some house numbers without a street nearby."""
    keys = np.sort(rng.choice(int(n * 1.25), n, replace=False)).astype(np.int64)
    return pa.table(
        {
            "s_suppkey": keys,
            "s_name": [f"Supplier#{k:09d}" for k in keys],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        }
    )


def customer_table(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.sort(rng.choice(n * 4, n, replace=False)).astype(np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        }
    )


def documents_table(rng: np.random.Generator, spec: DocSpec) -> pa.Table:
    vocab = np.array(_words(rng, spec.vocab))
    # Zipf-like word frequencies: a few very common words make the
    # frequent shingles whose posting lists blow up the self-join.
    weights = 1.0 / np.arange(1, spec.vocab + 1) ** 1.1
    weights /= weights.sum()
    phrases = [
        " ".join(rng.choice(vocab, spec.phrase_words, p=weights))
        for _ in range(spec.n_phrases)
    ]
    texts = []
    for _ in range(spec.n_docs):
        words = list(rng.choice(vocab, int(rng.integers(*spec.words)), p=weights))
        if rng.random() < spec.shared_rate:
            at = int(rng.integers(0, len(words) + 1))
            words[at:at] = [phrases[int(rng.integers(0, spec.n_phrases))]]
        texts.append(" ".join(words))
    n = spec.n_docs
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": ["en" if i % 10 else "de" for i in range(n)],
            "source": [f"src{i % 7}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def lineitem_table(rng: np.random.Generator, n_orders: int, n_parts: int) -> pa.Table:
    """Orders of 1-7 lines over ``n_parts`` parts with skewed
    popularity: the parts-bought-together graph the graph rows walk."""
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    popularity = 1.0 / np.arange(1, n_parts + 1) ** 0.8
    partkey = rng.choice(n_parts, n, p=popularity / popularity.sum()).astype(np.int64)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    days = rng.integers(0, 2500, n)
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * rng.uniform(900, 2000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": pa.array(
                [EPOCH + dt.timedelta(days=int(d)) for d in days],
                type=pa.timestamp("us"),
            ),
        }
    )


def write_tables(out_dir: str, seed: int, tables: dict) -> None:
    """Write the named tables for ``seed``.  ``tables`` maps a table
    name to its size argument (an int, a tuple, or a DocSpec).  Each
    table draws from its own stream, so adding one table never changes
    another."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "supplier": supplier_table,
        "customer": customer_table,
        "documents": documents_table,
        "lineitem": lambda rng, size: lineitem_table(rng, *size),
    }
    for name in sorted(tables):
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        _write(makers[name](rng, tables[name]), out_dir, name)
