"""Shared deterministic-sampling hash (r9 advice: one definition).

The Knuth multiplicative hash orders keys pseudo-randomly with exact
int64 arithmetic, so a Spark `orderBy(hash).limit(k)` (plans as
TakeOrderedAndProject — per-partition top-k + single merge, never a
global sort) and a DuckDB `ORDER BY hash LIMIT k` select the IDENTICAL
key set.  Used by the fuzzy-join validation baseline's pair cap
(operators/fuzzy.py) and the k-means seed cap
(operators/clustering.py); both inline the same expression into their
oracle SQL via `knuth_order_sql`, so the two engines can never
desynchronize on the sampled set.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KNUTH = 2654435761  # 2^32 / golden ratio; exact in int64 for our keys


def knuth_order_col(key: str) -> Column:
    """Spark ordering expression: (key * KNUTH) mod 2^32 — callers add
    the key itself as tie-break for a total order."""
    return (F.col(key).cast("long") * F.lit(KNUTH)) % F.lit(1 << 32)


def knuth_order_sql(key: str) -> str:
    """The byte-equivalent DuckDB ordering expression."""
    return f"({key} * {KNUTH}) % 4294967296"
