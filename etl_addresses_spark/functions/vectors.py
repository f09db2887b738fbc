"""Bit-reproducible vector kernels over array<float> columns, each with
its DuckDB twin.

Every kernel is a SEQUENTIAL left fold of per-element doubles
(float->double is exact), and DuckDB's `list_reduce` folds in the same
order, so both engines produce the identical double (Spark's leading
+0.0 fold seed is an IEEE no-op).  The similarity, clustering,
retrieval, diversity and lmquality rows all score with these.

Fold vs unrolled shape rule (r12, all three shapes measured on the 30x
replica — SCALE.md "fold vs unrolled kernel matrix"): the unrolled
squared-L2 chain (`_sqdist_unrolled`) pays off ONLY in broadcast-argmin
kernels that evaluate MANY short/medium folds per probe row against a
model-sized build side (corpus x k-centroid assignment: 5.26 -> 2.00 s;
PQ encode 480k x 256 codewords of dim 8: 10.25 -> 4.11 s).  Keep the
fold for scan-shaped single folds per row (norms: fold 2x faster) AND
for the wide-broadcast cosine kernels, where the unrolled chain
measured 9x SLOWER at 30x (18.6 -> 175 s, corpus x 1200-query
broadcast) — the generated join-loop method grows past JIT limits and
runs deoptimized.  `sizing.use_unrolled_kernel` holds the corpus-size
crossover below which the chain's codegen compile costs more than it
saves.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _pair_dot_seq(emb_a: F.Column, emb_b: F.Column) -> F.Column:
    """Bit-reproducible dot product of two float vectors: per-element
    double products summed with a SEQUENTIAL left fold.  (A decimal
    accumulation was tried first, but DuckDB's DECIMAL->DOUBLE cast is
    not correctly rounded and diverges from the JVM's by 1 ulp.  An
    unrolled flat 64-term chain was tried too — measured 3x SLOWER
    than this fold: 64 GetArrayItem nodes each pay a null+bounds
    check, while zip_with/aggregate make one primitive-array
    traversal.)"""
    prods = F.zip_with(
        emb_a,
        emb_b,
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm_col(c: F.Column) -> F.Column:
    """sqrt of the sequential-fold self dot product."""
    return F.sqrt(_pair_dot_seq(c, c))


def _duckdb_dot(a: str, b: str) -> str:
    """DuckDB twin of `_pair_dot_seq` for list expressions a/b."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        f"(x, y) -> x + y)"
    )


def _sqdist(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 distance, sequential double fold (same parity
    contract as `_pair_dot_seq`)."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _sqdist_unrolled(a: F.Column, b: F.Column, dim: int) -> F.Column:
    """BIT-IDENTICAL twin of `_sqdist` for fixed-width arrays: the
    left-associated chain 0.0 + d1 + d2 + ... is the exact sequence
    the fold computes, term for term, but as a flat element_at
    expression tree instead of interpreted higher-order functions
    (zip_with allocates an intermediate array per pair — per CANDIDATE
    in a broadcast argmin kernel).  Where to use it: the shape rule in
    the module docstring."""
    expr = F.lit(0.0)
    for i in range(1, dim + 1):
        diff = F.element_at(a, i).cast("double") - F.element_at(b, i).cast(
            "double"
        )
        expr = expr + diff * diff
    return expr


def _duckdb_sqdist(a: str, b: str) -> str:
    """DuckDB twin of `_sqdist` (and so of `_sqdist_unrolled`)."""
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )
