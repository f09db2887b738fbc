"""Shuffle-width sizing for iterative loops.

An iterative operator (pagerank, label propagation, frontier BFS,
large-star/small-star connected components) runs its per-round
joins/aggregations k times, so any fixed per-round cost is multiplied
by k.  Running those rounds at the session's corpus-sized shuffle
width schedules mostly-empty reduce tasks every round when the LOOP
state (ranks, labels, frontier, edge list) is much smaller than the
corpus — measured on pagerank_relations at sf0.1: 13.5 s at 32
partitions vs 9.3 s at 4, identical results (the round arithmetic is
exact decimal/integer, so width cannot move values).

`loop_partitions(n_rows)` converts a measured loop-state row count —
one model-sized count() per operator, the same count-gate precedent as
the fuzzy dispatcher, bloom sizing, SRP banding and streaming state
stores — into a width: one partition per LOOP_ROWS_PER_PARTITION
keyed rows, floor 1.  At 100 TB the same rule yields thousands of
partitions for a billion-edge graph (the parallelism you want); at
test scale it stops paying 32 near-empty task launches per round.
Apply with session.scoped_shuffle_partitions around the LOOP ONLY —
the corpus-scale prework (edge extraction, pair generation) must
materialize before the scope at full width.
"""

from __future__ import annotations

import math

# Width sweep on graph_communities_labelprop (the largest loop state
# here, ~1M neighbor rows at sf0.1): 2M rows/partition -> 1 partition
# -> 5.4-6.4 s (serializes real aggregation work), 250k -> 4 -> 4.3 s,
# 62.5k -> 19 -> 4.8 s, 16k -> 32+ -> 7.3 s (back to near-empty-task
# overhead).  250k keyed rows is a few MB per reduce partition — big
# enough to amortize task launch, small enough to spread compute.
LOOP_ROWS_PER_PARTITION = 250_000


# Floor: a single-partition loop SERIALIZES each round's real work on
# one core while the rest idle — measured on pagerank at the 10x
# replica (edges still under one 250k quantum there): width 1 drove
# the 10x wall to 1.68x vs the historical 1.12x, while width 4 at
# sf0.1 measures the same as width 1 (9.3-10.1 s).  Four near-empty
# tasks cost ~tens of ms per round — cheap insurance across the whole
# n_rows range below the first quantum.
LOOP_MIN_PARTITIONS = 4


def loop_partitions(n_rows: int) -> int:
    """Shuffle width for an iterative loop whose per-round keyed-join
    row count is `n_rows` (typically the edge count; the node/label
    side is never larger)."""
    return max(LOOP_MIN_PARTITIONS, math.ceil(n_rows / LOOP_ROWS_PER_PARTITION))


# --- CPU-dense exchange width (r11) ---------------------------------------
#
# AQE's partition coalescing reasons in BYTES (advisoryPartitionSizeInBytes)
# and cannot see per-row CPU density.  With parallelismFirst=false it
# will happily coalesce a 20 MB shuffle to ONE partition — correct for
# a projection, catastrophic for a stage whose per-row work is heavy
# (3-gram shingling, 64-permutation MinHash, md5 fingerprints,
# adjacency-array intersection): the r11 A/B measured minhash_lsh_pairs
# at 3.66x when its cached shingle set collapsed to one partition.
# Those exchanges get an EXPLICIT width instead (user-specified
# numPartitions — AQE neither splits nor coalesces it): never below
# cluster default parallelism, bytes-proportional past it, so at
# 100 TB the width follows data volume and at test scale a CPU stage
# always covers the cores.

CPU_STAGE_BYTES_PER_PARTITION = 64 << 20

# Catalyst's unknown-stats sentinel is huge (2^63-ish); treat anything
# absurd as "stats unavailable" and fall back to parallelism-only.
_PLAN_BYTES_SANE_MAX = 1 << 50


def plan_size_bytes(df) -> int:
    """Catalyst's optimized-plan size estimate for a DataFrame — file
    statistics for scans, propagated estimates downstream.  No job is
    run.  Returns 0 when the estimate is outside the sane range; a
    failing stats call (internal-API drift) raises rather than
    silently shrinking every width derived from it to
    parallelism-only."""
    n = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return n if 0 < n < _PLAN_BYTES_SANE_MAX else 0


def cpu_partitions(df) -> int:
    """Explicit exchange width for a CPU-dense stage fed by `df`:
    max(cluster default parallelism, plan-bytes / 64 MiB).

    SCAN-GRADE FRAMES ONLY: pass a frame whose optimized plan is a
    file scan plus narrow projections/filters, where sizeInBytes is
    file statistics.  Join/aggregate-derived frames carry PROPAGATED
    estimates that can be inflated by orders of magnitude (measured
    r11: 72 GB estimated for pagerank's 2 MB relations frame -> a
    ~1100-partition pin -> 10x ladder wall 142 s).  Derived frames
    should keep an AQE-managed repartition instead."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(par, math.ceil(plan_size_bytes(df) / CPU_STAGE_BYTES_PER_PARTITION))


# --- fold vs unrolled vector-kernel regime (r12) ---------------------------
#
# The broadcast-argmin kernels (k-means assignment, PQ encode) have two
# BIT-IDENTICAL implementations: an interpreted higher-order fold
# (zip_with + aggregate — allocates an intermediate array per scored
# candidate) and a flat unrolled element_at chain (whole-stage-codegen
# arithmetic, no allocation).  Measured on the 30x replica
# (SCALE.md "fold vs unrolled kernel matrix"): the chain is ~2.6x
# faster per fold in these shapes (5.26 -> 2.00 s assignment,
# 10.25 -> 4.11 s encode) but costs ~0.4 s of codegen COMPILE per
# generated stage, paid EVERY run (fresh expression ids -> fresh
# source -> Janino cache miss; bench repeats stay flat at +~2 s for
# the 4-5 assign stages of a k-means row).  Breakeven: savings ~
# (350-133) ns x n*k folds > ~0.4 s/stage  =>  n*k > ~1.8M  =>  in
# the k ~ sqrt(n) regime, n > ~15k.  The gate below rounds that to
# the SAME boundary where Lloyd training starts subsampling
# (n > 128 * sqrt(n) <=> n > 16384), so "small fixture" vs "scale
# path" is ONE regime edge.  Both tiers hash-equal, so the gate can
# never change answers (the bm25 dispatcher contract).
KERNEL_UNROLL_MIN_ROWS = 16384


def use_unrolled_kernel(n_rows: int) -> bool:
    """True when the corpus is past the fold->unrolled crossover."""
    return n_rows > KERNEL_UNROLL_MIN_ROWS
