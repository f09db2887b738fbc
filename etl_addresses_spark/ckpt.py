"""Explicit lifecycle management for `localCheckpoint` blocks.

Why this exists: every iterative operator here (pagerank, label
propagation, frontier BFS, large-star/small-star CC, power iteration)
calls ``df.localCheckpoint(eager=True)`` per round to truncate lineage.
Each call persists the materialized RDD in the block manager — and
those blocks are NOT released by ``spark.catalog.clearCache()`` (that
only clears the SQL cache manager) nor by ``DataFrame.unpersist()``
on the checkpointed frame (same reason).  They are only reclaimed when
the *driver JVM* garbage-collects the RDD object, which in a
long-lived shared session (a 50-query bench run, the driver's
correctness sweep, a pytest session) can be arbitrarily late.  The
observable symptom — BENCH_r05's `embedding_gram_matrix` repeats
growing 1.98 s → 4.74 s → 9.25 s inside one session — is accumulated
checkpoint residue from ~20 earlier iterative queries crowding the
block manager.

So: free superseded iterates EXPLICITLY.  A checkpointed Dataset's
plan is a ``LogicalRDD`` wrapping exactly the persisted RDD, so the
block-owning RDD is recoverable from the frame itself — no global
set-diffing of the persistent-RDD map (which could misattribute a
lazily-materialized ``.cache()`` that happened to land in the same
job).  ``CheckpointChain`` gives iterative loops slot-per-role
tracking: ``step(df, slot)`` checkpoints eagerly, then frees the
PREVIOUS checkpoint in that slot (strictly after the new one is
materialized, so nothing live is ever dropped).

Safety contract: only free a checkpoint once nothing will read it
again — unlike a cache, a freed local checkpoint CANNOT be recomputed
(``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).  The slot discipline
guarantees this for the loop shapes used here: round k's iterate is
only ever read by round k+1's materialization.

The py4j calls are not guarded: if Spark's internal API drifts, the
helpers raise instead of quietly leaving blocks resident (the BENCH_r05
symptom was repeat times that slowly grew, not an error).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def checkpoint_rdd(df: DataFrame):
    """The persisted JVM RDD backing a (local)checkpointed DataFrame,
    or None if the frame's plan is not a LogicalRDD scan."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getName().endswith(".LogicalRDD"):
        return plan.rdd()
    return None


def unpersist_checkpoint(df: DataFrame, blocking: bool = False) -> bool:
    """Free the block-manager storage behind a checkpointed DataFrame.
    Returns True if blocks were released.  The frame must never be
    evaluated again afterwards (local checkpoints don't recompute)."""
    rdd = checkpoint_rdd(df)
    if rdd is None:
        return False
    rdd.unpersist(blocking)
    return True


class CheckpointChain:
    """Slot-per-role tracker for iterative localCheckpoint loops.

    >>> chain = CheckpointChain()
    >>> state = chain.step(seed_df, "state")        # checkpoint, track
    >>> for _ in range(iters):
    ...     state = chain.step(update(state), "state")  # frees prior round
    >>> chain.release("aux")   # free a finished side input explicitly

    The FINAL checkpoint in each slot stays live (the returned result
    depends on it); callers that fully consume the result can release
    it too, and session-level sweeps (`free_all_persistent_rdds`)
    catch whatever remains.
    """

    def __init__(self) -> None:
        self._live: dict[str, DataFrame] = {}

    def step(self, df: DataFrame, slot: str = "iter") -> DataFrame:
        out = df.localCheckpoint(eager=True)  # materialize FIRST
        prev = self._live.get(slot)
        self._live[slot] = out
        if prev is not None:
            unpersist_checkpoint(prev)
        return out

    def release(self, slot: str) -> None:
        prev = self._live.pop(slot, None)
        if prev is not None:
            unpersist_checkpoint(prev)


def free_all_persistent_rdds(spark: SparkSession, blocking: bool = False) -> int:
    """Session-level sweep: unpersist EVERY persistent RDD — caches
    and checkpoint blocks alike.  Only for between-query hygiene in
    harnesses (bench repeats, sweep loops) where the caller knows no
    previously-built DataFrame will be evaluated again.  Returns the
    number of RDDs released."""
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    for rdd in rdds:
        rdd.unpersist(blocking)
    return len(rdds)
