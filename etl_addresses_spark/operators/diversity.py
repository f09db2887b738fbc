"""Diversity-aware selection over the embedding corpus: MMR re-ranking
and k-center greedy (Gonzalez) sampling.

Two standard curation/retrieval finishers the LLM-data stack was
missing (r11 extension; no reference parity — addresses.js has no
retrieval surface):

* **MMR** (maximal marginal relevance, Carbonell & Goldstein 1998):
  re-rank a CANDIDATE LIST so each pick balances query relevance
  against redundancy with what is already picked —
  ``argmax_d  lam*rel(d) - (1-lam)*max_{s in S} sim(d, s)``.
  The candidate list is model-sized (top-{MMR_CAND} by cosine, the
  same TakeOrderedAndProject truncation as RRF), so every step of the
  iteration runs over <= {MMR_CAND} rows; the only corpus-scale work
  is the initial relevance scan, which is the already-checked cosine
  pipeline.  At 100 TB the candidate generator swaps to the IVF-PQ
  top-C unchanged — MMR only reads the survivor rows.

* **k-center greedy** (Gonzalez 1985; the coreset seeding used for
  semantic-diversity training-data selection, e.g. "submodular
  maximization" curation): repeatedly pick the corpus vector FARTHEST
  (min max-cosine) from everything picked so far.  Unlike MMR this is
  corpus-GLOBAL: each of the {KCENTER_K} steps is one narrow pass —
  join the corpus against the single newly-picked center (1-row
  broadcast), fold the running max-similarity, TakeOrdered(1) argmin.
  State between steps is one double per corpus row.  At 100 TB that
  is k broadcast map-passes + k top-1 reductions, no shuffle of the
  corpus at all — the canonical scale shape for greedy coreset
  selection.

Both iterate a FIXED number of steps, so the whole recursion unrolls
into chained MATERIALIZED CTEs for the DuckDB oracle (the
pagerank/kmeans/labelprop technique).  Bit-exactness story: cosine
similarity is the shared sequential-fold dot product
(similarity._pair_dot_seq vs similarity._duckdb_dot — identical fold
order, identical doubles); per-step scores combine those doubles with
single multiplies/adds in the same association order both sides; max
over a set of identical doubles is exact; every argmax/argmin
tie-breaks on the integer id.  So both rows are full hash-checked
entries despite being float-iterative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.ckpt import CheckpointChain
from etl_addresses_spark.functions.sizing import loop_partitions
from etl_addresses_spark.session import scoped_shuffle_partitions
from etl_addresses_spark.operators.similarity import (
    _duckdb_dot,
    _norm_col,
    _pair_dot_seq,
)
from etl_addresses_spark.sources.tables import load_table

MMR_QUERY_VEC = 0   # corpus doc whose embedding is the query (RRF convention)
MMR_CAND = 100      # candidate-list length fed into the re-ranker
MMR_TOPK = 10       # picks
MMR_LAMBDA = 0.5    # relevance/diversity trade-off

KCENTER_SEED = 0    # deterministic first center (vec_id)
KCENTER_K = 10      # centers to pick


def _cos_col(a, b, na, nb) -> F.Column:
    """cosine(a, b) with the shared fold: dot / (norm_a * norm_b) —
    the association every checked cosine row uses."""
    return _pair_dot_seq(a, b) / (na * nb)


def _corpus_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, norm) over the embeddings table."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "embedding", _norm_col(F.col("embedding")).alias("norm")
    )


def mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-rank of the top-{MMR_CAND} cosine candidates for query
    vector {MMR_QUERY_VEC}; emits the {MMR_TOPK} picks as
    (step, doc_id, mmr).

    Plan shape: ONE corpus-scale cosine scan -> TakeOrderedAndProject
    top-{MMR_CAND} -> localCheckpoint (the iteration must not re-run
    the scan per step) -> a {MMR_CAND}x{MMR_CAND} pairwise-cosine
    frame (self-join of the checkpointed candidates — 10k rows, all
    broadcast-scale) -> {MMR_TOPK} rounds of: max-sim-to-selected
    aggregate + anti-join + TakeOrdered(1).  Every per-step frame is
    <= {MMR_CAND} rows, so the iteration cost is independent of corpus
    size.  First pick: the empty selected set contributes
    coalesce(max_sim, 0.0), so step 1 degenerates to argmax
    lam*rel — the standard MMR initialization."""
    emb = _corpus_emb(spark, sf_dir)
    # doc-join: score only embeddings that ARE documents (the
    # docs_with_embeddings contract, same as RRF's vector signal)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = emb.join(d, emb.vec_id == d.doc_id).select(
        "doc_id", "embedding", "norm"
    )
    q = corpus.filter(F.col("doc_id") == MMR_QUERY_VEC).select(
        F.col("embedding").alias("q_emb"), F.col("norm").alias("q_norm")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "doc_id",
        "embedding",
        "norm",
        _cos_col(
            F.col("q_emb"), F.col("embedding"),
            F.col("q_norm"), F.col("norm"),
        ).alias("rel"),
    )
    cand = (
        scored.orderBy(F.desc("rel"), F.asc("doc_id"))
        .limit(MMR_CAND)
        .localCheckpoint()  # corpus scan runs ONCE, not once per step
    )
    a, b = cand.alias("a"), cand.alias("b")
    sims = (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d"),
            F.col("b.doc_id").alias("s"),
            _cos_col(
                F.col("a.embedding"), F.col("b.embedding"),
                F.col("a.norm"), F.col("b.norm"),
            ).alias("sim"),
        )
        .localCheckpoint()  # 10k-row pair table, reused every step
    )
    rel = cand.select("doc_id", "rel")

    lam = F.lit(MMR_LAMBDA)
    chain = CheckpointChain()
    sel = spark.createDataFrame([], "step int, doc_id long, mmr double")
    # every per-step frame is <= MMR_CAND rows: run the loop's shuffles
    # at the sizing floor instead of the corpus-sized session width —
    # 10 steps of near-empty 32-task stages were most of the row's cost
    # (the loop_partitions precedent; integer ids + fixed-association
    # floats, so width cannot move values)
    with scoped_shuffle_partitions(spark, loop_partitions(MMR_CAND)):
        for t in range(1, MMR_TOPK + 1):
            sel_ids = sel.select(F.col("doc_id").alias("sid"))
            max_sim = (
                sims.join(sel_ids, sims.s == F.col("sid"))
                .groupBy("d")
                .agg(F.max("sim").alias("ms"))
            )
            pick = (
                rel.join(sel_ids, rel.doc_id == F.col("sid"), "left_anti")
                .join(max_sim, rel.doc_id == max_sim.d, "left")
                .select(
                    F.lit(t).alias("step"),
                    "doc_id",
                    (
                        lam * F.col("rel")
                        - (F.lit(1.0) - lam)
                        * F.coalesce(F.col("ms"), F.lit(0.0))
                    ).alias("mmr"),
                )
                .orderBy(F.desc("mmr"), F.asc("doc_id"))
                .limit(1)
            )
            sel = chain.step(sel.unionByName(pick), "mmr_sel")
    return sel


def mmr_oracle_sql(
    k: int = MMR_TOPK, cand: int = MMR_CAND, lam: float = MMR_LAMBDA
) -> str:
    """DuckDB replica of mmr_rerank_topk: candidate CTE + pairwise-sim
    CTE, then the greedy loop unrolled into {k} chained MATERIALIZED
    pick/sel CTEs with the same score association and doc_id
    tie-break."""
    dot_qe = _duckdb_dot("q.q_emb", "c.embedding")
    dot_ab = _duckdb_dot("a.embedding", "b.embedding")
    sql = f"""
WITH corpus AS MATERIALIZED (
  SELECT d.doc_id, e.embedding,
    sqrt(CAST({_duckdb_dot('e.embedding', 'e.embedding')} AS DOUBLE)) AS norm
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
q AS (
  SELECT embedding AS q_emb, norm AS q_norm
  FROM corpus WHERE doc_id = {MMR_QUERY_VEC}
),
cand AS MATERIALIZED (
  SELECT c.doc_id, c.embedding, c.norm,
    CAST({dot_qe} AS DOUBLE) / (q.q_norm * c.norm) AS rel
  FROM corpus c CROSS JOIN q
  ORDER BY rel DESC, c.doc_id ASC LIMIT {cand}
),
sims AS MATERIALIZED (
  SELECT a.doc_id AS d, b.doc_id AS s,
    CAST({dot_ab} AS DOUBLE) / (a.norm * b.norm) AS sim
  FROM cand a JOIN cand b ON a.doc_id <> b.doc_id
),
sel0 AS (SELECT 0 AS step, CAST(NULL AS BIGINT) AS doc_id,
                0.0e0 AS mmr WHERE false)"""
    for t in range(1, k + 1):
        p = t - 1
        sql += f""",
pick{t} AS MATERIALIZED (
  SELECT {t} AS step, c.doc_id,
    {lam}e0 * c.rel - (1.0e0 - {lam}e0) * coalesce(ms.m, 0.0e0) AS mmr
  FROM cand c
  LEFT JOIN (SELECT p.d, max(p.sim) AS m
             FROM sims p JOIN sel{p} s ON p.s = s.doc_id GROUP BY p.d) ms
    ON ms.d = c.doc_id
  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel{p})
  ORDER BY mmr DESC, c.doc_id ASC LIMIT 1
),
sel{t} AS MATERIALIZED (
  SELECT * FROM sel{p} UNION ALL SELECT * FROM pick{t}
)"""
    sql += f"\nSELECT step, doc_id, mmr FROM sel{k}"
    return sql


def kcenter_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (Gonzalez) over the WHOLE embeddings table:
    starting from vec_id {KCENTER_SEED}, repeatedly pick the vector
    whose maximum cosine similarity to the already-picked centers is
    SMALLEST (i.e. the angularly farthest point).  Emits
    (step, vec_id, max_cos) — max_cos is the pick's similarity to the
    previously selected set (the classic "coverage radius" sequence,
    non-decreasing by construction).

    Scale shape: the iteration state is ONE double per corpus row
    (running max similarity to selected).  Each step joins the corpus
    against the single new center — a 1-row broadcast, no corpus
    shuffle — folds greatest(prev, cos_to_new), and takes argmin via
    TakeOrdered(1).  localCheckpoint per step bounds lineage.  k
    narrow passes over 100 TB, embarrassingly parallel, is the
    canonical coreset-seeding plan."""
    emb = _corpus_emb(spark, sf_dir).localCheckpoint()
    n_emb = emb.count()  # free post-checkpoint; sizes the loop below
    chain = CheckpointChain()

    seed = emb.filter(F.col("vec_id") == KCENTER_SEED).select(
        F.col("embedding").alias("c_emb"), F.col("norm").alias("c_norm")
    )
    # state after step 1: max-cos of every non-center row to {seed};
    # the seed row itself leaves the pool (its pick is step 1 with
    # max_cos 0.0 — similarity to the empty prior set, by convention)
    state = (
        emb.filter(F.col("vec_id") != KCENTER_SEED)
        .crossJoin(F.broadcast(seed))
        .select(
            "vec_id",
            "embedding",
            "norm",
            _cos_col(
                F.col("c_emb"), F.col("embedding"),
                F.col("c_norm"), F.col("norm"),
            ).alias("max_cos"),
        )
    )
    # picks accumulate in their own checkpointed frame (the MMR
    # pattern): each round's pick is materialized into `sel` BEFORE
    # the state checkpoint it was derived from can be released —
    # keeping a lazy list of pick frames instead left them pointing at
    # freed checkpoint blocks (checkpointRDDBlockIdNotFound, caught on
    # first run).
    sel = spark.createDataFrame(
        [(1, KCENTER_SEED, 0.0)], "step int, vec_id long, max_cos double"
    )
    # the per-step state transformation is a NARROW map (1-row
    # broadcast join + greatest fold — no state shuffle at all); the
    # only shuffled frames are the <= k-row pick/sel unions, so the
    # loop runs at the state-derived width (floor at test scale,
    # bytes-proportional on a real corpus)
    with scoped_shuffle_partitions(spark, loop_partitions(n_emb)):
        for t in range(2, KCENTER_K + 1):
            state = chain.step(state, "kcenter_state")
            far = state.orderBy(F.asc("max_cos"), F.asc("vec_id")).limit(1)
            sel = chain.step(
                sel.unionByName(
                    far.select(F.lit(t).alias("step"), "vec_id", "max_cos")
                ),
                "kcenter_sel",
            )
            new_c = far.select(
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_emb"),
                F.col("norm").alias("c_norm"),
            )
            state = (
                state.crossJoin(F.broadcast(new_c))
                .filter(F.col("vec_id") != F.col("c_id"))
                .select(
                    "vec_id",
                    "embedding",
                    "norm",
                    F.greatest(
                        F.col("max_cos"),
                        _cos_col(
                            F.col("c_emb"), F.col("embedding"),
                            F.col("c_norm"), F.col("norm"),
                        ),
                    ).alias("max_cos"),
                )
            )
    return sel


def kcenter_oracle_sql(k: int = KCENTER_K) -> str:
    """DuckDB replica: the greedy loop unrolled — state{t} carries
    (vec_id, running max_cos); pick{t} is the argmin row."""
    dot_ce = _duckdb_dot("c.c_emb", "s.embedding")
    sql = f"""
WITH emb AS MATERIALIZED (
  SELECT vec_id, embedding,
    sqrt(CAST({_duckdb_dot('embedding', 'embedding')} AS DOUBLE)) AS norm
  FROM embeddings
),
c1 AS (
  SELECT vec_id AS c_id, embedding AS c_emb, norm AS c_norm
  FROM emb WHERE vec_id = {KCENTER_SEED}
),
state1 AS MATERIALIZED (
  SELECT s.vec_id, s.embedding, s.norm,
    CAST({dot_ce} AS DOUBLE) / (c.c_norm * s.norm) AS max_cos
  FROM emb s CROSS JOIN c1 c WHERE s.vec_id <> {KCENTER_SEED}
)"""
    for t in range(2, k + 1):
        p = t - 1
        sql += f""",
pick{t} AS MATERIALIZED (
  SELECT vec_id, max_cos FROM state{p}
  ORDER BY max_cos ASC, vec_id ASC LIMIT 1
),
c{t} AS (
  SELECT e.vec_id AS c_id, e.embedding AS c_emb, e.norm AS c_norm
  FROM emb e JOIN pick{t} pk ON e.vec_id = pk.vec_id
),
state{t} AS MATERIALIZED (
  SELECT s.vec_id, s.embedding, s.norm,
    greatest(s.max_cos,
             CAST({dot_ce} AS DOUBLE) / (c.c_norm * s.norm)) AS max_cos
  FROM state{p} s CROSS JOIN c{t} c WHERE s.vec_id <> c.c_id
)"""
    picks_union = "\nUNION ALL\n".join(
        [f"SELECT 1 AS step, {KCENTER_SEED} AS vec_id, 0.0e0 AS max_cos"]
        + [
            f"SELECT {t}, vec_id, max_cos FROM pick{t}"
            for t in range(2, k + 1)
        ]
    )
    sql += f"\n{picks_union}"
    return sql


QUERIES = {
    "mmr_rerank_topk": (mmr_rerank_topk, mmr_oracle_sql()),
    "kcenter_diverse_sample": (kcenter_diverse_sample, kcenter_oracle_sql()),
}
