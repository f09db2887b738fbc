"""Hybrid retrieval: reciprocal-rank fusion of BM25 and embedding
cosine rankings.

The standard production shape for training-data curation and RAG
corpus search (Cormack/Clarke/Buettcher 2009): run a lexical ranker
and a vector ranker INDEPENDENTLY, keep each one's top-C candidate
list (model-sized — never the full corpus), and fuse by
RRF(d) = sum_r 1 / (K + rank_r(d)) over the lists d appears in.
Rank positions are integers and 1/(K+rank) is a single binary64
division, so the fused scores are bit-identical across engines — no
float-accumulation caveats despite fusing two float rankings (only
the RANKS cross the fusion boundary, and both component orderings are
already hash-checked rows: bm25_topk, cosine_topk).

Scale story: each signal ends in a TakeOrderedAndProject top-C (no
global sort, no all-corpus window); the fusion is a full-outer join of
two <=C-row frames — driver-trivial at any corpus size.  The vector
signal here is brute-force over the doc-joined corpus (the checked
baseline); at 100 TB the same fusion consumes the IVF/IVF-PQ top-C
(`ann_ivf_pq_topk`) unchanged, because RRF only reads ranks.

No reference parity: the reference (addresses.js) has no retrieval
surface; this row extends the LLM-data-pipeline family
(SURVEY.md §2 extensions) alongside bm25_topk / cosine_topk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import window as W

from etl_addresses_spark.operators.llmtext import BM25_SCORED_CTES, bm25_scored
from etl_addresses_spark.operators.similarity import (
    _duckdb_dot,
    _norm_col,
    _pair_dot_seq,
)
from etl_addresses_spark.sources.tables import load_table

RRF_K = 60          # the canonical RRF constant
RRF_CAND = 100      # per-signal candidate-list length
RRF_TOPK = 20
RRF_QUERY_VEC = 0   # the corpus doc whose embedding is the vector query


def _ranked_top(scored: DataFrame, score_col: str, rank_col: str) -> DataFrame:
    """(doc_id, rank) for the top-RRF_CAND of a scored frame.  limit()
    FIRST (TakeOrderedAndProject — no global sort), then a row_number
    over the model-sized survivor set; both order by the identical
    (score DESC, doc_id ASC) total order, so rank is deterministic."""
    top = scored.orderBy(F.desc(score_col), F.asc("doc_id")).limit(RRF_CAND)
    w = W.Window.orderBy(F.desc(score_col), F.asc("doc_id"))
    return top.select(
        "doc_id", F.row_number().over(w).cast("long").alias(rank_col)
    )


def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RRF_TOPK} documents by RRF over (a) BM25 for the fixed text
    query and (b) cosine against doc {RRF_QUERY_VEC}'s embedding, each
    truncated to its top-{RRF_CAND}.  A doc on only one list gets only
    that list's term (the other contributes 0) — the standard RRF
    missing-rank rule.  Output: doc_id, both (nullable) ranks, rrf."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    bm25_top = _ranked_top(bm25_scored(d), "bm25", "bm25_rank")

    # vector signal over the doc-joined corpus (doc_id == vec_id — the
    # docs_with_embeddings contract), scored against one query vector
    emb = e.join(
        d.select("doc_id"), e.vec_id == F.col("doc_id"), "inner"
    ).select("doc_id", "embedding", _norm_col(F.col("embedding")).alias("norm"))
    q = emb.filter(F.col("doc_id") == RRF_QUERY_VEC).select(
        F.col("embedding").alias("q_emb"), F.col("norm").alias("q_norm")
    )
    cos_scored = emb.crossJoin(F.broadcast(q)).select(
        "doc_id",
        (
            _pair_dot_seq(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_norm") * F.col("norm"))
        ).alias("cosine"),
    )
    cos_top = _ranked_top(cos_scored, "cosine", "cos_rank")

    def rrf_term(rank: F.Column) -> F.Column:
        return F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K) + rank), F.lit(0.0)
        )

    fused = bm25_top.join(cos_top, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "cos_rank",
        (rrf_term(F.col("bm25_rank")) + rrf_term(F.col("cos_rank"))).alias(
            "rrf"
        ),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOPK)


RRF_HYBRID_SQL = f"""
WITH {BM25_SCORED_CTES},
bm25_top AS (
  SELECT doc_id, CAST(row_number() OVER (
      ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS bm25_rank
  FROM (SELECT * FROM bm25_scored ORDER BY bm25 DESC, doc_id ASC
        LIMIT {RRF_CAND})
),
emb AS (
  SELECT d.doc_id, e.embedding,
    sqrt(CAST({_duckdb_dot('e.embedding', 'e.embedding')} AS DOUBLE)) AS norm
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
q AS (
  SELECT embedding AS q_emb, norm AS q_norm
  FROM emb WHERE doc_id = {RRF_QUERY_VEC}
),
cos_scored AS (
  SELECT emb.doc_id,
    CAST({_duckdb_dot('q.q_emb', 'emb.embedding')} AS DOUBLE)
      / (q.q_norm * emb.norm) AS cosine
  FROM emb CROSS JOIN q
),
cos_top AS (
  SELECT doc_id, CAST(row_number() OVER (
      ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS cos_rank
  FROM (SELECT * FROM cos_scored ORDER BY cosine DESC, doc_id ASC
        LIMIT {RRF_CAND})
)
SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
  b.bm25_rank AS bm25_rank,
  c.cos_rank AS cos_rank,
  (coalesce(1.0e0 / ({RRF_K} + b.bm25_rank), 0.0e0)
   + coalesce(1.0e0 / ({RRF_K} + c.cos_rank), 0.0e0)) AS rrf
FROM bm25_top b FULL OUTER JOIN cos_top c ON b.doc_id = c.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {RRF_TOPK}
"""

def rrf_hybrid_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION composition of `rrf_hybrid_topk` (r11 verdict
    item 3): same BM25 signal, same RRF fusion, but the vector signal
    comes from the IVF-PQ index tier — the query probes its nprobe=2
    nearest coarse lists and ADC-scores ONLY the candidate codes in
    them — instead of the brute-force corpus scan.  RRF reads only
    RANKS, so the fusion is tier-agnostic; what changes is the vector
    candidate generator's cost envelope: brute-force is corpus-linear
    per query, the index tier touches ~2n/k byte-coded candidates
    (k ~ sqrt(n) since r12, so candidate mass ~ sqrt(n)).

    The index is built over the full embeddings table (exactly the
    `ann_ivf_pq_topk` machinery — same coarse quantizer, codebook,
    LUT construction); the fused row then restricts candidates to
    documents, mirroring the brute twin's doc-join.  The query doc
    itself stays in the candidate list (rank 1 in the brute twin;
    here its ADC self-score is approximate but still top) — same
    missing-rank RRF rule.  Everything is bit-reproducible, so the
    doubly-approximate composite is fully oracle-checked: the DuckDB
    twin reuses the kmeans CTE unroll + PQ_SQL_CTES + BM25 CTEs
    verbatim.  Output: doc_id, (nullable) bm25_rank / vec_rank, rrf.
    """
    from etl_addresses_spark.operators.clustering import (
        _assign,
        _sqdist,
        kmeans_fit,
    )
    from etl_addresses_spark.operators.similarity import (
        pq_adc_expr,
        pq_codebook,
        pq_encode,
        pq_query_luts,
    )
    from etl_addresses_spark.sources.tables import fan_out

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    bm25_top = _ranked_top(bm25_scored(d), "bm25", "bm25_rank")

    from etl_addresses_spark.functions.sizing import use_unrolled_kernel

    n = e.count()
    cents, _ = kmeans_fit(e, n=n)
    vecs = fan_out(e.select("vec_id", "embedding"), spark)
    lists = _assign(
        vecs, cents, attach_embedding=False,
        dense_kernel=use_unrolled_kernel(n),
    ).select("vec_id", F.col("cluster_id").alias("list_id"))
    pq_cents = pq_codebook(e)
    codes = pq_encode(e, pq_cents, n_hint=n)
    # RRF_QUERY_VEC = 0 satisfies the % QUERY_MOD query rule, so the
    # shared LUT builder applies — restricted to the ONE query BEFORE
    # the M x codewords LUT construction (r12 advice: a post-build
    # filter would still build n/QUERY_MOD discarded LUT rows at scale)
    luts = pq_query_luts(
        e, pq_cents, query_pred=F.col("vec_id") == RRF_QUERY_VEC
    )
    # nprobe=2 nearest coarse lists for the one query: k scored rows,
    # TakeOrdered(2) — model-sized end to end
    probes = (
        vecs.filter(F.col("vec_id") == RRF_QUERY_VEC)
        .select(F.col("embedding").alias("q_emb"))
        .crossJoin(F.broadcast(cents))
        .select(
            F.col("cent_id").alias("list_id"),
            _sqdist(F.col("q_emb"), F.col("cent_emb")).alias("d2"),
        )
        .orderBy(F.asc("d2"), F.asc("list_id"))
        .limit(2)
        .select("list_id")
    )
    probe_luts = probes.crossJoin(F.broadcast(luts))  # 2 rows + LUT
    cand = (
        fan_out(codes.join(lists, "vec_id"), spark)
        .join(F.broadcast(probe_luts), "list_id")
        .join(d.select(F.col("doc_id")), F.col("vec_id") == F.col("doc_id"))
    )
    vec_scored = cand.select(
        "doc_id",
        (
            pq_adc_expr() / (F.col("q_norm") * F.sqrt(F.col("recon_norm2")))
        ).alias("pq_cosine"),
    )
    vec_top = _ranked_top(vec_scored, "pq_cosine", "vec_rank")

    def rrf_term(rank: F.Column) -> F.Column:
        return F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + rank), F.lit(0.0))

    fused = bm25_top.join(vec_top, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "vec_rank",
        (rrf_term(F.col("bm25_rank")) + rrf_term(F.col("vec_rank"))).alias(
            "rrf"
        ),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOPK)


def rrf_hybrid_ivfpq_oracle_sql() -> str:
    from etl_addresses_spark.operators.clustering import (
        DEFAULT_ITERS,
        _duckdb_sqdist,
        _kmeans_ctes,
    )
    from etl_addresses_spark.operators.similarity import (
        PQ_ADC_SQL,
        PQ_SQL_CTES,
    )

    final = DEFAULT_ITERS + 1
    return (
        _kmeans_ctes()
        + f""",
{PQ_SQL_CTES},
{BM25_SCORED_CTES},
ivf_doc_lists AS MATERIALIZED (
  SELECT vec_id, cluster_id AS list_id FROM a{final}
),
vprobes AS (
  SELECT list_id FROM (
    SELECT c.cent_id AS list_id,
           {_duckdb_sqdist('v.embedding', 'c.cent_emb')} AS d2
    FROM vecs v CROSS JOIN c{DEFAULT_ITERS} c
    WHERE v.vec_id = {RRF_QUERY_VEC})
  ORDER BY d2 ASC, list_id ASC LIMIT 2
),
vscored AS (
  SELECT c.vec_id AS doc_id,
    {PQ_ADC_SQL}
      / (q.q_norm * sqrt(c.recon_norm2)) AS pq_cosine
  FROM codes c
  JOIN ivf_doc_lists l ON l.vec_id = c.vec_id
  JOIN vprobes p ON p.list_id = l.list_id
  JOIN luts q ON q.query_id = {RRF_QUERY_VEC}
  JOIN documents d ON d.doc_id = c.vec_id
),
vec_top AS (
  SELECT doc_id, CAST(row_number() OVER (
      ORDER BY pq_cosine DESC, doc_id ASC) AS BIGINT) AS vec_rank
  FROM (SELECT * FROM vscored ORDER BY pq_cosine DESC, doc_id ASC
        LIMIT {RRF_CAND})
),
bm25_top AS (
  SELECT doc_id, CAST(row_number() OVER (
      ORDER BY bm25 DESC, doc_id ASC) AS BIGINT) AS bm25_rank
  FROM (SELECT * FROM bm25_scored ORDER BY bm25 DESC, doc_id ASC
        LIMIT {RRF_CAND})
)
SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
  b.bm25_rank AS bm25_rank,
  v.vec_rank AS vec_rank,
  (coalesce(1.0e0 / ({RRF_K} + b.bm25_rank), 0.0e0)
   + coalesce(1.0e0 / ({RRF_K} + v.vec_rank), 0.0e0)) AS rrf
FROM bm25_top b FULL OUTER JOIN vec_top v ON b.doc_id = v.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {RRF_TOPK}
"""
    )


def _ndcg_constants() -> tuple[list[float], float]:
    """Position discounts 1/log2(r+1) for r = 1..TOPK_K and the ideal
    DCG, both computed ONCE in Python and inlined as literals into the
    Spark plan AND the oracle SQL — log2 is a libm call whose last ulp
    is not guaranteed identical across engines, so neither engine
    computes it; they consume the identical double constants (repr
    round-trips shortest-exact).  IDCG folds left-to-right like every
    other sum here."""
    import math

    from etl_addresses_spark.operators.similarity import TOPK_K

    discounts = [1.0 / math.log2(r + 1) for r in range(1, TOPK_K + 1)]
    idcg = 0.0
    for r, disc in enumerate(discounts, start=1):
        idcg = idcg + (TOPK_K + 1 - r) * disc
    return discounts, idcg


def ndcg_eval_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of the IVF-PQ ranking against the exact cosine ranking —
    the position-weighted companion to `ann_ivf_pq_recall` (recall@k
    treats rank 1 and rank 10 alike; NDCG prices WHERE the index puts
    the true neighbors).  Graded relevance of a system candidate is
    the standard inverted exact rank (k+1-rank, 0 if outside the exact
    top-k); DCG folds rel_r * discount_r in system-rank order via the
    canonical sort_array(collect_list) sequence, so the per-query sum
    is shuffle-order-independent and bit-portable.

    Scale story: composes two already-checked pipelines (the
    ann_recall_eval pattern) — one n-row semi-side join on
    (query_id, cand_id), then a k-row-per-query fold; everything past
    the two top-k inputs is model-sized.  The eval query set is
    regime-gated (similarity.EVAL_QUERY_BUDGET, r12 verdict item 2):
    the exact baseline is corpus-linear per query, so past the
    threshold BOTH sides grade the same fixed-size Knuth query sample
    — non-binding at every committed fixture, O(n) eval past it."""
    from etl_addresses_spark.operators.clustering import ann_ivf_pq_topk
    from etl_addresses_spark.operators.similarity import (
        TOPK_K,
        cosine_topk_fast_for,
        eval_query_sample_thresh,
    )

    discounts, idcg = _ndcg_constants()
    e = load_table(spark, sf_dir, "embeddings")
    thresh = eval_query_sample_thresh(e.count())
    # both top-k frames are model-sized (|queries| x k); checkpointing
    # them keeps the expensive pipelines out of the join's broadcast
    # subtree (the recall_vs_exact lesson — a post-window frame has no
    # stats, so either giant subtree could be picked as the build side
    # and re-executed as a broadcast job).  Only past the eval gate:
    # under it both pipelines are sub-second and the eager barriers
    # cost more than they save (the recall_vs_exact bench trade).
    exact = cosine_topk_fast_for(e, eval_thresh=thresh).select(
        "query_id", F.col("rank").alias("erank"), "cand_id"
    )
    system = ann_ivf_pq_topk(spark, sf_dir, eval_thresh=thresh).select(
        "query_id", F.col("rank").alias("srank"), "cand_id"
    )
    if thresh is not None:
        exact = exact.localCheckpoint(eager=True)
        system = system.localCheckpoint(eager=True)
    disc_arr = F.array(*[F.lit(d) for d in discounts])
    rel = system.join(exact, ["query_id", "cand_id"], "left").select(
        "query_id",
        "srank",
        (
            F.coalesce(F.lit(TOPK_K + 1) - F.col("erank"), F.lit(0))
            .cast("double")
            * F.element_at(disc_arr, F.col("srank").cast("int"))
        ).alias("term"),
    )
    dcg = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("srank", "term"))),
            lambda s: s.getField("term"),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        rel.groupBy("query_id")
        .agg(dcg.alias("dcg"))
        .select(
            "query_id", "dcg", (F.col("dcg") / F.lit(idcg)).alias("ndcg")
        )
    )


def ndcg_eval_ivfpq_oracle_sql() -> str:
    from etl_addresses_spark.operators.clustering import (
        ann_ivf_pq_oracle_sql,
    )
    from etl_addresses_spark.operators.similarity import (
        COSINE_TOPK_SAMPLED_SQL,
        TOPK_K,
    )

    discounts, idcg = _ndcg_constants()

    def dbl(v: float) -> str:
        # bare decimals parse as DECIMAL in DuckDB and re-round on the
        # cast to DOUBLE (last-ulp drift, caught by the STRICT census);
        # the e0 exponent form parses directly as the identical double
        r = repr(v)
        return r if "e" in r else r + "e0"

    disc_sql = "[" + ", ".join(dbl(d) for d in discounts) + "]"
    # both sides sampled (eval regime gate — see ndcg_eval_ivfpq);
    # dcg folds once in its own CTE, ndcg derives from it (r12 advice:
    # the duplicated list_reduce could be evaluated twice per query)
    return f"""
WITH exact_tk AS ({COSINE_TOPK_SAMPLED_SQL}),
sys_tk AS ({ann_ivf_pq_oracle_sql(eval_sampled=True)}),
rel AS (
  SELECT s.query_id, s.rank AS srank,
         CAST(coalesce({TOPK_K + 1} - e.rank, 0) AS DOUBLE)
           * ({disc_sql}::DOUBLE[])[s.rank] AS term
  FROM sys_tk s LEFT JOIN exact_tk e
    ON e.query_id = s.query_id AND e.cand_id = s.cand_id
),
dcgs AS (
  SELECT query_id,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(term ORDER BY srank)),
                (x, y) -> x + y) AS dcg
  FROM rel GROUP BY query_id
)
SELECT query_id, dcg, dcg / {dbl(idcg)} AS ndcg
FROM dcgs
"""


QUERIES = {
    "rrf_hybrid_topk": (rrf_hybrid_topk, RRF_HYBRID_SQL),
    "rrf_hybrid_topk_ivfpq": (
        rrf_hybrid_topk_ivfpq,
        rrf_hybrid_ivfpq_oracle_sql(),
    ),
    # round 12: position-weighted ranking quality of the IVF-PQ tier
    "ndcg_eval_ivfpq": (ndcg_eval_ivfpq, ndcg_eval_ivfpq_oracle_sql()),
}
