"""Embedding similarity search over array<float> columns.

Four tiers:

* `cosine_topk`        — brute-force exact top-k for a deterministic
                         query subset.  Dot products and squared norms
                         are sequential double folds over pairwise
                         products, mirrored bit-for-bit by DuckDB's
                         list_reduce -> fully oracle-checked.
* `cosine_topk_fast`   — same result via JVM higher-order functions
                         (zip_with + aggregate in pure double): the
                         throughput path; no explode, no extra shuffle.
* `embedding_near_dup` — blocked near-duplicate pairs (cosine >= 0.3)
                         — blocking (here: label equality on a sampled
                         subset) is the standard scale pattern: pairs
                         only materialize inside blocks.
* `ann_ivf_topk`       — IVF-style approximate search: deterministic
                         pseudo-centroids, vectors assigned to nearest
                         centroid, queries probe the 2 nearest
                         centroid lists.  The 100 TB path: candidate
                         set per query is a small fraction of the
                         corpus.  Approximate -> rows-only check;
                         recall vs exact top-k asserted in pytest.

At scale the broadcast side is always the small query/centroid set and
the corpus side streams; no all-pairs shuffle exists in any tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, Window as W

from etl_addresses_spark.functions.hashing import knuth_order_col, knuth_order_sql
from etl_addresses_spark.functions.sizing import use_unrolled_kernel
from etl_addresses_spark.functions.vectors import (
    _duckdb_dot,
    _duckdb_sqdist,
    _norm_col,
    _pair_dot_seq,
    _sqdist,
    _sqdist_unrolled,
)
from etl_addresses_spark.sources.tables import fan_out, load_table

TOPK_K = 10
QUERY_MOD = 50  # queries = vec_id % 50 == 0
NEAR_DUP_MOD = 5  # near-dup universe = vec_id % 5 == 0
NEAR_DUP_THRESHOLD = 0.3


# Embedding dimensionality of the driver's embeddings tables
# (list<float>[64] at every SF) — kept as documentation; the fold
# below is dim-agnostic.
EMB_DIM = 64

# --- eval query-sample regime gate (r13) -----------------------------------
#
# The EVALUATION rows (recall@k, NDCG@k) score an exact-cosine
# baseline over the standard query set (vec_id % QUERY_MOD == 0),
# which grows ∝ corpus — so the eval class was corpus-QUADRATIC by
# construction (r12 verdict item 2: ndcg 30x wall 24.9x, recall
# 9.1-16.8x).  A production index build does not need its promotion
# gate to score every 50th vector: it scores a FIXED query sample.
# This gate is the repo's standard bit-identical-tier pattern (BM25
# dispatcher, kernel regime gate, Lloyd training subsample): past
# EVAL_QUERY_BUDGET * QUERY_MOD corpus rows, the eval query set is
# capped at ~EVAL_QUERY_BUDGET queries via the same exact-int64 Knuth
# hash THRESHOLD the training subsample uses — a pushed-down scan
# predicate, never a collect/sort/rank — and the oracle mirrors the
# derivation from its own count, so the two engines can never
# desynchronize on the sampled set.  Every committed fixture sits
# under the threshold (sf0.01 n=500 -> 10 queries, sf0.1 n=2000 ->
# 40), so committed hashes are unchanged; the gate first binds on the
# 30x replica (n=60000: ~128 of 1200 queries), where it removes the
# quadratic term — eval cost becomes O(n) like the index it grades.
# PRODUCT top-k rows (cosine_topk, ann_*_topk) are NOT sampled: their
# contract is "answer the standard query set", and the eval rows pass
# the threshold explicitly.
EVAL_QUERY_BUDGET = 128


def eval_query_sample_thresh(n: int) -> int | None:
    """Exact-int64 Knuth threshold capping the eval query sample at
    ~EVAL_QUERY_BUDGET queries for an n-row corpus; None (full query
    set) when n <= EVAL_QUERY_BUDGET * QUERY_MOD — every committed
    fixture.  (EVAL_QUERY_BUDGET * QUERY_MOD) << 32 ~= 2.7e13, exact
    in int64."""
    if n <= EVAL_QUERY_BUDGET * QUERY_MOD:
        return None
    return (EVAL_QUERY_BUDGET * QUERY_MOD << 32) // n


def eval_query_pred(thresh: int | None) -> F.Column:
    """Query-set predicate for an eval row: the standard % QUERY_MOD
    rule, intersected with the Knuth sample threshold when it binds."""
    base = F.col("vec_id") % QUERY_MOD == 0
    if thresh is None:
        return base
    return base & (knuth_order_col("vec_id") < F.lit(thresh))


def eval_query_pred_sql(id_expr: str, n_sql: str) -> str:
    """DuckDB twin of eval_query_pred, deriving the threshold from the
    oracle's own corpus count (`n_sql`, a scalar subquery) with the
    identical integer arithmetic — the kmeans training-CTE pattern."""
    lim = EVAL_QUERY_BUDGET * QUERY_MOD
    return (
        f"{id_expr} % {QUERY_MOD} = 0 AND (({n_sql}) <= {lim} OR "
        f"{knuth_order_sql(id_expr)} < ({lim} * 4294967296) // ({n_sql}))"
    )


def _norms(e: DataFrame) -> DataFrame:
    return e.select("vec_id", _norm_col(F.col("embedding")).alias("norm"))


def _rank_topk(
    scored: DataFrame, score_col: str = "cosine", k: int = TOPK_K
) -> DataFrame:
    """Shared top-k finisher: row_number over (score desc, cand_id asc)
    — the tie-break every variant must share or they silently diverge.
    `k` widens the cut for two-stage consumers (the refine rerank keeps
    k_factor x TOPK_K quantized candidates before exact re-scoring)."""
    w = W.partitionBy("query_id").orderBy(F.desc(score_col), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", score_col)
    )


def rank_topk_sql(
    src: str,
    score: str = "cosine",
    k: int = TOPK_K,
    cols: str | None = None,
    part: str = "query_id",
    keep: str | None = None,
) -> str:
    """DuckDB twin of `_rank_topk`: row_number per `part` over (score
    DESC, cand_id ASC), cut at rank <= k.  `src` is the scored
    relation (a CTE name, optionally with a WHERE); `cols` and `keep`
    replace the projection and the cut for consumers that reshape the
    ranked rows (the contrastive miner's per-role cuts)."""
    cols = cols or f"query_id, rank, cand_id, {score}"
    keep = keep or f"rank <= {k}"
    return f"""SELECT {cols} FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {part} ORDER BY {score} DESC, cand_id ASC) AS rank
  FROM {src})
WHERE {keep}"""


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for query vectors
    (vec_id % 50 == 0), bit-reproducible sequential-fold scoring."""
    e = load_table(spark, sf_dir, "embeddings")
    norms = _norms(e)
    # fan_out AFTER the norms join (r9 review): below the join, the
    # kernel's width would be the JOIN output's partitioning — fine
    # while norms auto-broadcasts, but an SMJ regime would re-coalesce
    # the bytes-small output to 1-2 partitions and re-serialize the
    # |queries| x d scoring (batch7: 3.8 s at sf0.1 was 1-2 splits)
    corpus = fan_out(
        e.join(norms, "vec_id").select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("cand_emb"),
            F.col("norm").alias("cand_norm"),
        ),
        spark,
    )
    queries = (
        e.join(norms, "vec_id")
        .filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
        )
    )
    pairs = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("cand_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        (
            _pair_dot_seq(F.col("q_emb"), F.col("cand_emb"))
            / (F.col("q_norm") * F.col("cand_norm"))
        ).alias("cosine"),
    )
    return _rank_topk(scored)


def cosine_topk_sql(query_pred: str | None = None) -> str:
    """Oracle for the exact cosine top-k; `query_pred` overrides the
    standard query-set rule (the eval rows pass the sampled predicate
    from eval_query_pred_sql, deriving the threshold from the en CTE's
    corpus count)."""
    if query_pred is None:
        query_pred = f"vec_id % {QUERY_MOD} = 0"
    return f"""
WITH en AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
norms AS (
  SELECT vec_id, sqrt(CAST({_duckdb_dot('embedding', 'embedding')} AS DOUBLE)) AS norm,
         embedding
  FROM embeddings
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, norm AS q_norm
  FROM norms WHERE {query_pred}
),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
    CAST({_duckdb_dot('q.q_emb', 'c.embedding')} AS DOUBLE) / (q.q_norm * c.norm) AS cosine
  FROM norms c CROSS JOIN queries q
  WHERE c.vec_id <> q.query_id
)
{rank_topk_sql('scored')}
"""


COSINE_TOPK_SQL = cosine_topk_sql()

# The eval rows' sampled twin: identical plan, query set capped by the
# regime gate (non-binding at every committed fixture, so this renders
# the same VALUES as COSINE_TOPK_SQL there).
COSINE_TOPK_SAMPLED_SQL = cosine_topk_sql(
    eval_query_pred_sql("vec_id", "SELECT n FROM en")
)


def cosine_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk_fast_for(load_table(spark, sf_dir, "embeddings"))


def cosine_topk_fast_for(
    e: DataFrame, eval_thresh: int | None = None
) -> DataFrame:
    """Throughput variant: same sequential-fold scoring but with norms
    computed inline per side (no norm join) — one narrow projection per
    side plus the broadcast, nothing else.  The corpus side is
    fan_out-repartitioned: each corpus row pays |queries| x d multiplies
    against the broadcast, so scan-split parallelism must not bound the
    kernel (tables.fan_out; measured single-split serialization at the
    10x scale run).  `eval_thresh` (eval rows only) caps the query set
    via the Knuth sample predicate — see the regime gate above."""
    corpus = fan_out(e, e.sparkSession).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cand_emb"),
        _norm_col(F.col("embedding")).alias("cand_norm"),
    )
    queries = (
        e.filter(eval_query_pred(eval_thresh))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm_col(F.col("embedding")).alias("q_norm"),
        )
    )
    pairs = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("cand_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        (
            _pair_dot_seq(F.col("q_emb"), F.col("cand_emb"))
            / (F.col("q_norm") * F.col("cand_norm"))
        ).alias("cosine"),
    )
    return _rank_topk(scored)


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked near-duplicate detection: within (sampled, label-equal)
    blocks, emit pairs with cosine >= 0.3.  Demonstrates the
    embedding-cosine near-dup pattern with block-local pair
    generation."""
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % NEAR_DUP_MOD == 0
    )
    norms = _norms(e)
    side = e.join(norms, "vec_id").select("vec_id", "label", "embedding", "norm")
    a = side.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("label_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = side.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    pairs = a.join(
        b, (F.col("label_a") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b"))
    )
    scored = pairs.select(
        "vec_a",
        "vec_b",
        F.col("label_a").alias("label"),
        (
            _pair_dot_seq(F.col("emb_a"), F.col("emb_b"))
            / (F.col("norm_a") * F.col("norm_b"))
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= NEAR_DUP_THRESHOLD)


EMBEDDING_NEAR_DUP_SQL = f"""
WITH sub AS (
  SELECT vec_id, label, embedding,
    sqrt(CAST({_duckdb_dot('embedding', 'embedding')} AS DOUBLE)) AS norm
  FROM embeddings WHERE vec_id % {NEAR_DUP_MOD} = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
  CAST({_duckdb_dot('a.embedding', 'b.embedding')} AS DOUBLE) / (a.norm * b.norm) AS cosine
FROM sub a JOIN sub b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE CAST({_duckdb_dot('a.embedding', 'b.embedding')} AS DOUBLE) / (a.norm * b.norm)
      >= {NEAR_DUP_THRESHOLD}
"""


# --- signed-random-projection LSH (cosine LSH) ---------------------------

SRP_BITS = 16
SRP_BAND_BITS = 4
SRP_BANDS = SRP_BITS // SRP_BAND_BITS

# Auto-banding budget (r9 verdict item 5, the fuzzy-dispatcher
# precedent): expected RANDOM band collisions per vector ≈
# bands · n / 2^bits / 2, so a fixed band width makes candidate mass
# quadratic in n (measured 177x wall at 10x on 4-bit bands).  The rule
# below picks the narrowest width whose expected random candidates
# stay under this per-vector budget; 4096 is chosen so every
# registered fixture (n = 200 / 2k / 20k at sf0.001/0.01/0.1) stays in
# the historical 4-bit regime — committed hashes unchanged — while the
# 10x replica (200k) auto-widens to 8-bit and ~1M+ corpora to 16-bit.
SRP_AUTO_BUDGET_PER_VEC = 4096


def srp_band_bits_for(n: int) -> int:
    """Corpus-size-derived band width: the narrowest divisor of
    SRP_BITS whose expected random candidate mass (bands · n²/2^bits/2
    pairs) is ≤ SRP_AUTO_BUDGET_PER_VEC · n.  Monotone in n; falls
    back to one full-width band when even 16 bits cannot bound the
    budget (recall at the row's permissive threshold then drops, which
    is the stated tradeoff — corpus-scale near-dup routes to the
    blocked/clustered/ANN paths)."""
    for bits in (4, 8, 16):
        bands = SRP_BITS // bits
        if bands * n * n / (2**bits) / 2 <= SRP_AUTO_BUDGET_PER_VEC * n:
            return bits
    return SRP_BITS


def _srp_signs() -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix (SRP_BITS x EMB_DIM), derived
    from md5 so the exact same literals embed in the Spark plan and the
    DuckDB oracle.  A ±1 (Rademacher) projection preserves cosine LSH
    guarantees like a Gaussian one (sign-random-projection, Charikar
    2002) and keeps every product exactly representable."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"srp:{b}:{i}".encode()).hexdigest()[:15], 16) % 2
            else -1.0
            for i in range(EMB_DIM)
        ]
        for b in range(SRP_BITS)
    ]


def embedding_srp_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via signed-random-projection (cosine) LSH —
    the UNblocked complement to `embedding_near_dup`'s label blocking:
    16 sign bits per vector (dot with fixed ±1 hyperplanes), banded
    4x4; vectors sharing any exact 4-bit band become candidates
    (band-local self-join — never all-pairs), then candidates are
    verified with the exact sequential-fold cosine >= 0.3.  Precision
    is exact (verification); banding bounds recall, like MinHash-LSH.

    At 100 TB: 16 fused projection expressions per row map-side, the
    band explode is 4x, and the self-join shuffles on (band_idx,
    band_bits) — skewed hot buckets split by AQE.  Fully oracle-checked
    (the ±1 literals embed in both engines' plans).

    AUTO-BANDED since round 10 (r9 verdict item 5, the
    fuzzy-dispatcher precedent): band WIDTH is derived from the corpus
    count by `srp_band_bits_for` — one model-sized count() job picks
    the plan, exactly like `_fuzzy_gate_stats` picks the fuzzy tier.
    At a fixed {SRP_BAND_BITS}=4 bits a random pair collides with
    prob 1/16 per band, so candidate volume is ~n^2/8 REGARDLESS of
    data — quadratic by construction (measured 177x wall at 10x,
    r9_scale_sf1_batch6.json; the verify pass, not the join, is the
    cost).  The rule keeps every registered fixture (n ≤ 20k) in the
    historical 4-bit regime — committed hashes unchanged, and the
    static DuckDB oracle stays the 4-bit mirror — while a 200k corpus
    auto-widens to 8-bit and ~1M+ to 16-bit, bounding expected random
    candidates at {SRP_AUTO_BUDGET_PER_VEC}·n.  Wider bands trade
    recall at this row's permissive verify threshold (cosine ≥ 0.3:
    4-bit ~0.42 recall, 16-bit ~1e-3), which is the stated banded-LSH
    tradeoff — production near-dup mining runs at cosine ≥ 0.9 where
    wide bands keep recall, and the engine's corpus-scale near-dup
    paths are `embedding_near_dup` (blocked), `semantic_dedup`
    (clustered), and the ANN stack."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    band_bits = srp_band_bits_for(e.count())
    return embedding_srp_lsh_pairs_for(e, band_bits)


def embedding_srp_lsh_pairs_for(
    e: DataFrame, band_bits: int = SRP_BAND_BITS
) -> DataFrame:
    n_bands = SRP_BITS // band_bits
    norm = F.sqrt(_pair_dot_seq(F.col("embedding"), F.col("embedding")))
    signs = _srp_signs()
    bit_cols = []
    for row in signs:
        arr = F.array(*[F.lit(v) for v in row])
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"), arr, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit_cols.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.concat(
                    *bit_cols[j * band_bits : (j + 1) * band_bits]
                ).alias("band"),
            )
            for j in range(n_bands)
        ]
    )
    banded = e.select(
        "vec_id", "embedding", norm.alias("norm"), F.explode(bands).alias("bb")
    ).select("vec_id", "embedding", "norm", "bb.band_idx", "bb.band")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("emb_a"),
            F.col("b.embedding").alias("emb_b"),
            F.col("a.norm").alias("norm_a"),
            F.col("b.norm").alias("norm_b"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    scored = cand.select(
        "vec_a",
        "vec_b",
        (
            _pair_dot_seq(F.col("emb_a"), F.col("emb_b"))
            / (F.col("norm_a") * F.col("norm_b"))
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= NEAR_DUP_THRESHOLD)


def _srp_sign_sql(row: list[float]) -> str:
    return "[" + ", ".join(f"{v:.1f}e0" for v in row) + "]"


def embedding_srp_lsh_sql() -> str:
    signs = _srp_signs()
    bit_exprs = []
    for row in signs:
        arr = _srp_sign_sql(row)
        dot = (
            f"list_reduce(list_transform(generate_series(1, len(embedding)), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({arr})[i]), "
            f"(x, y) -> x + y)"
        )
        bit_exprs.append(f"CASE WHEN ({dot}) > 0 THEN '1' ELSE '0' END")
    bit_cols = ",\n    ".join(
        f"{e} AS bit{i}" for i, e in enumerate(bit_exprs)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, embedding, norm, {j} AS band_idx, "
        + " || ".join(
            f"bit{j * SRP_BAND_BITS + k}" for k in range(SRP_BAND_BITS)
        )
        + " AS band FROM bits"
        for j in range(SRP_BANDS)
    )
    return f"""
WITH bits AS MATERIALIZED (
  SELECT vec_id, embedding,
    sqrt(CAST({_duckdb_dot('embedding', 'embedding')} AS DOUBLE)) AS norm,
    {bit_cols}
  FROM embeddings
),
banded AS MATERIALIZED ({band_rows}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.embedding AS emb_a, b.embedding AS emb_b,
         a.norm AS norm_a, b.norm AS norm_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band = b.band
               AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
  CAST({_duckdb_dot('emb_a', 'emb_b')} AS DOUBLE) / (norm_a * norm_b) AS cosine
FROM cand
WHERE CAST({_duckdb_dot('emb_a', 'emb_b')} AS DOUBLE) / (norm_a * norm_b)
      >= {NEAR_DUP_THRESHOLD}
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_ivf_topk_for(load_table(spark, sf_dir, "embeddings"))


def ann_ivf_topk_for(
    e: DataFrame, centroid_mod: int = 100, eval_thresh: int | None = None
) -> DataFrame:
    """IVF-style ANN: vectors with vec_id % 100 == 0 serve as
    deterministic pseudo-centroids; every vector is assigned to its
    nearest centroid (broadcast centroid list), and each query probes
    the nprobe=2 nearest centroid lists only.  Rows-only check
    (approximate by construction); recall asserted in pytest.

    Scale note: mod-derived centroids keep this row deterministic but
    make k grow like N/100, so the assignment pass costs N*k*d =
    N^2*d/100 — at production scale set k ~ c*sqrt(N) (or use the
    fixed-k learned centroids of `ann_ivf_lloyd_topk`, which is the
    true 100 TB path: assignment is then strictly linear in N).  The
    corpus side is fan_out-repartitioned for the same reason as the
    Gram pass: the per-row assignment kernel dwarfs its input bytes."""
    dot = _pair_dot_seq
    norm = _norm_col
    cents = e.filter(F.col("vec_id") % centroid_mod == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_emb"),
        norm(F.col("embedding")).alias("cent_norm"),
    )
    vecs = fan_out(e, e.sparkSession).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("vnorm")
    )
    # assignment: nearest centroid per vector (broadcast centroids)
    assign_scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "vnorm",
        "cent_id",
        (
            dot(F.col("embedding"), F.col("cent_emb"))
            / (F.col("vnorm") * F.col("cent_norm"))
        ).alias("c_cos"),
    )
    wa = W.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("cent_id"))
    assigned = (
        assign_scored.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") == 1)
        .select("vec_id", "embedding", "vnorm", F.col("cent_id").alias("list_id"))
    )
    # queries probe their 2 nearest centroids (eval rows pass a
    # Knuth-sampled query set past the regime gate)
    queries = vecs.filter(eval_query_pred(eval_thresh)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("vnorm").alias("q_norm"),
    )
    probe_scored = queries.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q_emb",
        "q_norm",
        "cent_id",
        (
            dot(F.col("q_emb"), F.col("cent_emb"))
            / (F.col("q_norm") * F.col("cent_norm"))
        ).alias("c_cos"),
    )
    wp = W.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("cent_id"))
    probes = (
        probe_scored.withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") <= 2)
        .select("query_id", "q_emb", "q_norm", F.col("cent_id").alias("list_id"))
    )
    cand = assigned.join(probes, "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        (
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_norm") * F.col("vnorm"))
        ).alias("cosine"),
    )
    return _rank_topk(scored)


# The pseudo-centroid IVF pipeline is deterministic end-to-end: the
# centroid set is a fixed id subset, assignment/probe ranks tie-break on
# cent_id, and every float is a sequential-fold dot that DuckDB's
# list_reduce reproduces bit-for-bit — so even this *approximate* index
# is fully oracle-checkable.
def ann_ivf_topk_sql(query_pred: str | None = None) -> str:
    if query_pred is None:
        query_pred = f"vec_id % {QUERY_MOD} = 0"
    return f"""
WITH en AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
base AS (
  SELECT vec_id, embedding,
    sqrt(CAST({_duckdb_dot('embedding', 'embedding')} AS DOUBLE)) AS vnorm
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, embedding AS cent_emb, vnorm AS cent_norm
  FROM base WHERE vec_id % 100 = 0
),
assign_scored AS (
  SELECT v.vec_id, v.embedding, v.vnorm, c.cent_id,
    CAST({_duckdb_dot('v.embedding', 'c.cent_emb')} AS DOUBLE)
      / (v.vnorm * c.cent_norm) AS c_cos
  FROM base v CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, vnorm, cent_id AS list_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY c_cos DESC, cent_id ASC) AS r
    FROM assign_scored) WHERE r = 1
),
probes AS (
  SELECT query_id, q_emb, q_norm, cent_id AS list_id FROM (
    SELECT vec_id AS query_id, embedding AS q_emb, vnorm AS q_norm, cent_id,
      row_number() OVER (
        PARTITION BY vec_id ORDER BY c_cos DESC, cent_id ASC) AS r
    FROM assign_scored WHERE {query_pred}) WHERE r <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id AS cand_id,
    CAST({_duckdb_dot('p.q_emb', 'a.embedding')} AS DOUBLE)
      / (p.q_norm * a.vnorm) AS cosine
  FROM assigned a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
)
{rank_topk_sql('scored')}
"""


ANN_IVF_TOPK_SQL = ann_ivf_topk_sql()


def sq8_codes(e: DataFrame) -> DataFrame:
    """SQ8 scalar quantization (the FAISS SQ8 storage format): each
    vector scaled per-row to [-127, 127] ints (scale = 127/max|x|),
    plus the integer squared norm.  Returns (vec_id, qe array<long>,
    qnorm2 long) — 4x smaller than float32 storage, and integer dots
    over it are EXACT, so every consumer stays bit-reproducible.
    Zero vectors (max|x| == 0) are unquantizable and dropped — both
    the brute row and the IVF composition apply the same rule."""
    maxabs = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x)))
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(
            x.cast("double") * (F.lit(127.0) / F.col("_maxabs").cast("double"))
        ).cast("long"),
    )
    qv = (
        e.withColumn("_maxabs", maxabs)
        .filter(F.col("_maxabs") > 0)
        .select("vec_id", q.alias("qe"))
    )
    sumsq = F.aggregate(
        F.transform(F.col("qe"), lambda x: x * x), F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return qv.withColumn("qnorm2", sumsq)


def sq8_int_dot(a: F.Column, b: F.Column) -> F.Column:
    """Exact integer dot of two SQ8 code arrays (order-free: integer
    addition is associative, no float caveats)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-k: each vector scaled per-row to
    [-127, 127] ints (scale = 127/max|x|), scored with INTEGER dot
    products.  The 100 TB memory/bandwidth play: 4x smaller vectors,
    SIMD-friendly int math, and — because integer dots are exact — the
    whole approximate pipeline is still bit-reproducible and
    oracle-checked (unlike float-accumulation variants)."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = sq8_codes(e)
    queries = qv.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("qe").alias("q_qe"),
        F.col("qnorm2").alias("q_norm2"),
    )
    # fan_out: the int-dot kernel is |queries| x d per corpus row
    # (r9 batch7: 38x wall at 10x before widening the scan)
    pairs = fan_out(qv, e.sparkSession).crossJoin(
        F.broadcast(queries)
    ).filter(F.col("vec_id") != F.col("query_id"))
    dot = sq8_int_dot(F.col("q_qe"), F.col("qe"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        (
            dot.cast("double")
            / (F.sqrt(F.col("q_norm2").cast("double")) * F.sqrt(F.col("qnorm2").cast("double")))
        ).alias("qcosine"),
    )
    return _rank_topk(scored, "qcosine")


# SQ8 quantization CTE block (DuckDB twin of sq8_codes): shared by the
# brute row (QUANTIZED_TOPK_SQL) and clustering's IVF-SQ8 composition.
# CTE names qv/qn are disjoint from clustering._kmeans_ctes by
# construction.
SQ8_SQL_CTES = """qv AS (
  SELECT vec_id,
    list_transform(embedding,
      x -> CAST(round(CAST(x AS DOUBLE) * (127.0e0 / CAST(list_max(list_transform(embedding, y -> abs(y))) AS DOUBLE))) AS BIGINT)
    ) AS qe
  FROM embeddings
  WHERE list_max(list_transform(embedding, y -> abs(y))) > 0
),
qn AS (
  SELECT vec_id, qe,
    (SELECT sum(qe[i] * qe[i]) FROM UNNEST(generate_series(1, len(qe))) AS u(i)) AS qnorm2
  FROM qv
)"""

# DuckDB twin of sq8_int_dot; the caller substitutes the two int-array
# expressions (e.g. 'q.qe', 'c.qe').
def sq8_int_dot_sql(a: str, b: str) -> str:
    return (
        f"(SELECT sum({a}[i] * {b}[i]) "
        f"FROM UNNEST(generate_series(1, len({b}))) AS u(i))"
    )


QUANTIZED_TOPK_SQL = f"""
WITH {SQ8_SQL_CTES},
queries AS (
  SELECT vec_id AS query_id, qe AS q_qe, qnorm2 AS q_norm2
  FROM qn WHERE vec_id % {QUERY_MOD} = 0
),
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
    CAST((SELECT sum(q.q_qe[i] * c.qe[i]) FROM UNNEST(generate_series(1, len(c.qe))) AS u(i)) AS DOUBLE)
      / (sqrt(CAST(q.q_norm2 AS DOUBLE)) * sqrt(CAST(c.qnorm2 AS DOUBLE))) AS qcosine
  FROM qn c CROSS JOIN queries q
  WHERE c.vec_id <> q.query_id
)
{rank_topk_sql('scored', 'qcosine')}
"""


def docs_with_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: documents to their embedding rows
    (doc_id == vec_id) with text stats + vector norm side by side."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    norms = _norms(e)
    return (
        d.join(e, d.doc_id == e.vec_id)
        .join(norms, "vec_id")
        .select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
            F.col("label"),
            F.col("norm").alias("embedding_norm"),
        )
    )


DOCS_WITH_EMBEDDINGS_SQL = f"""
SELECT d.doc_id,
  len(string_split(d.text, ' ')) AS n_tokens,
  e.label,
  sqrt(CAST({_duckdb_dot('e.embedding', 'e.embedding')} AS DOUBLE)) AS embedding_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
"""


# ---------------------------------------------------------------------------
# Product-quantization (PQ) ANN: the memory-compression tier.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (64-dim embeddings -> 8 dims per subspace)
PQ_SUB = EMB_DIM // PQ_M
# Hard cap on the PQ codebook size (r10 ladder fix): the % centroid_mod
# seed rule makes the per-subspace
# codeword count grow LINEARLY with the corpus, so the encode kernel
# (n x codewords x M sq-l2 folds) grows quadratically — the brute-ADC
# row measured 25.2x wall at 10x pre-r9 and the composed IVF-PQ 4.57x
# at 10x with 12x shuffle (r10_scale_sf1_batch8a.json) with encode as
# the superlinear term.  Real PQ trains a FIXED codebook (FAISS: 2^8
# codewords per subspace); the cap takes the qualifying seeds that
# sort first by the shared Knuth hash (functions/hashing.py) — a
# representative subset of the whole id range.  Every registered
# fixture stays under the cap (20 codewords at sf0.01, 200 at sf0.1),
# so committed hashes are unchanged; the 10x replica's 2000 qualifying
# seeds clamp to 256 and encode cost returns to linear-in-n.
# Unlike the IVF coarse-list count (corpus-derived since r12 —
# clustering.ivf_list_count), this cap intentionally stays FIXED: PQ
# codes are byte codes indexing a 2^8-row LUT, so the codebook size is
# a FORMAT constant (FAISS nbits=8), not a tuning knob; deriving it
# from the corpus would change the code width.
PQ_MAX_CODEWORDS = 256


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. PQ/ADC): each vector is
    stored as 8 small codes — one per 8-dim subspace, the index of its
    nearest codeword — and queries score candidates by looking the
    codes up in a per-query distance table instead of touching the
    original floats.

    This is the 100 TB MEMORY play, complementary to IVF's candidate
    pruning: the corpus compresses from 64 floats (256 B) to 8 codes
    (8 B) per vector, so the scan side streams 32x less data and the
    per-pair math is 8 array lookups instead of a 64-term dot.  The
    codebook is the same deterministic pseudo-centroid subset the IVF
    tier uses (vec_id % 100 == 0), dense-ranked so codes index plain
    arrays.

    Everything is bit-reproducible, so even this doubly-approximate
    index is fully oracle-checked: encode argmin ties break on the
    dense centroid rank, every per-pair sum is a SEQUENTIAL fold over
    m = 1..8 (a plain groupBy sum over the 8 partial rows would be
    partition-order-dependent), and the LUT/code arrays are built
    with sort_array(collect_list(struct(...))) so their element order
    is canonical regardless of shuffle order.  Scoring approximates
    cosine as adc_dot / (|q| * |reconstruction|).

    queries() surface over `embeddings`; recall vs the exact top-k is
    asserted in pytest like the other approximate tiers.
    """
    return ann_pq_topk_for(load_table(spark, sf_dir, "embeddings"))


def _pq_sub_expr() -> F.Column:
    """Split `embedding` into the PQ_M sub-vectors (1-indexed slices)."""
    return F.expr(
        f"transform(sequence(0, {PQ_M - 1}), "
        f"m -> slice(embedding, m * {PQ_SUB} + 1, {PQ_SUB}))"
    )


def pq_codebook(e: DataFrame, centroid_mod: int = 100) -> DataFrame:
    """PQ codebook: dense rank over cent_id -> (m, cidx, codeword)
    rows, M * k of them; broadcast everywhere it is used.  The seed
    set is capped at PQ_MAX_CODEWORDS in Knuth-hash order (see the
    constant above); cidx stays the dense rank by cent_id over the
    capped SET, so fixtures under the cap produce byte-identical
    codebooks to the historical uncapped ones."""
    return (
        e.filter(F.col("vec_id") % centroid_mod == 0)
        .orderBy(knuth_order_col("vec_id").asc(), F.col("vec_id").asc())
        .limit(PQ_MAX_CODEWORDS)
        .select(
            F.col("vec_id").alias("cent_id"),
            _pq_sub_expr().alias("subs"),
        )
        .withColumn(
            "cidx",
            F.row_number()
            .over(W.orderBy(F.asc("cent_id")))
            .cast("long"),
        )
        .select(
            "cidx",
            F.posexplode("subs").alias("m", "cw"),
        )
        .withColumn("cw_norm2", _pair_dot_seq(F.col("cw"), F.col("cw")))
    )


def pq_encode(
    e: DataFrame, cents: DataFrame, n_hint: int | None = None
) -> DataFrame:
    """PQ-encode the corpus: nearest codeword per (vector, subspace);
    min(struct) argmin with the dense rank as tie-break, then
    per-vector sorted reassembly into a codes array + reconstruction
    norm.  Returns (vec_id, codes array<long>, recon_norm2 double).
    Past the sizing.use_unrolled_kernel crossover the sq-l2 kernel
    swaps to the bit-identical unrolled chain (n_hint avoids a second
    count when the caller already has one)."""
    n = n_hint if n_hint is not None else e.count()
    kern = (
        (lambda a, b: _sqdist_unrolled(a, b, PQ_SUB))
        if use_unrolled_kernel(n)
        else _sqdist
    )
    # fan_out: encode is M x k sq-l2 folds per row; the scan is
    # bytes-small (r9 batch7)
    subvecs = fan_out(e, e.sparkSession).select(
        "vec_id", F.posexplode(_pq_sub_expr()).alias("m", "sv")
    )
    best = (
        subvecs.join(F.broadcast(cents), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.min(
                F.struct(
                    kern(F.col("sv"), F.col("cw")).alias("dist"),
                    F.col("cidx").alias("cidx"),
                    F.col("cw_norm2").alias("cw_norm2"),
                )
            ).alias("b")
        )
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("m"), F.col("b.cidx").alias("c")))
            ),
            lambda s: s.getField("c"),
        ).alias("codes"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("m"), F.col("b.cw_norm2").alias("n2"))
                    )
                ),
                lambda s: s.getField("n2"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("recon_norm2"),
    )


def pq_query_luts(
    e: DataFrame, cents: DataFrame, query_pred: F.Column | None = None
) -> DataFrame:
    """Per-query ADC LUT: luts[m][cidx] = dot(q_sub[m],
    codeword[m][cidx]), nested arrays in canonical (m, cidx) order.
    Returns (query_id, q_norm, luts array<array<double>>).
    `query_pred` narrows the query set BEFORE the M x codewords LUT
    build (default: the standard % QUERY_MOD rule) — callers that
    serve one query (rrf_hybrid_topk_ivfpq) or a sampled eval set pass
    their own predicate so unused LUT rows are never constructed."""
    if query_pred is None:
        query_pred = F.col("vec_id") % QUERY_MOD == 0
    queries = e.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(_pq_sub_expr()).alias("m", "qsv"),
        _norm_col(F.col("embedding")).alias("q_norm"),
    )
    lut_m = (
        queries.join(F.broadcast(cents), "m")
        .groupBy("query_id", "q_norm", "m")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("cidx"),
                            _pair_dot_seq(F.col("qsv"), F.col("cw")).alias(
                                "qdot"
                            ),
                        )
                    )
                ),
                lambda s: s.getField("qdot"),
            ).alias("row")
        )
    )
    return lut_m.groupBy("query_id", "q_norm").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col("m"), F.col("row")))),
            lambda s: s.getField("row"),
        ).alias("luts")
    )


def pq_adc_expr() -> F.Column:
    """ADC lookup sum: every candidate's PQ_M codes looked up in the
    per-query `luts` column; the fold over m is sequential by
    construction (bit-reproducible)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(PQ_M)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.element_at(
            F.element_at(F.col("luts"), m.cast("int")),
            F.element_at(F.col("codes"), m.cast("int")).cast("int"),
        ),
    )


def ann_pq_topk_for(e: DataFrame, centroid_mod: int = 100) -> DataFrame:
    cents = pq_codebook(e, centroid_mod)
    codes = pq_encode(e, cents)
    luts = pq_query_luts(e, cents)
    # fan_out again for the ADC scan: codes is a narrow agg output
    # whose exchange AQE coalesces to 1-2 partitions, which would bound
    # the |queries| x M lookup kernel at that width
    scored = (
        fan_out(codes, e.sparkSession).crossJoin(F.broadcast(luts))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            (
                pq_adc_expr()
                / (F.col("q_norm") * F.sqrt(F.col("recon_norm2")))
            ).alias("pq_cosine"),
        )
    )
    return _rank_topk(scored, "pq_cosine")


# The PQ pipeline's oracle CTE block (codebook -> encode -> per-query
# LUTs), shared verbatim by ANN_PQ_TOPK_SQL (brute ADC over all codes)
# and clustering.ann_ivf_pq_oracle_sql (ADC over IVF candidates only).
# CTE names are disjoint from clustering._kmeans_ctes (vecs, c*, a*,
# m*) by construction.  `pq_sql_ctes(codebook_pred)` parameterizes the
# CODEBOOK training population (the incremental-add row freezes the
# codebook on the base corpus while codes/LUTs still cover everything);
# the default TRUE predicate renders the historical block.
# `query_pred` narrows the LUT query set (eval rows pass the sampled
# predicate; default renders the historical standard rule).
def pq_sql_ctes(
    codebook_pred: str = "TRUE", query_pred: str | None = None
) -> str:
    if query_pred is None:
        query_pred = f"vec_id % {QUERY_MOD} = 0"
    return f"""subbed AS (
  SELECT vec_id,
    list_transform(generate_series(0, {PQ_M - 1}),
      m -> embedding[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}]) AS subs,
    sqrt(CAST({_duckdb_dot('embedding', 'embedding')} AS DOUBLE)) AS vnorm
  FROM embeddings
),
cents AS (
  SELECT row_number() OVER (ORDER BY cent_id ASC) AS cidx, subs
  FROM (SELECT vec_id AS cent_id, subs FROM subbed
        WHERE ({codebook_pred}) AND vec_id % 100 = 0
        ORDER BY {knuth_order_sql('vec_id')}, vec_id
        LIMIT {PQ_MAX_CODEWORDS})
),
codebook AS (
  SELECT cidx, m, cents.subs[m] AS cw,
    {_duckdb_dot('cents.subs[m]', 'cents.subs[m]')} AS cw_norm2
  FROM cents, UNNEST(generate_series(1, {PQ_M})) AS u(m)
),
subvecs AS (
  SELECT vec_id, m, subbed.subs[m] AS sv
  FROM subbed, UNNEST(generate_series(1, {PQ_M})) AS u(m)
),
best AS (
  SELECT vec_id, m, cidx, cw_norm2 FROM (
    SELECT s.vec_id, s.m, cb.cidx, cb.cw_norm2,
      row_number() OVER (PARTITION BY s.vec_id, s.m
        ORDER BY {_duckdb_sqdist('s.sv', 'cb.cw')} ASC, cb.cidx ASC) AS r
    FROM subvecs s JOIN codebook cb ON s.m = cb.m)
  WHERE r = 1
),
codes AS (
  SELECT vec_id,
    list(cidx ORDER BY m) AS codes,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(cw_norm2 ORDER BY m)),
      (x, y) -> x + y) AS recon_norm2
  FROM best GROUP BY vec_id
),
qsub AS (
  SELECT vec_id AS query_id, m, subbed.subs[m] AS qsv, vnorm AS q_norm
  FROM subbed, UNNEST(generate_series(1, {PQ_M})) AS u(m)
  WHERE {query_pred}
),
lut_m AS (
  SELECT q.query_id, q.q_norm, q.m,
    list({_duckdb_dot('q.qsv', 'cb.cw')} ORDER BY cb.cidx) AS "row"
  FROM qsub q JOIN codebook cb ON q.m = cb.m
  GROUP BY q.query_id, q.q_norm, q.m
),
luts AS (
  SELECT query_id, q_norm, list("row" ORDER BY m) AS luts
  FROM lut_m GROUP BY query_id, q_norm
)"""


PQ_SQL_CTES = pq_sql_ctes()

# DuckDB twin of pq_adc_expr(): the sequential fold over the PQ_M
# LUT lookups for (luts alias `q`, codes alias `c`).
PQ_ADC_SQL = (
    f"list_reduce(\n"
    f"      list_prepend(CAST(0.0 AS DOUBLE),\n"
    f"        list_transform(generate_series(1, {PQ_M}),\n"
    f"          m -> q.luts[m][c.codes[m]])),\n"
    f"      (x, y) -> x + y)"
)

ANN_PQ_TOPK_SQL = f"""
WITH {PQ_SQL_CTES},
scored AS (
  SELECT q.query_id, c.vec_id AS cand_id,
    {PQ_ADC_SQL}
      / (q.q_norm * sqrt(c.recon_norm2)) AS pq_cosine
  FROM codes c CROSS JOIN luts q
  WHERE c.vec_id <> q.query_id
)
{rank_topk_sql('scored', 'pq_cosine')}
"""


# ---------------------------------------------------------------------------
# Contrastive hard-negative mining (round 4).
# ---------------------------------------------------------------------------

HARD_NEG_K = 5


def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine contrastive training pairs for every anchor vector
    (vec_id % {QUERY_MOD} == 0): the POSITIVE is the highest-cosine
    SAME-label candidate, and the HARD NEGATIVES are the top-
    {HARD_NEG_K} highest-cosine DIFFERENT-label candidates — the
    near-boundary examples a contrastive/embedding fine-tune actually
    learns from (random negatives are trivially separable).

    One scored pass (the shared bit-reproducible sequential-fold
    cosine), then ONE window partitioned by (query_id, is_positive):
    row_number ranks positives and negatives independently in the
    same shuffle; rank 1 survives on the positive side, ranks
    1..{HARD_NEG_K} on the negative side.  Ranking compares the
    bit-identical cosine (strict census), so the mined SET is stable
    across engines.

    Scale path: anchors broadcast (batch-of-queries), corpus streamed
    — same shape as cosine_topk_fast; past broadcast size the scoring
    side swaps to the IVF candidate generator (`ann_ivf_topk_for`)
    with identical window semantics.  Output is one row per mined
    example: (query_id, role, rank, cand_id, cosine).
    """
    e = load_table(spark, sf_dir, "embeddings")
    # fan_out: |anchors| x d scoring per corpus row (see tables.fan_out)
    corpus = fan_out(e, e.sparkSession).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("cand_emb"),
        _norm_col(F.col("embedding")).alias("cand_norm"),
    )
    anchors = (
        e.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("q_emb"),
            _norm_col(F.col("embedding")).alias("q_norm"),
        )
    )
    scored = (
        corpus.crossJoin(F.broadcast(anchors))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.col("cand_label") == F.col("q_label")).alias("is_pos"),
            (
                _pair_dot_seq(F.col("q_emb"), F.col("cand_emb"))
                / (F.col("q_norm") * F.col("cand_norm"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id", "is_pos").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("long"))
    return (
        ranked.filter(
            (F.col("is_pos") & (F.col("rank") == 1))
            | (~F.col("is_pos") & (F.col("rank") <= HARD_NEG_K))
        )
        .select(
            "query_id",
            F.when(F.col("is_pos"), F.lit("positive"))
            .otherwise(F.lit("negative"))
            .alias("role"),
            "rank",
            "cand_id",
            "cosine",
        )
    )


CONTRASTIVE_HARD_NEG_SQL = f"""
WITH sides AS (
  SELECT vec_id, label,
    sqrt(CAST({_duckdb_dot('embedding', 'embedding')} AS DOUBLE)) AS norm,
    embedding
  FROM embeddings
),
anchors AS (
  SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb,
         norm AS q_norm
  FROM sides WHERE vec_id % {QUERY_MOD} = 0
),
scored AS (
  SELECT a.query_id, c.vec_id AS cand_id,
    (c.label = a.q_label) AS is_pos,
    CAST({_duckdb_dot('a.q_emb', 'c.embedding')} AS DOUBLE)
      / (a.q_norm * c.norm) AS cosine
  FROM sides c CROSS JOIN anchors a
  WHERE c.vec_id <> a.query_id
)
""" + rank_topk_sql(
    "scored",
    cols="query_id, CASE WHEN is_pos THEN 'positive' ELSE 'negative' END AS role,"
    " rank, cand_id, cosine",
    part="query_id, is_pos",
    keep=f"(is_pos AND rank = 1) OR ((NOT is_pos) AND rank <= {HARD_NEG_K})",
) + "\n"


# --- recall evaluation as data -------------------------------------------


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-as-data: per-query recall@{TOPK_K} of the IVF index
    against the exact cosine top-k, emitted as a queryable row set
    (query_id, n_hit, recall) — the quality contract of an
    approximate index published the same way its results are, so a
    pipeline can gate promotion of a new index build on `min(recall)`
    instead of trusting a notebook.

    Both sides are this module's registered, individually
    oracle-checked queries sharing the one `_rank_topk` tie-break;
    the eval is one left-semi join on (query_id, cand_id) + one
    count-up — at corpus scale the eval cost is the ANN query cost,
    the join touches only 2·k rows per query.  Recall is emitted as
    exact integers (n_hit of k) plus the derived double.  The eval
    query set is regime-gated (EVAL_QUERY_BUDGET): past the threshold
    both sides grade the same fixed-size Knuth query sample, so the
    exact baseline stops being corpus-quadratic."""
    e = load_table(spark, sf_dir, "embeddings")
    thresh = eval_query_sample_thresh(e.count())
    return recall_vs_exact(
        cosine_topk_fast_for(e, eval_thresh=thresh).select(
            "query_id", "cand_id"
        ),
        ann_ivf_topk_for(e, eval_thresh=thresh).select(
            "query_id", "cand_id"
        ),
        materialize=thresh is not None,
    )


def recall_vs_exact(
    exact: DataFrame, approx: DataFrame, materialize: bool = False
) -> DataFrame:
    """Shared recall@k finisher: (query_id, n_hit, recall) given the
    exact and approximate (query_id, cand_id) top-k frames.  Used by
    `ann_recall_eval` and clustering's `ann_ivf_pq_recall`.

    `exact` feeds TWO consumers (the hit semi-join and the all-queries
    spine), and each would re-execute the whole exact-cosine pipeline
    as its own broadcast-subtree job — the r13 stage profile measured
    that double execution as the dominant cost of the recall rows at
    30x.  With `materialize=True` the post-top-k frame (model-sized,
    |queries| x k rows) is localCheckpoint'ed ONCE and both consumers
    read the block-manager copy (the diversity/scalepatterns idiom).
    Callers pass materialize = "the eval query gate is binding": past
    the gate the exact side is the expensive half (16.8 -> 16.0 s at
    30x with the checkpoint); under it the pipeline is sub-second and
    the eager job barrier costs MORE than the double execution saves
    (bench: ann_recall_eval 0.95 -> 1.37 s at sf0.1 when
    unconditional).  Values identical either way."""
    if materialize:
        exact = exact.localCheckpoint(eager=True)
    hits = (
        approx.join(exact, ["query_id", "cand_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    all_q = exact.select("query_id").distinct()
    return (
        all_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(float(TOPK_K))
            ).alias("recall"),
        )
    )


def recall_eval_sql(exact_sql: str, approx_sql: str) -> str:
    """DuckDB twin of `recall_vs_exact`, parameterized on the two
    top-k query strings (each a full WITH..SELECT, nested as CTE
    bodies)."""
    return f"""
WITH exact_tk AS ({exact_sql}),
approx_tk AS ({approx_sql}),
hits AS (
  SELECT a.query_id, count(*) AS n_hit
  FROM approx_tk a
  WHERE EXISTS (SELECT 1 FROM exact_tk e
                WHERE e.query_id = a.query_id AND e.cand_id = a.cand_id)
  GROUP BY a.query_id
)
SELECT q.query_id,
       coalesce(h.n_hit, 0) AS n_hit,
       coalesce(h.n_hit, 0) / {float(TOPK_K)} AS recall
FROM (SELECT DISTINCT query_id FROM exact_tk) q
LEFT JOIN hits h ON h.query_id = q.query_id"""


# both sides sampled past the eval regime gate (non-binding at every
# committed fixture — the OR-disjunct keeps the full query set there)
ANN_RECALL_EVAL_SQL = recall_eval_sql(
    COSINE_TOPK_SAMPLED_SQL,
    ann_ivf_topk_sql(eval_query_pred_sql("vec_id", "SELECT n FROM en")),
)


QUERIES = {
    # supervised contrastive mining (positive = top same-label
    # neighbor, hard negatives = top-k different-label) on the shared
    # bit-reproducible cosine.
    "contrastive_hard_negatives": (
        contrastive_hard_negatives,
        CONTRASTIVE_HARD_NEG_SQL,
    ),
}
