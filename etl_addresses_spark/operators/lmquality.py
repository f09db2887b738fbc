"""Language-model-style quality scoring + semantic dedup — round-3
additions to the LLM-training-data surface:

* lm_bigram_logprob       — corpus-trained add-one-smoothed bigram LM;
                            per-document mean log-probability (the
                            CCNet/Wikipedia-LM perplexity-filter shape,
                            self-trained so it needs no external model)
* quality_classifier_score — hashed-feature linear classifier (the
                            fastText-style quality-classifier shape)
                            with md5-derived deterministic weights
* vocab_oov_rate          — top-K corpus vocabulary + per-document
                            out-of-vocabulary rate
* semantic_dedup          — SemDeDup (Abbas et al. 2023 shape): cluster
                            embeddings, drop within-cluster cosine
                            near-duplicates, keep the min-id
                            representative

All four are fully oracle-checked.  Float determinism follows the
repo-wide rule: every cross-row reduction that feeds a float either
stays integer until one exact division, or is collected into a
position-ordered array and reduced with a SEQUENTIAL fold that
DuckDB's list_reduce replays in the same order.  Where a transcendental
(ln/exp) sits between engines, a 1-ulp divergence is possible but
~1e-16 relative — far below the driver's 1e-9 canonicalization.

Reference parity note: the reference ETL (addresses.js) has no
LM-quality surface; these are driver-mandated extensions (SURVEY.md
§2.11 scope).

100 TB design per operator is documented in each docstring; none uses
a Python UDF — every expression is JVM-side codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.operators.similarity import (
    _duckdb_dot,
    _norm_col,
    _pair_dot_seq,
)
from etl_addresses_spark.sources.tables import load_table

TOKS = "split(text, ' ')"
# 20 of the fixture corpus's 31 distinct tokens: small enough that the
# tail of the frequency distribution is genuinely out-of-vocabulary
# (K=100 covered every token and made the rate a constant 0).
VOCAB_K = 20
SEMDEDUP_THRESHOLD = 0.3  # same bar as embedding_near_dup
SEMDEDUP_CENTROID_MOD = 100  # same pseudo-centroid scheme as ann_ivf


# --- corpus-trained bigram LM -------------------------------------------


def lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under an add-one
    (Laplace) bigram model trained on the corpus itself:

        P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + |V|)

    Repetitive/boilerplate documents score HIGH (their bigrams are
    corpus-frequent), incoherent shuffles score LOW — the classic
    perplexity quality signal, with ppl = exp(-mean log P).

    Plan shape: one explode of positioned bigrams, two hash aggregations
    (bigram counts, context counts — both map-side-combinable), one
    1-row vocabulary scalar broadcast, two equi-joins of the exploded
    stream against the count dimensions, then a per-doc aggregation.
    The count tables are vocabulary-sized (Zipf-bounded), orders of
    magnitude smaller than the token stream, so at 100 TB both joins
    are AQE-broadcastable; nothing is ever all-pairs and no state
    exceeds one document.

    Bit-reproducibility: per-bigram log-probs are collected per doc,
    sorted by bigram POSITION, and reduced with a sequential fold —
    the same order DuckDB's list(lp ORDER BY pos) + list_reduce
    replays.  Documents with fewer than 2 tokens have no bigrams and
    drop out (inner-join semantics, mirrored in the oracle).
    """
    d = load_table(spark, sf_dir, "documents")
    # Token array materialized in its own projection: Spark does not
    # CSE a split() inside a lambda, so inlining TOKS here would re-run
    # the regex split per element_at (see repetition_ngram_score).
    # Guard BEFORE the sequence: Spark's sequence(1, 0) is the
    # DESCENDING [1, 0] (not empty like DuckDB's generate_series), so a
    # 1-token document would hit element_at(toks, 0) and error where
    # the oracle just produces no bigrams.  The filter makes both
    # engines drop it the same way.
    ex = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(i as pos, element_at(toks, i) as w1, "
                    "element_at(toks, i + 1) as w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.pos", "b.w1", "b.w2")
    )
    big = ex.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = ex.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    voc = (
        d.select(F.explode(F.expr(TOKS)).alias("tok"))
        .agg(F.countDistinct("tok").alias("vsize"))
    )
    lp = (
        ex.join(big, ["w1", "w2"])
        .join(ctx, ["w1"])
        .crossJoin(F.broadcast(voc))
        .select(
            "doc_id",
            "pos",
            F.log(
                (F.col("c_bg") + F.lit(1)).cast("double")
                / (F.col("c_ctx") + F.col("vsize")).cast("double")
            ).alias("lp"),
        )
    )
    agg = lp.groupBy("doc_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, lp))), x -> x.lp)"
        ).alias("lps")
    )
    total = F.aggregate(F.col("lps"), F.lit(0.0), lambda a, v: a + v)
    avg = total / F.size("lps").cast("double")
    return agg.select(
        "doc_id",
        F.size("lps").cast("long").alias("n_bigrams"),
        avg.alias("avg_logprob"),
        F.exp(-avg).alias("ppl"),
    )


LM_BIGRAM_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
ex0 AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - 1)) AS pos
  FROM t
),
ex AS (
  SELECT doc_id, pos, toks[pos] AS w1, toks[pos + 1] AS w2 FROM ex0
),
big AS (SELECT w1, w2, count(*) AS c_bg FROM ex GROUP BY w1, w2),
ctx AS (SELECT w1, count(*) AS c_ctx FROM ex GROUP BY w1),
voc AS (
  SELECT count(DISTINCT tok) AS vsize
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
),
lp AS (
  SELECT e.doc_id, e.pos,
         ln(CAST(b.c_bg + 1 AS DOUBLE) / CAST(c.c_ctx + v.vsize AS DOUBLE)) AS lp
  FROM ex e
  JOIN big b ON e.w1 = b.w1 AND e.w2 = b.w2
  JOIN ctx c ON e.w1 = c.w1
  CROSS JOIN voc v
),
agg AS (
  SELECT doc_id, list(lp ORDER BY pos) AS lps FROM lp GROUP BY doc_id
)
SELECT doc_id,
  CAST(len(lps) AS BIGINT) AS n_bigrams,
  list_reduce(lps, (x, y) -> x + y) / CAST(len(lps) AS DOUBLE) AS avg_logprob,
  exp(-(list_reduce(lps, (x, y) -> x + y) / CAST(len(lps) AS DOUBLE))) AS ppl
FROM agg
"""


# --- hashed-feature linear quality classifier ---------------------------

# Spark-side token weight: portable 60-bit md5 hash -> [-1, 1] grid of
# 1/1000 steps.  The SAME literal arithmetic renders into the DuckDB
# oracle, so the "model" is deterministic and engine-independent — the
# hashed-feature trick (Weinberger et al. 2009) with the hash replacing
# a learned embedding row.
_W_SPARK = (
    "CAST(CAST(conv(substring(md5(cast(concat('qc:', {t}) as binary)), 1, 15), "
    "16, 10) AS BIGINT) % 2001 - 1000 AS DOUBLE) / CAST(1000 AS DOUBLE)"
)
_W_DUCK = (
    "CAST(CAST('0x' || substring(md5('qc:' || {t}), 1, 15) AS BIGINT) "
    "% 2001 - 1000 AS DOUBLE) / CAST(1000 AS DOUBLE)"
)


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style document quality classifier: every token maps to
    a hashed feature weight in [-1, 1] (md5-derived, deterministic in
    both engines), the document logit is the mean token weight, and the
    score is the logistic of the logit.

    Plan shape: ZERO shuffles — the token->weight map, the sequential
    fold, and the logistic are one fused codegen projection per row;
    the operator is embarrassingly parallel at any scale (this is
    exactly why hashed classifiers are the industry default for
    corpus-scale quality scoring: no vocabulary table to join).

    `keep` compares the LOGIT against 0 rather than the score against
    0.5: the logit is bit-identical across engines (fold of identical
    doubles), while exp() may round differently by 1 ulp — comparing
    pre-transcendental keeps the boolean engine-independent.
    """
    d = load_table(spark, sf_dir, "documents")
    w = _W_SPARK.format(t="t")
    weights = F.expr(f"transform({TOKS}, t -> {w})")
    z = F.aggregate(weights, F.lit(0.0), lambda a, v: a + v) / F.expr(
        f"cast(size({TOKS}) as double)"
    )
    return d.select(
        "doc_id",
        F.expr(f"cast(size({TOKS}) as long)").alias("n_toks"),
        z.alias("logit"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("score"),
        (z >= 0).alias("keep"),
    )


QUALITY_CLASSIFIER_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
z AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
    list_reduce(list_transform(toks, t -> {_W_DUCK.format(t='t')}),
                (x, y) -> x + y) / CAST(len(toks) AS DOUBLE) AS logit
  FROM t
)
SELECT doc_id, n_toks, logit,
  1.0e0 / (1.0e0 + exp(-logit)) AS score,
  (logit >= 0) AS keep
FROM z
"""


# --- top-K vocabulary + OOV rate ----------------------------------------


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the corpus top-{VOCAB_K} vocabulary by frequency (ties
    broken lexicographically) and report each document's
    out-of-vocabulary token rate — the tokenizer-coverage health check
    every corpus refresh runs.

    Plan shape: token explode -> hash aggregation (map-side combined)
    -> global top-K via orderBy().limit() — which Spark executes as
    TakeOrderedAndProject (per-partition heaps + driver merge of K
    rows), NOT a global sort, so the vocabulary step scales to any
    token count.  The K-row vocabulary is broadcast into the per-token
    membership left-join; the final per-doc aggregation is pure integer
    counts.

    Output is integer-pure (doc_id, n_toks, n_oov) since round 4: the
    derived double rate is n_oov/n_toks, trivially recomputable, and
    dropping it removes the only float from the output — driver parity
    now rests entirely on bigint equality (round-3 driver-red fix; the
    oracle also CASTs DuckDB's HUGEINT sum back to BIGINT, see
    tools/type_audit.py for why the fetch path makes that matter).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(TOKS)).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select("doc_id", "n_toks", "n_oov")
    )


VOCAB_OOV_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ORDER BY c DESC, tok ASC LIMIT {VOCAB_K})
),
j AS (
  SELECT t.doc_id, t.tok, v.tok AS vtok
  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
)
SELECT doc_id, count(*) AS n_toks,
  CAST(sum(CASE WHEN vtok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM j GROUP BY doc_id
"""


# --- SemDeDup: semantic (embedding-space) deduplication ------------------


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 shape): assign every embedding to
    its nearest pseudo-centroid (the ann_ivf scheme — vec_id % 100 == 0
    rows are centroids, broadcast; tie-break cent_id asc), then inside
    each cluster mark any vector whose cosine to a SMALLER-id cluster
    member is >= {SEMDEDUP_THRESHOLD} as a semantic duplicate; the
    min-id member of every near-dup group survives.

    This is the scale story of semantic dedup: clustering makes the
    O(n^2) pairwise cosine LOCAL to a cluster (sizes ~n/k), so the
    pair join is an equi-join on list_id — never all-pairs across the
    corpus.  The cost balance: with k ∝ n (a fixed centroid_mod) the
    broadcast ASSIGNMENT crossJoin is the n x k quadratic term — the
    r11 30x ladder measured exactly that, wall 38.7x on 12.2x input —
    and with k fixed the intra-cluster pair join is.  Since r11 the
    registry row therefore derives the centroid DENSITY from the
    corpus count IN-PLAN (mod = floor(sqrt(n)) => k ~ sqrt(n), both
    terms ~n^1.5 — the production balance point): a 1-row count
    aggregate broadcast into the centroid filter, mirrored by an
    identical scalar CTE in the oracle, so the two engines derive the
    IDENTICAL mod (count, sqrt, floor are all exact/IEEE).  Past
    broadcastable k the assignment swaps to the SRP-LSH bucketing
    (`similarity.embedding_srp_lsh_pairs`) — same output contract.
    All cosines are sequential-fold dots, bit-equal in both engines, so
    the threshold boolean cannot flip.
    """
    return semantic_dedup_for(load_table(spark, sf_dir, "embeddings"), None)


def semantic_dedup_for(
    e: DataFrame, centroid_mod: int | None = SEMDEDUP_CENTROID_MOD
) -> DataFrame:
    """centroid_mod=None derives mod = max(1, floor(sqrt(n))) from the
    corpus count in-plan (1-row aggregate broadcast into the filter —
    no collect); an explicit mod keeps the fixed-density behavior for
    callers that sweep it (tests, the SRP comparison)."""
    e = e.select("vec_id", "embedding")
    if centroid_mod is None:
        cmod = e.agg(
            F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.sqrt(F.count(F.lit(1)).cast("double"))).cast("long"),
            ).alias("cmod")
        )
        cent_base = e.crossJoin(F.broadcast(cmod)).filter(
            F.col("vec_id") % F.col("cmod") == 0
        )
    else:
        cent_base = e.filter(F.col("vec_id") % centroid_mod == 0)
    cents = cent_base.select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent_emb"),
        _norm_col(F.col("embedding")).alias("cent_norm"),
    )
    # fan_out: the k x d assignment kernel dwarfs row bytes; a dense
    # single-split scan would serialize it on one core (tables.fan_out)
    from etl_addresses_spark.sources.tables import fan_out

    vecs = fan_out(e, e.sparkSession).select(
        "vec_id", "embedding", _norm_col(F.col("embedding")).alias("vnorm")
    )
    # Narrow argmax (r14, guide §2.3 "project before the exchange"):
    # the scoring projection emits ONLY (vec_id, cent_id, c_cos) — the
    # former row_number window dragged every candidate row's full
    # embedding + vnorm through an n·k-row shuffle AND sort just to
    # pick one row per vec.  The max(struct) aggregate collapses to
    # one row per vec_id map-side (the broadcast join keeps a vec's k
    # candidate rows co-located), and the embedding re-attaches with
    # one narrow n-row join — the kmeans `_assign` pattern.  The
    # (c_cos DESC, cent_id ASC) tie-break is max(struct(c_cos,
    # -cent_id)) — cent_id is a nonnegative vec_id, so the negation is
    # sign-safe, and Spark orders NaN largest in BOTH the window-desc
    # and struct-max forms, so the winner cannot differ on any input.
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cent_id",
        (
            _pair_dot_seq(F.col("embedding"), F.col("cent_emb"))
            / (F.col("vnorm") * F.col("cent_norm"))
        ).alias("c_cos"),
    )
    best = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("c_cos").alias("c"), (-F.col("cent_id")).alias("nc")
                )
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.nc")).alias("list_id"))
    )
    # assigned feeds THREE consumers (pair-join sides a and b, the
    # final survivor join) and Spark never CSEs across DataFrame
    # branches — without the cache the whole scoring pipeline ran
    # three times per query (r14 measurement; same hygiene as
    # triangle_count's deg cache).
    assigned = (
        vecs.join(best, "vec_id")
        .select("vec_id", "embedding", "vnorm", "list_id")
        .cache()
    )
    a = assigned.select(
        F.col("list_id"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("vnorm").alias("norm_a"),
    )
    b = assigned.select(
        F.col("list_id"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("vnorm").alias("norm_b"),
    )
    pairs = (
        a.join(b, "list_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_b",
            (
                _pair_dot_seq(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_THRESHOLD)
    )
    dup_counts = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_smaller_dups")
    )
    return (
        assigned.join(dup_counts, "vec_id", "left")
        .select(
            "vec_id",
            "list_id",
            F.coalesce(F.col("n_smaller_dups"), F.lit(0).cast("long")).alias(
                "n_smaller_dups"
            ),
            F.col("n_smaller_dups").isNull().alias("keep"),
        )
    )


SEMANTIC_DEDUP_SQL = f"""
WITH base AS (
  SELECT vec_id, embedding,
    sqrt(CAST({_duckdb_dot('embedding', 'embedding')} AS DOUBLE)) AS vnorm
  FROM embeddings
),
cmod AS (
  SELECT greatest(CAST(1 AS BIGINT),
                  CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS m
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cent_id, embedding AS cent_emb, vnorm AS cent_norm
  FROM base, cmod WHERE vec_id % m = 0
),
scored AS (
  SELECT v.vec_id, v.embedding, v.vnorm, c.cent_id,
    CAST({_duckdb_dot('v.embedding', 'c.cent_emb')} AS DOUBLE)
      / (v.vnorm * c.cent_norm) AS c_cos
  FROM base v CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, embedding, vnorm, cent_id AS list_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY c_cos DESC, cent_id ASC) AS r
    FROM scored) WHERE r = 1
),
pairs AS (
  SELECT b.vec_id AS vec_b,
    CAST({_duckdb_dot('a.embedding', 'b.embedding')} AS DOUBLE)
      / (a.vnorm * b.vnorm) AS cosine
  FROM assigned a JOIN assigned b
    ON a.list_id = b.list_id AND a.vec_id < b.vec_id
),
dup_counts AS (
  SELECT vec_b AS vec_id, count(*) AS n_smaller_dups
  FROM pairs WHERE cosine >= {SEMDEDUP_THRESHOLD}
  GROUP BY vec_b
)
SELECT s.vec_id, s.list_id,
  COALESCE(d.n_smaller_dups, 0) AS n_smaller_dups,
  (d.n_smaller_dups IS NULL) AS keep
FROM assigned s LEFT JOIN dup_counts d ON s.vec_id = d.vec_id
"""


QUERIES = {
    "lm_bigram_logprob": (lm_bigram_logprob, LM_BIGRAM_SQL),
    "quality_classifier_score": (quality_classifier_score, QUALITY_CLASSIFIER_SQL),
    "vocab_oov_rate": (vocab_oov_rate, VOCAB_OOV_SQL),
    "semantic_dedup": (semantic_dedup, SEMANTIC_DEDUP_SQL),
}
