"""Corpus-curation operators: the end-to-end shapes a training-data
pipeline runs at 100 TB — deterministic sampling, dataset profiling,
interval-overlap joins, BPE-ish token counting, and a composed
filter -> dedup -> sample curation pass.

Everything here is pure JVM column expressions (no UDFs) and every
query carries a DuckDB oracle: sampling uses md5-prefix thresholds
(hash-deterministic, portable across engines) rather than rand(),
which is the production-correct choice anyway — reruns and backfills
must sample the SAME rows.

Scale notes per operator in the docstrings; the common thread: sampling
and profiling are single-pass map-side work, the overlap join
broadcasts the tiny interval dimension, and curation's only shuffle is
the dedup groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.sources.tables import load_table

# Two lowercase hex chars of an md5 prefix compare lexicographically in
# numeric order ('00' < '2a' < 'ff'), so `h2 < threshold` keeps a
# deterministic (threshold/256) fraction, identically in Spark and
# DuckDB.
_H2 = "substring(md5(cast(doc_id as string)), 1, 2)"
_H2_DUCK = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"
_H2_FULL = "md5(cast(doc_id as string))"


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: each source stratum keeps a
    different fraction (the up/down-weighting every corpus mix does).
    Hash-threshold sampling is a narrow map-side filter — no shuffle,
    no rand() nondeterminism, trivially resumable at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    strat = (F.substring("source", 4, 10).cast("int") % 4).alias("strat")
    threshold = (
        F.when(F.col("strat") == 0, "2a")   # ~16 %
        .when(F.col("strat") == 1, "80")    # 50 %
        .when(F.col("strat") == 2, "cc")    # 80 %
        .otherwise("zz")                    # keep all
    )
    return (
        d.select("doc_id", "source", strat, F.expr(_H2).alias("h2"))
        .withColumn("threshold", threshold)
        .filter(F.col("h2") < F.col("threshold"))
        .select("doc_id", "source", F.col("strat").cast("long"), "h2")
    )


SAMPLE_STRATIFIED_SQL = f"""
WITH tagged AS (
  SELECT doc_id, source,
    CAST(substr(source, 4) AS INTEGER) % 4 AS strat,
    {_H2_DUCK} AS h2
  FROM documents
)
SELECT doc_id, source, CAST(strat AS BIGINT) AS strat, h2
FROM tagged
WHERE h2 < CASE strat WHEN 0 THEN '2a' WHEN 1 THEN '80'
                      WHEN 2 THEN 'cc' ELSE 'zz' END
"""


SAMPLE_K = 5


def sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sampling (the reservoir-sample shape, made
    deterministic): rank rows within each source by their md5 hash and
    keep the first k.  One shuffle on the stratum key; at 100 TB the
    same plan holds because each partition ranks only its own stratum —
    and a TopK-per-key (min(struct) of k) variant drops even the sort."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.expr(_H2_FULL), F.asc("doc_id"))
    return (
        d.select("doc_id", "source")
        .withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= SAMPLE_K)
    )


SAMPLE_FIXED_K_SQL = f"""
SELECT doc_id, source, pick_rank FROM (
  SELECT doc_id, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick_rank
  FROM documents)
WHERE pick_rank <= {SAMPLE_K}
"""


def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass dataset profiling of the orders table: row count,
    null count, exact distinct count, and min/max per column, emitted
    long-format (one row per column).  One aggregation job regardless
    of column count — the shape a 100 TB profiler must have (per-column
    jobs would rescan the table N times)."""
    o = load_table(spark, sf_dir, "orders")

    def null_count(c: str) -> F.Column:
        return F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long")

    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            x
            for c in ("o_orderstatus", "o_orderpriority")
            for x in (
                null_count(c).alias(f"{c}_nulls"),
                F.countDistinct(c).alias(f"{c}_distinct"),
                F.min(c).alias(f"{c}_min"),
                F.max(c).alias(f"{c}_max"),
            )
        ],
        *[
            x
            for c in ("o_totalprice", "o_custkey")
            for x in (
                null_count(c).alias(f"{c}_nulls"),
                F.countDistinct(c).alias(f"{c}_distinct"),
                F.min(F.col(c).cast("double")).alias(f"{c}_min"),
                F.max(F.col(c).cast("double")).alias(f"{c}_max"),
            )
        ],
    )

    def row(c: str, is_num: bool) -> F.Column:
        return F.struct(
            F.lit(c).alias("col_name"),
            F.col("n_rows").alias("n_rows"),
            F.col(f"{c}_nulls").alias("n_null"),
            F.col(f"{c}_distinct").alias("n_distinct"),
            (
                F.col(f"{c}_min") if is_num else F.lit(None).cast("double")
            ).alias("min_num"),
            (
                F.col(f"{c}_max") if is_num else F.lit(None).cast("double")
            ).alias("max_num"),
            (
                F.lit(None).cast("string") if is_num else F.col(f"{c}_min")
            ).alias("min_str"),
            (
                F.lit(None).cast("string") if is_num else F.col(f"{c}_max")
            ).alias("max_str"),
        )
    return agg.select(
        F.explode(
            F.array(
                row("o_orderstatus", False),
                row("o_orderpriority", False),
                row("o_totalprice", True),
                row("o_custkey", True),
            )
        ).alias("p")
    ).select("p.*")


def _profile_duck(c: str, is_num: bool) -> str:
    min_num = f"CAST(min({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
    max_num = f"CAST(max({c}) AS DOUBLE)" if is_num else "CAST(NULL AS DOUBLE)"
    min_str = "CAST(NULL AS VARCHAR)" if is_num else f"min({c})"
    max_str = "CAST(NULL AS VARCHAR)" if is_num else f"max({c})"
    return f"""
SELECT '{c}' AS col_name, count(*) AS n_rows,
  CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
  count(DISTINCT {c}) AS n_distinct,
  {min_num} AS min_num, {max_num} AS max_num,
  {min_str} AS min_str, {max_str} AS max_str
FROM orders"""


PROFILE_COLUMNS_SQL = " UNION ALL ".join(
    _profile_duck(c, n)
    for c, n in [
        ("o_orderstatus", False),
        ("o_orderpriority", False),
        ("o_totalprice", True),
        ("o_custkey", True),
    ]
)

_SIX_H_US = 6 * 3600 * 1_000_000
_TWO_H_US = 2 * 3600 * 1_000_000


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user sessions (gap-sessionized) matched to
    campaign windows they overlap.  The window dimension (one 2-hour
    window every 6 hours, derived from the event span) is tiny ->
    broadcast nested-loop with the overlap predicate is THE scale plan;
    for large-large interval joins the pattern becomes bin-by-bucket
    equi-join first, exactly like the flagship spatial grid."""
    from etl_addresses_spark.plans.timeseries import events_sessionize

    sessions = events_sessionize(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    windows = (
        e.select(
            (F.unix_micros("ts") / F.lit(_SIX_H_US))
            .cast("long")
            .alias("bucket")
        )
        .distinct()
        .select(
            (F.col("bucket") * _SIX_H_US).alias("win_start_us"),
            (F.col("bucket") * _SIX_H_US + _TWO_H_US).alias("win_end_us"),
        )
    )
    overlap = (F.col("start_us") <= F.col("win_end_us")) & (
        F.col("end_us") >= F.col("win_start_us")
    )
    return (
        sessions.join(F.broadcast(windows), overlap)
        .groupBy("win_start_us")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


INTERVAL_OVERLAP_SQL = f"""
WITH gaps AS (
  SELECT user_id, event_id, ts,
    epoch_us(ts) - epoch_us(lag(ts) OVER (
      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
),
sess AS (
  SELECT user_id,
    CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      AS session_seq,
    ts
  FROM gaps
),
sessions AS (
  SELECT user_id, session_seq,
    min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
  FROM sess GROUP BY user_id, session_seq
),
windows AS (
  SELECT DISTINCT (epoch_us(ts) // {_SIX_H_US}) * {_SIX_H_US} AS win_start_us,
    (epoch_us(ts) // {_SIX_H_US}) * {_SIX_H_US} + {_TWO_H_US} AS win_end_us
  FROM events
)
SELECT w.win_start_us, count(*) AS n_sessions,
  count(DISTINCT s.user_id) AS n_users
FROM sessions s JOIN windows w
  ON s.start_us <= w.win_end_us AND s.end_us >= w.win_start_us
GROUP BY w.win_start_us
"""

# GPT-2-ish pre-tokenizer classes: letter runs, single digits,
# punctuation runs.  ASCII-only classes so Java regex (Spark) and RE2
# (DuckDB) agree byte-for-byte.
_BPE_PATTERN = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]+"


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace tokens and a BPE-ish regex
    pre-tokenization count (the budget estimator for LLM training
    data), plus chars-per-token.  Pure JVM regexp_count — no UDF."""
    d = load_table(spark, sf_dir, "documents")
    n_ws = F.size(F.split(F.col("text"), " "))
    n_bpe = F.regexp_count(F.col("text"), F.lit(_BPE_PATTERN))
    return d.select(
        "doc_id",
        n_ws.cast("long").alias("n_ws_tokens"),
        n_bpe.cast("long").alias("n_bpeish_tokens"),
        (F.length("text").cast("double") / n_bpe).alias("chars_per_token"),
    )


TOKEN_COUNT_BPE_SQL = f"""
SELECT doc_id,
  len(string_split(text, ' ')) AS n_ws_tokens,
  len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpeish_tokens,
  CAST(length(text) AS DOUBLE)
    / len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS chars_per_token
FROM documents
"""


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pass every LLM corpus goes through, as one
    declarative plan: quality filter -> exact dedup (keep lowest doc_id
    per content hash) -> deterministic 50 % sample -> emit doc + token
    count.  Only the dedup groupBy shuffles; filter and sample are
    map-side; Catalyst pipelines the whole thing into two stages."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    mean_word_len = (
        (F.length("text") - (F.size(toks) - 1)).cast("double") / F.size(toks)
    )
    quality = d.select(
        "doc_id", "source", "lang", "text", n_tokens.alias("n_tokens")
    ).filter(
        (n_tokens >= 10) & (mean_word_len >= 2.0) & (mean_word_len <= 12.0)
    )
    # Dedup via min(struct): the lexicographic min is the min-doc_id
    # row and carries every output column through ONE shuffle with
    # map-side partial_min — no join-back.  (Struct-valued min has no
    # mutable hash buffer, so Spark plans a SortAggregate; the sort is
    # partition-local on the dedup key and the partial agg still
    # collapses each partition to one row per distinct hash.)
    canonical = (
        quality.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(
            F.min(
                F.struct("doc_id", "source", "lang", "n_tokens")
            ).alias("rep")
        )
        .select("rep.doc_id", "rep.source", "rep.lang", "rep.n_tokens")
    )
    return canonical.filter(F.expr(_H2) < "80").select(
        "doc_id", "source", "lang", F.col("n_tokens").cast("long")
    )


CURATE_CORPUS_SQL = f"""
WITH quality AS (
  SELECT doc_id, source, lang, text,
    len(string_split(text, ' ')) AS n_tokens
  FROM documents
  WHERE len(string_split(text, ' ')) >= 10
    AND CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        / len(string_split(text, ' ')) BETWEEN 2.0e0 AND 12.0e0
),
canonical AS (
  SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
)
SELECT q.doc_id, q.source, q.lang, q.n_tokens
FROM quality q JOIN canonical c ON q.doc_id = c.doc_id
WHERE {_H2_DUCK.replace('doc_id', 'q.doc_id')} < '80'
"""


def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10): each doc's
    split derives from an md5 hash bucket of its id, NOT rand() — the
    production requirement, since a backfill or a second team running
    the split must put every document in the SAME partition, and the
    split must stay stable when the corpus grows (hash of id is
    independent of row order and corpus size, unlike randomSplit or
    ntile).  Map-side projection only — no shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(f"conv(substring({_H2_FULL}, 1, 2), 16, 10)").cast(
        "int"
    )  # 0..255
    split = (
        F.when(bucket < 204, F.lit("train"))  # 204/256 = 79.7%
        .when(bucket < 230, F.lit("val"))  # 26/256 = 10.2%
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", bucket.alias("bucket"), split.alias("split"))


SPLIT_TVT_SQL = f"""
SELECT doc_id,
       CAST(('0x' || {_H2_DUCK}) AS INTEGER) AS bucket,
       CASE WHEN CAST(('0x' || {_H2_DUCK}) AS INTEGER) < 204 THEN 'train'
            WHEN CAST(('0x' || {_H2_DUCK}) AS INTEGER) < 230 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


WEIGHTED_SAMPLE_K = 50


def sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    A-ES): every document draws a deterministic hash-uniform
    u in (0, 1] and is ranked by ln(u)/w (the log-space form of the
    classic u^(1/w) key — same ordering, one transcendental instead of
    two); the global top-{K} by key IS a weighted sample without
    replacement, with inclusion probability proportional to weight.

    This is how a training-data mixer upsamples high-quality documents
    at corpus scale: the key is a map-side projection (no rand(), so
    backfills reproduce the exact sample), and the top-K executes as
    TakeOrderedAndProject — per-partition heaps + a K-row driver merge,
    never a global sort.  Weight here is n_chars (bigger docs more
    likely); any positive quality score plugs in unchanged.

    Float parity: u is an exact dyadic rational (60-bit hash / 2^60),
    identical in both engines; ln() may differ by 1 ulp but adjacent
    keys differ by ~1e-3, so the top-K membership cannot flip.
    """
    d = load_table(spark, sf_dir, "documents")
    u = F.expr(
        "(cast(conv(substring(md5(concat('ws:', cast(doc_id as string))), 1, 15), "
        "16, 10) as double) + 1.0d) / cast(1152921504606846976 as double)"
    )
    key = F.log(u) / F.col("n_chars").cast("double")
    return (
        d.select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
    )


SAMPLE_WEIGHTED_K_SQL = f"""
SELECT doc_id, n_chars AS weight,
  ln((CAST(CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))
        AS BIGINT) AS DOUBLE) + 1.0e0) / CAST(1152921504606846976 AS DOUBLE))
    / CAST(n_chars AS DOUBLE) AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id ASC
LIMIT {WEIGHTED_SAMPLE_K}
"""


def mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture rebalancing (the training-mix step after quality
    filtering): given per-source target WEIGHTS, downsample every
    source so the surviving corpus hits the target proportions exactly,
    without upsampling — the largest mix λ with λ·w_s <= n_s for all s
    (the scarcest source is kept whole, every other source keeps
    floor(λ·w_s) documents).  Quotas are derived in EXACT integer
    arithmetic — the argmin source (n*, w*) is selected by the scaled
    integer key n_s·(6 div w_s) (6 = lcm of the 1..3 weight domain;
    integer-weight generalization scales by the weights' lcm) and
    quota_s = (n*·w_s) div w* — so the "scarcest source kept whole"
    invariant (quota* = n*) holds by identity, not by double rounding
    luck (round-3 ADVICE.md fix).

    Selection is deterministic: documents rank within their source by
    a hash key (never rand()), and rank <= quota keeps — a backfill
    reproduces the exact mix.  Weights here derive from a portable hash
    of the source name (1..3); a real mixer plugs in its learned
    weights as a literal map, nothing else changes.

    Plan: one per-source count aggregate, a 1-row λ broadcast, a
    quota broadcast join, and ONE rank window per source partition.
    At 100 TB the exact-rank window is a per-source sort; if that
    dominates, the documented relaxation is rate-based hash
    THRESHOLDING (keep iff u(doc) < λ·w_s/n_s — no sort, approximate
    counts), same contract minus exactness.
    """
    d = load_table(spark, sf_dir, "documents")
    w_expr = (
        "(1 + CAST(conv(substring(md5(concat('mw:', source)), 1, 15), 16, 10) "
        "AS BIGINT) % 3)"
    )
    counts = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_s"))
        .withColumn("w_s", F.expr(w_expr))
    )
    star = counts.agg(
        F.min(
            F.struct(
                F.expr("n_s * (6 DIV w_s)").alias("rk"),
                F.col("w_s").alias("w_star"),
                F.col("n_s").alias("n_star"),
                F.col("source").alias("src_star"),
            )
        ).alias("m")
    ).select(
        F.col("m.n_star").alias("n_star"), F.col("m.w_star").alias("w_star")
    )
    quotas = counts.crossJoin(F.broadcast(star)).select(
        "source",
        "n_s",
        "w_s",
        F.expr("(n_star * w_s) DIV w_star").alias("quota"),
    )
    from pyspark.sql import Window as W

    key = F.expr(
        "CAST(conv(substring(md5(concat('mx:', cast(doc_id as string))), 1, 15), "
        "16, 10) AS BIGINT)"
    )
    w = W.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    ranked = d.select("doc_id", "source").withColumn(
        "src_rank", F.row_number().over(w).cast("long")
    )
    return ranked.join(F.broadcast(quotas), "source").select(
        "doc_id",
        "source",
        "src_rank",
        "quota",
        (F.col("src_rank") <= F.col("quota")).alias("keep"),
    )


MIXTURE_REBALANCE_SQL = """
WITH w AS (
  SELECT doc_id, source,
    (1 + CAST(('0x' || substring(md5('mw:' || source), 1, 15)) AS BIGINT) % 3)
      AS w_s
  FROM documents
),
counts AS (
  SELECT source, count(*) AS n_s, min(w_s) AS w_s FROM w GROUP BY source
),
star AS (
  SELECT n_s AS n_star, w_s AS w_star
  FROM counts
  ORDER BY n_s * (6 // w_s) ASC, w_s ASC, n_s ASC, source ASC
  LIMIT 1
),
quotas AS (
  SELECT source, n_s, w_s,
    CAST((star.n_star * w_s) // star.w_star AS BIGINT) AS quota
  FROM counts CROSS JOIN star
),
ranked AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY
      CAST(('0x' || substring(md5('mx:' || CAST(doc_id AS VARCHAR)), 1, 15))
        AS BIGINT) ASC, doc_id ASC) AS src_rank
  FROM documents
)
SELECT r.doc_id, r.source, r.src_rank, q.quota,
       (r.src_rank <= q.quota) AS keep
FROM ranked r JOIN quotas q ON r.source = q.source
"""


def pipeline_curate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as ONE declarative plan —
    quality gates -> exact dedup -> eval-set decontamination ->
    train/val/test split -> per-split corpus stats — composed from the
    same rules the individual operators expose, over the dup-injected
    corpus so every stage actually removes something.

    This is the "a user switches their pipeline to this engine" query:
    four stages, and Catalyst fuses the quality projection into the
    dedup shuffle, the decontamination semi-join broadcasts the
    benchmark-sized eval shingle set, and the final stats are one
    3-group aggregate.  Stage order (quality before dedup before
    decontamination) is the production order: each stage shrinks the
    input of the next, and all of it is integer arithmetic — the
    oracle replays the full chain exactly.
    """
    from etl_addresses_spark.operators.dedup import corpus_df
    from etl_addresses_spark.operators.llmtext import _EVAL_MOD, _STOPWORDS

    c = corpus_df(spark, sf_dir)
    toks = F.split("text", " ")
    n = F.size(toks)
    mean_wl = (F.length("text") - (n - 1)).cast("double") / n
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    stop_hits = F.size(
        F.expr(f"filter(split(text, ' '), x -> x IN ({stop_list}))")
    )
    dup_ratio = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n
    quality = c.filter(
        (n >= 10)
        & (n <= 100000)
        & (mean_wl >= 2.0)
        & (mean_wl <= 12.0)
        & (stop_hits >= 1)
        & (dup_ratio <= 0.5)
    )
    canon = (
        quality.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min(F.struct("doc_id", "text")).alias("r"))
        .select(F.col("r.doc_id").alias("doc_id"), F.col("r.text").alias("text"))
    )
    # eval set = base documents with doc_id % 97 == 0; their 4-token
    # shingles contaminate any survivor that shares one
    sh_t = "transform(sequence(1, size(t) - 3), i -> array_join(slice(t, i, 4), ' '))"
    eval_sh = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 4)
        .select(F.explode(F.expr(sh_t)).alias("sh"))
        .distinct()
    )
    canon_sh = (
        canon.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 4)
        .select("doc_id", F.explode(F.expr(sh_t)).alias("sh"))
    )
    contaminated = (
        canon_sh.join(F.broadcast(eval_sh), "sh").select("doc_id").distinct()
    )
    clean = canon.filter(
        ~((F.col("doc_id") < 10000000) & (F.col("doc_id") % _EVAL_MOD == 0))
    ).join(contaminated, "doc_id", "left_anti")
    bucket = F.expr(
        "CAST(conv(substring(md5(cast(doc_id as string)), 1, 2), 16, 10) AS INT)"
    )
    split = (
        F.when(bucket < 204, F.lit("train"))
        .when(bucket < 230, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        clean.select(split.alias("split"), F.size(F.split("text", " ")).alias("nt"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("total_tokens"),
        )
    )


PIPELINE_CURATE_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
         text || ' nd' || CAST(doc_id % 97 AS VARCHAR) AS text
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
),
q AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS n,
    CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
      / len(string_split(text, ' ')) AS mwl,
    len(list_filter(string_split(text, ' '),
        x -> x IN ('a', 'the', 'of', 'to', 'and'))) AS nstop,
    1.0e0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      / len(string_split(text, ' ')) AS dup_ratio
  FROM corpus
),
quality AS (
  SELECT doc_id, text FROM q
  WHERE n >= 10 AND n <= 100000 AND mwl >= 2.0e0 AND mwl <= 12.0e0
    AND nstop >= 1 AND dup_ratio <= 0.5e0
),
canon AS (
  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
  FROM quality GROUP BY md5(text)
),
ev AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE doc_id % 97 = 0 AND len(string_split(text, ' ')) >= 4
),
eval_sh AS (
  SELECT DISTINCT array_to_string(t[i : i + 3], ' ') AS sh
  FROM (SELECT t, unnest(generate_series(1, len(t) - 3)) AS i FROM ev)
),
cs AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - 3)) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM canon
        WHERE len(string_split(text, ' ')) >= 4)
),
contaminated AS (
  SELECT DISTINCT cs.doc_id
  FROM cs JOIN eval_sh e ON array_to_string(cs.t[cs.i : cs.i + 3], ' ') = e.sh
),
clean AS (
  SELECT c.doc_id, c.text FROM canon c
  WHERE NOT (c.doc_id < 10000000 AND c.doc_id % 97 = 0)
    AND NOT EXISTS (SELECT 1 FROM contaminated x WHERE x.doc_id = c.doc_id)
)
SELECT
  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) < 204
       THEN 'train'
       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) < 230
       THEN 'val' ELSE 'test' END AS split,
  count(*) AS n_docs,
  -- CAST: DuckDB sum() over integers yields HUGEINT, whose repr
  -- diverges from Spark's bigint on pandas/Arrow fetch paths
  -- (round-3 driver hash-mismatch root cause; tools/type_audit.py).
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
FROM clean GROUP BY 1
"""


def interval_overlap_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-LARGE tier of the interval-overlap join: both sides
    explode into the fixed-width time bins they span, candidates form
    by plain equi-join on the bin id, the exact overlap predicate
    verifies them, and (session, window) pairs dedup before the final
    aggregate.  Identical output to `interval_overlap_join` — the two
    plans share ONE oracle (two physical strategies, one answer), the
    same pattern as the flagship's grid-vs-broadcast tiers.

    This is the plan that survives when BOTH interval sides are too
    large to broadcast: shuffle volume is O(rows x bins-spanned)
    instead of O(|A| x |B|), bin width trades duplication against
    candidate selectivity, and AQE splits any hot bin.  Bin width here
    = the 2-hour window length (every window spans <= 2 bins; sessions
    are gap-bounded and span few)."""
    from etl_addresses_spark.plans.timeseries import events_sessionize

    sessions = events_sessionize(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    windows = (
        e.select(
            (F.unix_micros("ts") / F.lit(_SIX_H_US)).cast("long").alias("bucket")
        )
        .distinct()
        .select(
            (F.col("bucket") * _SIX_H_US).alias("win_start_us"),
            (F.col("bucket") * _SIX_H_US + _TWO_H_US).alias("win_end_us"),
        )
    )
    b = _TWO_H_US
    s_b = sessions.withColumn(
        "bin",
        F.explode(F.expr(f"sequence(start_us div {b}, end_us div {b})")),
    )
    w_b = windows.withColumn(
        "bin",
        F.explode(
            F.expr(f"sequence(win_start_us div {b}, win_end_us div {b})")
        ),
    )
    overlap = (F.col("start_us") <= F.col("win_end_us")) & (
        F.col("end_us") >= F.col("win_start_us")
    )
    pairs = (
        s_b.join(w_b, "bin")
        .filter(overlap)
        .drop("bin")
        .distinct()  # a pair can co-occupy several bins
    )
    return pairs.groupBy("win_start_us").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- deterministic epoch shuffle (training order) ------------------------

TRAIN_SHUFFLE_EPOCH = 17


def train_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, epoch-seeded GLOBAL shuffle order for training:
    every document gets a unique position 1..N in the pseudorandom
    order md5(epoch || doc_id) — rerunnable (same epoch -> same order,
    next epoch -> independent order), which is what makes training
    runs reproducible and resumable mid-epoch.

    The scale problem is the global index: a row_number over a global
    ORDER BY is a single-partition window.  Instead the HASH KEYSPACE
    itself is the partitioner: bucket = first 2 hex chars of the hash
    (256 ranges of equal expected mass; use 4 chars at 100 TB), so

      pos = (rows in lower buckets) + rank within own bucket.

    Per-bucket ranks need one hash shuffle on `bucket`; the offsets
    are a 256-row aggregate cum-summed on the driver-side-tiny window
    and broadcast back.  No range sampling, no single-partition sort,
    and positions are exactly the global sort order because the
    bucket prefix orders consistently with the full hash string.

    Reference parity: the reference's ETL has no epoch shuffling
    (SURVEY.md §2 extension surface) — this is the training-data
    pipeline operator set, same family as sample_*/mixture_rebalance.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.concat(F.lit(f"epoch{TRAIN_SHUFFLE_EPOCH}:"), F.col("doc_id").cast("string"))
    )
    keyed = d.select("doc_id", h.alias("h"), F.substring(h, 1, 2).alias("bucket"))
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    offsets = counts.select(
        "bucket",
        (
            F.sum("n").over(
                W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
            )
        ).alias("off"),
    ).fillna(0, subset=["off"])
    ranked = keyed.withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("bucket").orderBy("h", "doc_id")
        ),
    )
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .select("doc_id", (F.col("off") + F.col("r")).cast("long").alias("pos"))
    )


TRAIN_ORDER_SHUFFLE_SQL = f"""
SELECT doc_id,
       row_number() OVER (
         ORDER BY md5('epoch{TRAIN_SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR)),
                  doc_id) AS pos
FROM documents
"""
