"""LLM training-data operators, batch 2: decontamination, chunking,
sequence packing, PII redaction, Gopher-style quality flags, and BM25
retrieval.  These extend the curation surface (operators/curation.py)
with the remaining shapes a 100 TB pretraining pipeline runs.

Design rules shared with the rest of the repo:
- pure JVM column expressions (zero Python UDFs) so every operator
  stays inside whole-stage codegen;
- every query carries a DuckDB oracle with bit-level parity (e0 float
  literals, explicit casts, identical association order, no log());
- joins broadcast their provably-small side; the only shuffles are the
  groupBys the semantics require.

Scale notes per operator in the docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_addresses_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Benchmark decontamination: drop/flag training docs that share any
# 8-token shingle with the held-out eval set.  The eval set here is the
# deterministic doc_id % 97 == 0 slice standing in for a benchmark
# suite; in production it is a separate (small) table.
# ---------------------------------------------------------------------------

# 4-token shingles: real pipelines use 8-13 (GPT-3 appendix C used
# 13-grams), but the synthetic fixture vocabulary is ~20 words, so 4
# is the smallest n that still yields a non-vacuous (and non-dense)
# contamination set to verify against.
_SHINGLE_N = 4
_EVAL_MOD = 97

# Operates on a pre-materialized token-array column `t` — inlining
# split() here would re-run the regex split per slice() call inside the
# lambda (Spark does not CSE across lambda boundaries; see SCALE.md).
_SHINGLES_EXPR = (
    "transform(sequence(1, size(t) - {m}), "
    "i -> array_join(slice(t, i, {n}), ' '))"
).format(m=_SHINGLE_N - 1, n=_SHINGLE_N)


def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag training documents contaminated by eval-set n-gram overlap
    (the Brown et al. GPT-3 appendix-C decontamination shape).

    Plan: explode token shingles once, split eval/train on the doc_id
    slice, broadcast the (tiny) distinct eval-shingle set into a hash
    semi-join, count distinct hits per training doc.  At 100 TB the
    eval side stays benchmark-sized (millions of shingles, still
    broadcastable); shingles would be xxhash64-compressed to 8 bytes
    before the shuffle — kept as strings here for oracle portability.
    """
    d = load_table(spark, sf_dir, "documents")
    shingled = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= _SHINGLE_N)
        .select("doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("sh"))
    )
    eval_sh = (
        shingled.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select("sh")
        .distinct()
    )
    train = shingled.filter(F.col("doc_id") % _EVAL_MOD != 0)
    return (
        train.join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_contaminated_shingles"))
    )


DECONTAMINATE_NGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {_SHINGLE_N}
),
starts AS (
  SELECT doc_id, t,
    unnest(generate_series(1, len(t) - {_SHINGLE_N - 1})) AS i
  FROM toks
),
shingles AS (
  SELECT doc_id, array_to_string(t[i : i + {_SHINGLE_N - 1}], ' ') AS sh
  FROM starts
),
eval_sh AS (
  SELECT DISTINCT sh FROM shingles WHERE doc_id % {_EVAL_MOD} = 0
)
SELECT s.doc_id, count(DISTINCT s.sh) AS n_contaminated_shingles
FROM shingles s JOIN eval_sh e USING (sh)
WHERE s.doc_id % {_EVAL_MOD} <> 0
GROUP BY s.doc_id
"""

# ---------------------------------------------------------------------------
# Context-window chunking: overlapping fixed-size token windows.
# ---------------------------------------------------------------------------

_CHUNK_W = 64   # window size (tokens)
_CHUNK_S = 48   # stride -> 16-token overlap

_CHUNKS_EXPR = (
    "transform(sequence(0, size(split(text, ' ')) - 1, {s}), "
    "st -> struct(st as start, "
    "array_join(slice(split(text, ' '), st + 1, {w}), ' ') as chunk))"
).format(s=_CHUNK_S, w=_CHUNK_W)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping 64-token windows with a
    48-token stride — the tokenize-and-chunk step before sequence
    packing.  Narrow map-side explode: no shuffle at all, so the plan
    is embarrassingly parallel at any scale; output size is bounded by
    (1 + 1/3) x input tokens from the overlap."""
    d = load_table(spark, sf_dir, "documents")
    c = d.select("doc_id", F.explode(F.expr(_CHUNKS_EXPR)).alias("c"))
    chunk_toks = F.split(F.col("c.chunk"), " ")
    return c.select(
        "doc_id",
        (F.col("c.start") / _CHUNK_S).cast("long").alias("chunk_idx"),
        F.size(chunk_toks).cast("long").alias("n_chunk_tokens"),
        F.md5(F.col("c.chunk").cast("binary")).alias("chunk_hash"),
    )


CHUNK_DOCUMENTS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
starts AS (
  SELECT doc_id, t,
    unnest(generate_series(0, len(t) - 1, {_CHUNK_S})) AS st
  FROM toks
)
SELECT doc_id,
  st // {_CHUNK_S} AS chunk_idx,
  len(t[st + 1 : st + {_CHUNK_W}]) AS n_chunk_tokens,
  md5(array_to_string(t[st + 1 : st + {_CHUNK_W}], ' ')) AS chunk_hash
FROM starts
"""

# ---------------------------------------------------------------------------
# Sequence packing: concat-and-split docs into fixed token budgets.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed 256-token training bins with the
    concat-then-chunk strategy (each doc lands in the bin its running
    offset starts in).  The running offset is a cumulative sum
    partitioned BY SOURCE — that is the scale design: packing is
    stream-local per shard, so no global ordering is ever needed and
    each partition packs independently at 100 TB.  One shuffle on
    source for the window + one for the bin rollup."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("offset")
    return (
        d.select("doc_id", "source", n.alias("n_tokens"))
        .select("doc_id", "source", "n_tokens", offset)
        .select(
            "source",
            F.floor(F.col("offset") / _PACK_BUDGET).alias("bin"),
            "n_tokens",
        )
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_packed"),
        )
    )


PACK_SEQUENCES_SQL = f"""
WITH sized AS (
  SELECT doc_id, source,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
placed AS (
  SELECT source, n_tokens,
    COALESCE(CAST(sum(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      0) AS "offset"
  FROM sized
)
SELECT source, "offset" // {_PACK_BUDGET} AS bin,
  count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_packed
FROM placed
GROUP BY source, "offset" // {_PACK_BUDGET}
"""

# ---------------------------------------------------------------------------
# PII redaction: regex scrub of emails/phones with audit counts.
# ---------------------------------------------------------------------------

# ASCII-only classes so Java regex (Spark) and RE2 (DuckDB) agree.
_EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
_PHONE_RE = "[+][0-9][0-9-]{6,}"


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction with audit counts.  The fixtures carry no
    PII, so the query first derives a deterministic contact line from
    doc_id (identically in the oracle) and then redacts it — the regex
    plumbing under test is the production path.  Pure map-side
    regexp_replace/regexp_count: no shuffle, codegen-friendly, and at
    100 TB this is the canonical cheap-pass-before-expensive-pass
    (redact before dedup so hashes agree post-scrub)."""
    d = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    no_email = F.regexp_replace(synth, _EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(no_email, _PHONE_RE, "<PHONE>")
    return d.select(
        "doc_id",
        F.regexp_count(synth, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(synth, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted.cast("binary")).alias("redacted_hash"),
    )


PII_REDACT_SQL = """
WITH synth AS (
  SELECT doc_id,
    'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text AS s
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(s, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+')) AS n_emails,
  len(regexp_extract_all(s, '[+][0-9][0-9-]{6,}')) AS n_phones,
  length(regexp_replace(regexp_replace(s,
    '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
    '[+][0-9][0-9-]{6,}', '<PHONE>', 'g')) AS redacted_len,
  md5(regexp_replace(regexp_replace(s,
    '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
    '[+][0-9][0-9-]{6,}', '<PHONE>', 'g')) AS redacted_hash
FROM synth
"""

# ---------------------------------------------------------------------------
# Gopher-style quality gates (Rae et al. 2021 §A1.1, adapted to the
# synthetic corpus): word count, mean word length, stopword presence,
# and a repetition ratio, emitted as auditable per-doc flags.
# ---------------------------------------------------------------------------

_STOPWORDS = ("a", "the", "of", "to", "and")


def quality_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality gates in one narrow projection (no shuffle,
    no UDF): every rule is a column expression over the token array, so
    the whole filter runs map-side inside codegen at any scale.  Flags
    are emitted individually (not just the final keep) because corpus
    audits need per-rule drop rates."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    mean_wl = (F.length("text") - (n - 1)).cast("double") / n
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    stop_hits = F.size(
        F.expr(f"filter(split(text, ' '), x -> x IN ({stop_list}))")
    )
    dup_ratio = F.lit(1.0) - F.size(F.array_distinct(toks)).cast(
        "double"
    ) / n
    ok_nwords = (n >= 10) & (n <= 100000)
    ok_meanwl = (mean_wl >= 2.0) & (mean_wl <= 12.0)
    has_stop = stop_hits >= 1
    ok_rep = dup_ratio <= 0.5
    return d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        stop_hits.cast("long").alias("n_stopwords"),
        dup_ratio.alias("dup_ratio"),
        ok_nwords.alias("ok_nwords"),
        ok_meanwl.alias("ok_meanwl"),
        has_stop.alias("has_stop"),
        ok_rep.alias("ok_rep"),
        (ok_nwords & ok_meanwl & has_stop & ok_rep).alias("keep"),
    )


QUALITY_GOPHER_SQL = f"""
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
    len(string_split(text, ' ')) AS n
  FROM documents
),
m AS (
  SELECT doc_id, n,
    CAST(length(text) - (n - 1) AS DOUBLE) / n AS mean_word_len,
    len(list_filter(toks, x -> x IN
      ({", ".join(f"'{s}'" for s in _STOPWORDS)}))) AS n_stopwords,
    1.0e0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n AS dup_ratio
  FROM t
)
SELECT doc_id, CAST(n AS BIGINT) AS n_words, mean_word_len,
  CAST(n_stopwords AS BIGINT) AS n_stopwords, dup_ratio,
  (n >= 10 AND n <= 100000) AS ok_nwords,
  (mean_word_len >= 2.0e0 AND mean_word_len <= 12.0e0) AS ok_meanwl,
  (n_stopwords >= 1) AS has_stop,
  (dup_ratio <= 0.5e0) AS ok_rep,
  ((n >= 10 AND n <= 100000) AND (mean_word_len >= 2.0e0 AND
    mean_word_len <= 12.0e0) AND (n_stopwords >= 1) AND
    (dup_ratio <= 0.5e0)) AS keep
FROM m
"""

# ---------------------------------------------------------------------------
# BM25 top-k retrieval for a fixed query, with a linear (log-free) idf
# so the scores are bit-identical across engines (libm log() differs
# by ulps between JVM and DuckDB — see memory/parity notes).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("table", "hash", "scan", "merge")
_BM25_K1 = "1.2e0"
_BM25_B = "0.75e0"
_BM25_TOPK = 20


def _tf(term: str) -> F.Column:
    return F.size(F.expr(f"filter(split(text, ' '), x -> x = '{term}')"))


def _bm25_score_col() -> F.Column:
    """The BM25 score as one Column expression over the canonical
    scored-frame columns (dl, tf_<term>, n_docs, avgdl, df_<term>) —
    the SINGLE source both tiers evaluate, so the dense and inverted
    plans are bit-equal by construction, not by copy (r10 review).
    Association is pinned: ((t0 + t1) + t2) + t3."""
    k1, b = float(_BM25_K1[:-2]), float(_BM25_B[:-2])

    def term_score(t: str) -> F.Column:
        tf = F.col(f"tf_{t}")
        idf = (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (
            F.col(f"df_{t}") + 0.5
        )
        denom = tf + k1 * (
            (1.0 - b) + b * (F.col("dl") / F.col("avgdl"))
        )
        return idf * ((tf * (k1 + 1.0)) / denom)

    s = _BM25_TERMS
    score = (
        (term_score(s[0]) + term_score(s[1]))
        + term_score(s[2])
    ) + term_score(s[3])
    return score


def bm25_scored(d: DataFrame) -> DataFrame:
    """(doc_id, bm25) scores for the fixed query over a documents
    frame — the scoring seam bm25_topk and the RRF hybrid fusion row
    (operators/retrieval.py) share, so the two can never drift.

    Plan shape: one narrow pass computes per-doc term frequencies and
    doc length; one global aggregate (a single 1-row reduce) yields N,
    avgdl and per-term document frequencies; the 1-row stats frame is
    broadcast back via crossJoin so scoring stays map-side.  At 100 TB
    the stats pass is one cheap reduce and scoring remains
    embarrassingly parallel; for open-vocabulary queries the same plan
    becomes an inverted-index join (explode terms -> semi-join query
    terms -> groupBy doc), which `text_top_terms` already demonstrates.

    idf is the "linear" (log-free) variant (N - df + 0.5)/(df + 0.5):
    rank-equivalent to Robertson idf for single-query scoring and
    bit-portable across engines.
    """
    per_doc = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("double").alias("dl"),
        *[_tf(t).cast("double").alias(f"tf_{t}") for t in _BM25_TERMS],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("double")).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    return scored.select("doc_id", _bm25_score_col().alias("bm25"))


# Regime gate (r10 verdict item 5, the fuzzy-dispatcher precedent):
# the dense tier widens ONE COLUMN PER QUERY TERM over the whole
# corpus — unbeatable for a small fixed vocabulary on a small corpus
# (one narrow pass, no explode) — while the inverted postings tier is
# corpus-FLAT (its scored set is only term-matching docs; 30x ladder:
# 1.09x wall).  Crossover measured directly (r11, best-of-3 per
# scale): docs plan-bytes 0.6 MB -> dense 0.80 s vs inverted 1.21 s;
# 6.7 MB -> 2.29 vs 1.10; 21.5 MB -> 5.88 vs 1.82.  The gate sits at
# the geometric middle of the bracketing points; the bytes come from
# Catalyst file statistics (no job).  The two tiers are STRICT
# hash-equal (bm25_topk_inverted shares BM25_TOPK_SQL verbatim), so
# the gate can never change results — only the physical plan.
BM25_DENSE_MAX_BYTES = 2 << 20


def bm25_tier_for(nbytes: int) -> str:
    """'dense' below the corpus-bytes gate, 'inverted' past it."""
    return "dense" if nbytes <= BM25_DENSE_MAX_BYTES else "inverted"


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the fixed query {table hash scan merge} —
    regime-gated dispatcher: dense per-term-column tier below
    BM25_DENSE_MAX_BYTES of corpus, inverted postings tier past it
    (see bm25_tier_for above; both end in TakeOrderedAndProject)."""
    from etl_addresses_spark.functions.sizing import plan_size_bytes

    d = load_table(spark, sf_dir, "documents")
    if bm25_tier_for(plan_size_bytes(d)) == "inverted":
        return bm25_topk_inverted(spark, sf_dir)
    return (
        bm25_scored(d)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )


def bm25_topk_inverted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 by the INVERTED-INDEX plan — the open-vocabulary
    scale tier bm25_scored's docstring points at, now a checked row
    against the SAME oracle (two algorithms, one answer).

    The dense path widens one column per query term — fine for a
    4-term fixed query, impossible for a 100-term or user-supplied
    query.  This plan is rows, not columns: explode tokens, semi-join
    the (broadcast) query-term list so only matching postings survive,
    and aggregate tf per (doc, term) — the classic postings-list shape
    whose scored set is only the documents containing >= 1 query term
    (at 100 TB with selective terms, a tiny fraction of the corpus).
    Doc length and the corpus stats still take one narrow full pass —
    identical to the dense tier, because avgdl/N are corpus
    quantities.

    Exact-equality contract: tf values pivot BACK to one column per
    term (max(case) over the model-sized per-term rows) and the final
    score reuses the IDENTICAL expression tree as bm25_scored — same
    operands, same association, bit-equal doubles — so this row shares
    BM25_TOPK_SQL verbatim (like cosine_topk_fast sharing
    COSINE_TOPK_SQL).  A doc containing NO query term scores exactly
    0.0 in the dense tier (every term_score has a tf factor), so the
    two top-20s coincide whenever >= 20 docs match any term — true of
    every fixture (test-pinned) and of any realistic query; the
    general-case finisher would union zero-score doc_ids, which would
    re-scan the corpus for nothing here.
    """
    d = load_table(spark, sf_dir, "documents")
    per_doc_len = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("double").alias("dl")
    )
    terms_df = spark.createDataFrame(
        [(t,) for t in _BM25_TERMS], "tok string"
    )
    postings = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .join(F.broadcast(terms_df), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    # pivot the (doc, term, tf) rows back to the dense tier's column
    # shape; missing terms are tf = 0.0 exactly as the dense filter
    # computes them
    tf_cols = postings.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("tok") == t, F.col("tf"))), F.lit(0.0)
            ).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ]
    )
    # corpus stats: n_docs + avgdl from the narrow length pass; df per
    # term from the postings (a term's df = docs with tf > 0, and
    # postings only holds tf >= 1 rows — same value as the dense
    # sum(tf > 0))
    len_stats = per_doc_len.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    df_stats = postings.groupBy().pivot("tok", list(_BM25_TERMS)).agg(
        F.count(F.lit(1)).cast("double")
    )
    df_stats = df_stats.select(
        *[
            F.coalesce(F.col(t), F.lit(0.0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ]
    )
    stats = len_stats.crossJoin(F.broadcast(df_stats))
    scored = (
        tf_cols.join(per_doc_len, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    topk = (
        scored.select("doc_id", _bm25_score_col().alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_BM25_TOPK)
    )
    # r10 advice: the shared dense oracle pads its top-20 with
    # zero-score docs (ordered by doc_id) when FEWER than _BM25_TOPK
    # documents contain any query term; this postings plan cannot see
    # those docs, so a violating corpus must fail loudly instead of
    # silently hash-diverging.  The check rides the already-limited
    # <=20-row result (a single-partition count over 20 rows — free):
    # assert_true returns NULL on success, coalesce turns that into a
    # keep-all filter, and a short scored set raises at runtime.
    n_rows = F.count(F.lit(1)).over(Window.partitionBy())
    return (
        topk.withColumn("_n", n_rows)
        .where(
            F.coalesce(
                F.assert_true(
                    F.col("_n") == F.lit(_BM25_TOPK),
                    F.lit(
                        "bm25_topk_inverted: scored set smaller than k;"
                        " dense-oracle zero-pad parity precondition violated"
                    ),
                ).isNull(),
                F.lit(True),
            )
        )
        .select("doc_id", "bm25")
    )


def _duck_tf(term: str) -> str:
    return f"CAST(len(list_filter(toks, x -> x = '{term}')) AS DOUBLE)"


def _duck_term_score(t: str) -> str:
    k1, b = _BM25_K1, _BM25_B
    idf = f"((n_docs - df_{t} + 0.5e0) / (df_{t} + 0.5e0))"
    denom = f"(tf_{t} + {k1} * ((1.0e0 - {b}) + {b} * (dl / avgdl)))"
    return f"({idf} * ((tf_{t} * ({k1} + 1.0e0)) / {denom}))"


# CTE block ending in bm25_scored(doc_id, bm25) — shared verbatim by
# BM25_TOPK_SQL and the RRF hybrid oracle (operators/retrieval.py), the
# same single-source rule as the Spark-side bm25_scored seam.
BM25_SCORED_CTES = f"""per_doc AS (
  SELECT doc_id,
    CAST(len(toks) AS DOUBLE) AS dl,
    {", ".join(
        _duck_tf(t) + f" AS tf_{t}" for t in _BM25_TERMS
    )}
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
    sum(dl) / CAST(count(*) AS DOUBLE) AS avgdl,
    {", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1.0e0 ELSE 0.0e0 END) AS df_{t}"
        for t in _BM25_TERMS
    )}
  FROM per_doc
),
bm25_scored AS (
  SELECT doc_id,
    ((({_duck_term_score(_BM25_TERMS[0])} + {_duck_term_score(_BM25_TERMS[1])})
      + {_duck_term_score(_BM25_TERMS[2])})
      + {_duck_term_score(_BM25_TERMS[3])}) AS bm25
  FROM per_doc CROSS JOIN stats
)"""

BM25_TOPK_SQL = f"""
WITH {BM25_SCORED_CTES}
SELECT doc_id, bm25
FROM bm25_scored
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# Within-document n-gram repetition (the Gopher "repetition" section,
# word-level): fraction of duplicate bigrams/trigrams plus the share of
# the single most-repeated bigram.  Complements quality_gopher_flags's
# unigram dup_ratio — machine-generated spam repeats PHRASES, which
# unigram stats miss entirely.
# ---------------------------------------------------------------------------


def repetition_ngram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document phrase-repetition signals as pure column
    expressions: no shuffle, no UDF — the whole computation is one
    map-side projection inside codegen, embarrassingly parallel at any
    scale.  The per-row cost of the top-bigram share is
    O(distinct * total) over a single document's bigrams, bounded by
    document length, not corpus size.  Thresholds calibrated so the
    fixture corpus fails a non-trivial minority of docs (dup-bigram
    p90 is 0.065)."""
    d = load_table(spark, sf_dir, "documents")
    # Materialize the token array ONCE: Spark does not CSE a split()
    # referenced inside a lambda, so inlining it re-ran the regex split
    # per element_at call — ~2 x doc_len splits per row, measured as
    # 2.5 s of the entry's 6.7 s at sf0.1.  Referencing the column
    # splits once per row.
    toks = "toks"
    bg = (
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1)))"
    )
    tg = (
        f"transform(sequence(1, size({toks}) - 2), "
        f"i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1), "
        f"' ', element_at({toks}, i + 2)))"
    )
    base = d.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.expr(bg).alias("bg"), F.expr(tg).alias("tg")
    )
    dup_bg = F.lit(1.0) - (
        F.size(F.array_distinct(F.col("bg"))).cast("double")
        / F.size(F.col("bg"))
    )
    dup_tg = F.lit(1.0) - (
        F.size(F.array_distinct(F.col("tg"))).cast("double")
        / F.size(F.col("tg"))
    )
    # Max bigram multiplicity == longest equal run in the SORTED bigram
    # array: an O(d log d) sort + one O(d) fold, replacing the earlier
    # distinct x filter scan whose O(distinct * total) string
    # comparisons dominated the whole bench entry (6.7 s -> 0.5 s at
    # sf0.1 for identical output values).
    top_bg = F.expr(
        "cast(aggregate(array_sort(bg), "
        "struct(cast(null as string) as prev, 0 as run, 0 as best), "
        "(acc, x) -> struct(x, "
        "IF(x <=> acc.prev, acc.run + 1, 1), "
        "greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))), "
        "acc -> acc.best) as double) / size(bg)"
    )
    return base.select(
        "doc_id",
        dup_bg.alias("dup_bigram_frac"),
        dup_tg.alias("dup_trigram_frac"),
        top_bg.alias("top_bigram_frac"),
        (dup_bg <= 0.1).alias("ok_rep_bigram"),
        (dup_tg <= 0.05).alias("ok_rep_trigram"),
        (top_bg <= 0.1).alias("ok_top_bigram"),
        ((dup_bg <= 0.1) & (dup_tg <= 0.05) & (top_bg <= 0.1)).alias(
            "keep"
        ),
    )


REPETITION_NGRAM_SQL = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
b AS (
  SELECT doc_id,
    list_transform(generate_series(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i+1]) AS bg,
    list_transform(generate_series(1, len(toks) - 2),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tg
  FROM t
),
m AS (
  SELECT doc_id,
    1.0e0 - (CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)) AS dup_bigram_frac,
    1.0e0 - (CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)) AS dup_trigram_frac,
    CAST(list_max(list_transform(list_distinct(bg),
      x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg) AS top_bigram_frac
  FROM b
)
SELECT doc_id, dup_bigram_frac, dup_trigram_frac, top_bigram_frac,
  (dup_bigram_frac <= 0.1e0) AS ok_rep_bigram,
  (dup_trigram_frac <= 0.05e0) AS ok_rep_trigram,
  (top_bigram_frac <= 0.1e0) AS ok_top_bigram,
  (dup_bigram_frac <= 0.1e0 AND dup_trigram_frac <= 0.05e0
    AND top_bigram_frac <= 0.1e0) AS keep
FROM m
"""


QUERIES = {
    "decontaminate_ngram": (decontaminate_ngram, DECONTAMINATE_NGRAM_SQL),
    "chunk_documents": (chunk_documents, CHUNK_DOCUMENTS_SQL),
    "pack_sequences": (pack_sequences, PACK_SEQUENCES_SQL),
    "pii_redact": (pii_redact, PII_REDACT_SQL),
    "quality_gopher_flags": (quality_gopher_flags, QUALITY_GOPHER_SQL),
    "bm25_topk": (bm25_topk, BM25_TOPK_SQL),
    # round 10: the inverted-postings tier scores bit-identically to
    # the dense tier (pivoted tf + identical expression tree), so it
    # shares the oracle — the cosine_topk_fast precedent
    "bm25_topk_inverted": (bm25_topk_inverted, BM25_TOPK_SQL),
    "repetition_ngram_score": (repetition_ngram_score, REPETITION_NGRAM_SQL),
}
