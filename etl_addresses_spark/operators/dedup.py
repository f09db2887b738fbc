"""Document deduplication operators (training-data-pipeline surface).

The driver's testdata has no duplicate texts, so a deterministic
dup-injected corpus is derived first (exact copies + near-dup copies
with an appended suffix) — the derivation is plain SQL, so every
dedup operator stays oracle-checkable end-to-end.

Operators:
* exact dedup         — hash-groupBy on text (md5), min-id representative
* n-gram Jaccard      — EXACT word-3-shingle Jaccard pairs via inverted
                        shingle index self-join (the scalable pattern:
                        explode -> equi-join on shingle -> count agg; no
                        cross join ever materializes)
* MinHash + LSH       — 64-perm MinHash signatures, 16 bands x 4 rows,
                        bucket self-join for candidate pairs,
                        exact-Jaccard verification of candidates
                        (banding is the 100 TB path: candidates per
                        bucket, never all-pairs)
* SimHash             — 60-bit sign-sum fingerprint over token hashes
* keep-best           — cluster representative selection (longest text,
                        min-id ties) over the connected components

At 100 TB: every step is explode + hash-shuffle + agg on bounded keys;
shingle/bucket skew is handled by AQE skew-join splitting.

All hashing uses a PORTABLE 60-bit hash (top 15 hex chars of md5,
parsed to bigint) that Spark (`conv(substr(md5(x),1,15),16,10)`) and
DuckDB (`CAST('0x' || substr(md5(x),1,15) AS BIGINT)`) compute
identically, so MinHash-LSH and SimHash are fully oracle-checked —
same md5 of the same utf-8 bytes, same 60-bit prefix, no engine-
specific xxhash.  60 bits keeps the value positive in a signed int64
on both engines (hash quality is unchanged: md5 bits are uniform).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.ckpt import CheckpointChain
from etl_addresses_spark.functions.sizing import loop_partitions
from etl_addresses_spark.session import scoped_shuffle_partitions
from etl_addresses_spark.sources.tables import load_table

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
MINHASH_PERMS = 64
LSH_BANDS = 16  # 16 bands x 4 rows
LSH_ROWS = MINHASH_PERMS // LSH_BANDS


def _dup_copies(d: DataFrame) -> DataFrame:
    """The injected duplicates of the (doc_id, text) frame `d`: every
    doc_id % 3 == 0 gains a near-dup copy (suffix appended) at
    id+10000000; every doc_id % 4 == 0 gains an exact copy at
    id+20000000.  DuckDB twin: DUP_COPIES_SQL."""
    # The appended marker word varies per doc (doc_id % 97): a constant
    # suffix would put one white-hot shingle in EVERY near-dup copy and
    # the inverted-index self-join would build a dense clique of
    # candidate pairs around it (measured ~10M pairs at sf0.1).
    near = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" nd"), (F.col("doc_id") % 97).cast("string")
        ).alias("text"),
    )
    exact = d.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 20000000).alias("doc_id"), F.col("text")
    )
    return near.unionByName(exact)


def corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + injected duplicates (deterministic, SQL-mirrored by
    CORPUS_CTE).  Catalyst flattens the nested union, so the plan
    scans three branches of one union."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.unionByName(_dup_copies(d))


DUP_COPIES_SQL = """
  SELECT doc_id + 10000000 AS doc_id,
         text || ' nd' || CAST(doc_id % 97 AS VARCHAR) AS text
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0"""

CORPUS_CTE = f"""
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL{DUP_COPIES_SQL}
)
"""


# --- exact dedup ---------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min doc_id) per distinct text.
    Pure hash aggregation — map-side combine, shuffles only
    (text_hash, min_id, count) partials at scale."""
    c = corpus_df(spark, sf_dir)
    return (
        c.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = (
    "WITH " + CORPUS_CTE.strip() + """
SELECT md5(text) AS text_hash, min(doc_id) AS rep_doc_id, count(*) AS n_copies
FROM corpus GROUP BY md5(text)
"""
)


# --- shingles + exact n-gram Jaccard -------------------------------------


def _shingles(c: DataFrame) -> DataFrame:
    """Distinct word-3-shingles per doc (explode; docs with < 3 words
    produce none).

    The split-words array is materialized in its own projection first:
    inlining `split(text)` into the per-element lambda would re-split
    the whole text for every element access (O(words^2) per doc —
    measured 4x slowdown on long docs).

    The dedup exchange carries an EXPLICIT width (cpu_partitions —
    AQE neither splits nor coalesces a user-specified numPartitions):
    every consumer caches this frame and runs CPU-dense work on its
    partitioning (64-permutation MinHash, md5 banding, the inverted
    self-join), and AQE's byte-based coalescing serialized exactly
    that work onto one partition in the r11 parallelismFirst A/B
    (minhash_lsh_pairs 3.66x).

    The exchange keys by doc_id ALONE (r15, guide §2.4 "two operations
    keyed the same way can share one exchange"): hash(doc_id) is a
    KEY-SUBSET clustering of (doc_id, shingle), so it still satisfies
    dropDuplicates' requirement (all rows of a doc land together) and
    the explicit exchange still REPLACES the distinct's own shuffle —
    but now every DOC-KEYED consumer downstream reuses the cached
    partitioning with NO further exchange: the MinHash seed aggregation
    (formerly a second full repartition("doc_id") of the hashed
    shingle set), the banding pivot, the per-doc size counts, and the
    candidate-verification joins on doc ids.  Probe-verified on this
    Spark (4.1.2, canChangeCachedPlanOutputPartitioning=false): the
    cached subplan's hashpartitioning IS visible through the
    InMemoryRelation + the dropDuplicates aggregate, so consumers plan
    partial+final aggregates with zero Exchange — the r14 attempt's
    "AQE hides cached partitioning" diagnosis does not reproduce; its
    pathological minhash A/B (growing repeats 14.8→98.6 s) carries the
    contended-host signature this round reproduced on UNCHANGED code
    (triangle_count 9.8→29.9→67.8 s in one contaminated run)."""
    from etl_addresses_spark.functions.sizing import cpu_partitions

    words = c.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    w = F.col("w")
    sh = F.when(
        F.size(w) >= SHINGLE_N,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - SHINGLE_N),
            lambda i: F.concat_ws(
                " ", w.getItem(i), w.getItem(i + 1), w.getItem(i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        words.select("doc_id", F.explode(sh).alias("shingle"))
        .repartition(cpu_partitions(c), "doc_id")
        .dropDuplicates()
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs_for(corpus_df(spark, sf_dir))


def ngram_jaccard_pairs_for(corpus: DataFrame) -> DataFrame:
    """All doc pairs with word-3-shingle Jaccard >= JACCARD_THRESHOLD, computed
    exactly via the inverted-index self-join (pairs only materialize
    for docs sharing at least one shingle).

    r14 note: a posting-list pair-explode restructure (ONE
    groupBy(shingle) exchange + local higher-order-function pair
    expansion instead of the two-sided self-join) was landed, measured
    wall-NEUTRAL at sf0.1, and then REVERTED: the posting-aggregation
    subtree's constraints survive `localCheckpoint` (LogicalRDD keeps
    origin constraints) and trip a Catalyst constraint-rewrite bug
    (`NoSuchElementException: key not found` in
    UnionBase.rewriteConstraints, Spark 4.1.2) inside
    connected_components_star's self-union loop, which every
    dedup-cluster row runs — dedup_clusters_star crashed
    deterministically.  A posexplode two-step variant fails
    identically, so the hazard is the aggregation shape, not the
    struct lambda.  The self-join shape below is the proven-green
    layout; both formulations emit the identical O(k^2)-per-shingle
    pair stream, so nothing at-scale is lost."""
    sh = _shingles(corpus).cache()
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _verified(common, sh, "doc_a", "doc_b").select(
        "doc_a", "doc_b", "common", "sz_a", "sz_b", "jaccard"
    )


def _candidate_overlap(cand: DataFrame, sh: DataFrame, a: str, b: str) -> DataFrame:
    """(a, b, common): the shared-shingle count of each candidate pair
    in `cand`, by joining the pair with both docs' shingle sets — cost
    is |candidates| * avg shingles, independent of corpus²."""
    return (
        cand.join(sh.select(F.col("doc_id").alias(a), "shingle"), a)
        .join(sh.select(F.col("doc_id").alias(b), "shingle"), [b, "shingle"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("common"))
    )


def _verified(common: DataFrame, sh: DataFrame, a: str, b: str) -> DataFrame:
    """Exact-Jaccard verification: the (a, b, common) pair counts joined
    to both docs' shingle-set sizes (sz_a, sz_b), keeping pairs whose
    jaccard = common / (sz_a + sz_b - common) reaches JACCARD_THRESHOLD.
    DuckDB twin: `_verified_sql`."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = sizes.select(F.col("doc_id").alias(a), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias(b), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, a)
        .join(sb, b)
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# The DuckDB twin of `_shingles` over the `corpus` CTE: distinct
# word-3-shingles per doc.
SHINGLES_CTE = """words AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM words, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
)"""


def _verified_sql(a: str, b: str) -> str:
    """`sizes` and `verified` CTEs, the DuckDB twin of `_verified` over
    a `common` CTE of (a, b, common) pair counts and the `sh` shingles."""
    return f"""sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
verified AS (
  SELECT {a}, {b}, common, sa.sz AS sz_a, sb.sz AS sz_b,
         CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = {a}
  JOIN sizes sb ON sb.doc_id = {b}
  WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= {JACCARD_THRESHOLD}
)"""


# corpus -> shingles -> inverted-index self-join -> verified pairs: the
# DuckDB twin of ngram_jaccard_pairs_for, shared by its row and the
# dup-pair graph of the cluster oracles
NGRAM_VERIFIED_CTES = (
    CORPUS_CTE.strip()
    + ",\n"
    + SHINGLES_CTE
    + """,
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
"""
    + _verified_sql("doc_a", "doc_b")
)

NGRAM_JACCARD_SQL = (
    "WITH "
    + NGRAM_VERIFIED_CTES
    + "\nSELECT doc_a, doc_b, common, sz_a, sz_b, jaccard FROM verified\n"
)


# --- portable 60-bit hash ------------------------------------------------


def phash60(col) -> "F.Column":
    """Portable 60-bit hash: bigint from the first 15 hex chars of md5.
    DuckDB mirror: CAST('0x' || substring(md5(x), 1, 15) AS BIGINT) —
    bit-identical across engines, always positive."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def phash60_sql(expr: str) -> str:
    """The DuckDB-side twin of `phash60` for oracle SQL strings."""
    return f"CAST('0x' || substring(md5({expr}), 1, 15) AS BIGINT)"


# --- 2-universal per-permutation hashing (MLlib MinHashLSH scheme) -------
#
# Each shingle gets ONE portable base hash x < P (md5 prefix mod P);
# permutation s applies h_s(x) = (a_s * x + b_s) mod P with coefficients
# derived deterministically from md5 in PYTHON and embedded as literals
# in both engines' plans.  P is a 31-bit prime (the one Spark MLlib's
# MinHashLSH uses), so a_s * x < 2^62 never overflows a signed int64.
#
# Why 2-universal and not a cheap linear mix: an earlier
# (h1 + seed*h2) mod M scheme made adjacent permutations nearly
# parallel as linear maps, so per-band minima CORRELATED across seeds
# and the band join produced 10x the candidates of an independent hash
# (339k vs 34k on the 26.7k-doc stress corpus) — all of them paid for
# in exact-Jaccard verification.  (a_s, b_s) random per seed restores
# pairwise independence; candidates match the xxhash64 baseline
# exactly (34k).
MINHASH_PRIME = 2038074743


def _minhash_coeffs(tag: str, lo: int, mod: int) -> list[int]:
    """Per-seed coefficients md5("mh-<tag>:<seed>") % mod + lo, computed
    once at import into MINHASH_A (1 <= a < P) and MINHASH_B (b < P)."""
    return [
        int(hashlib.md5(f"mh-{tag}:{s}".encode()).hexdigest()[:8], 16) % mod + lo
        for s in range(MINHASH_PERMS)
    ]


MINHASH_A = _minhash_coeffs("a", 1, MINHASH_PRIME - 1)
MINHASH_B = _minhash_coeffs("b", 0, MINHASH_PRIME)


# --- MinHash + LSH -------------------------------------------------------


def _minhash_long(sh: DataFrame) -> DataFrame:
    """(doc_id, seed, minh) long-format MinHash: explode the 64 seeds and
    aggregate with a SINGLE min() — wide N-aggregate variants blow past
    whole-stage-codegen method limits and fall back to interpreted
    evaluation (measured ~3x slower); this shape stays codegen'd and
    map-side combinable.

    Each shingle is md5-hashed ONCE into a base value x < P before the
    64x seed explode; permutation s is (a_s·x + b_s) mod P with
    literal 2-universal coefficients (see MINHASH_PRIME above for why
    independence matters here).

    INPUT CONTRACT (r15): callers feed a doc_id-CLUSTERED shingle frame
    (every caller goes through `_shingles`, whose explicit exchange now
    keys by doc_id) — so the seed aggregation below needs NO exchange
    at all: hash(doc_id) satisfies the (doc_id, seed) clustering by the
    key-subset rule and the partial+final aggregate pair runs in place.
    This deletes what used to be a SECOND full repartition("doc_id") of
    the hashed shingle set (the pre-r15 shape: _shingles keyed its
    exchange by (doc_id, shingle) for the dedup, then this function
    re-shuffled everything by doc_id so the partial aggregation could
    collapse the 64x-exploded rows before the reduce — measured then:
    17M shuffled rows without the pre-repartition vs <1M with it; now
    ZERO shuffled rows, the collapse happens in place).  This holds for
    the plan that RUNS, once AQE sees the materialized shingle cache
    (tests/test_plans.py reads its plan graph from the SQL status
    store); a plan
    fixed before that — executedPlan, explain(), plan_snapshot — still
    shows two (doc_id, seed) exchanges."""
    arr_a = F.array(*[F.lit(v) for v in MINHASH_A])
    arr_b = F.array(*[F.lit(v) for v in MINHASH_B])
    x = (
        F.conv(F.substring(F.md5(F.col("shingle").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % F.lit(MINHASH_PRIME)
    )
    hashed = sh.select("doc_id", x.alias("x"))
    return (
        hashed.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(MINHASH_PERMS - 1))).alias("seed"),
            "x",
        )
        .groupBy("doc_id", "seed")
        .agg(
            F.min(
                (
                    F.element_at(arr_a, F.col("seed") + 1) * F.col("x")
                    + F.element_at(arr_b, F.col("seed") + 1)
                )
                % F.lit(MINHASH_PRIME)
            ).alias("minh")
        )
    )


def _banded(long: DataFrame) -> DataFrame:
    """Pivot the long-format signature into (doc_id, band, m0..m3):
    4 conditional-min aggregates per band — see minhash_lsh_pairs_for
    for why this beats string buckets."""
    return long.groupBy(
        "doc_id", (F.col("seed") - (F.col("seed") % LSH_ROWS)).alias("band")
    ).agg(
        *[
            F.min(
                F.when(F.col("seed") % LSH_ROWS == k, F.col("minh"))
            ).alias(f"m{k}")
            for k in range(LSH_ROWS)
        ]
    )


def _band_eq():
    """Join condition for band-bucket equality between aliases a/b."""
    eq = F.col("a.band") == F.col("b.band")
    for k in range(LSH_ROWS):
        eq = eq & (F.col(f"a.m{k}") == F.col(f"b.m{k}"))
    return eq


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs_for(corpus_df(spark, sf_dir))


def minhash_lsh_pairs_for(corpus: DataFrame) -> DataFrame:
    """LSH candidate pairs -> exact-Jaccard verification.

    Banding: signature split into 16 bands of 4 rows; docs sharing any
    band hash become candidates (self-join per bucket — at scale the
    buckets are small and the join is a plain shuffle hash join).
    Candidates are then verified with exact shingle Jaccard, so output
    precision is 1.0; banding bounds recall (16 bands/4 rows catches
    jaccard >= ~0.5 with high probability)."""
    # one cached shingle set feeds both the signature build and the
    # candidate verification below
    sh = _shingles(corpus).cache()
    long = _minhash_long(sh)
    # band id = seed div 4; the band's 4 minima pivot into four LONG
    # columns (4 conditional-min aggregates — far below any codegen
    # limit) and the bucket join is plain multi-column long equality.
    # This replaced an md5-of-concatenated-strings bucket, which spent
    # more time building strings than the join it fed (measured 6.4 s
    # -> 1.3 s for the banding stage on the 26.7k-doc stress corpus);
    # band equality on (m0..m3) is EXACTLY bucket equality, minus the
    # hashing.
    banded = _banded(long)
    a = banded.alias("a")
    b = banded.alias("b")
    band_eq = _band_eq()
    cand = (
        a.join(b, band_eq & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Verify ONLY the candidate pairs (never the all-pairs set)
    common = _candidate_overlap(cand, sh, "doc_a", "doc_b")
    verified = _verified(common, sh, "doc_a", "doc_b")
    return verified.select("doc_a", "doc_b", "jaccard")


# The DuckDB twins of `_minhash_long` (hashed, hs) and `_banded` over
# the `sh` shingles, and of `_band_eq` between `banded` aliases a/b.
MINHASH_BANDS_CTES = (
    f"""hashed AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT)
           % {MINHASH_PRIME} AS x
  FROM sh
),
hs AS (
  SELECT doc_id, seed,
         min((({MINHASH_A})[seed + 1] * x
              + ({MINHASH_B})[seed + 1]) % {MINHASH_PRIME}) AS minh
  FROM hashed, UNNEST(generate_series(0, {MINHASH_PERMS - 1})) AS s(seed)
  GROUP BY doc_id, seed
),
banded AS (
  SELECT doc_id, seed - (seed % {LSH_ROWS}) AS band,
"""
    + ",\n".join(
        f"         min(CASE WHEN seed % {LSH_ROWS} = {k} THEN minh END) AS m{k}"
        for k in range(LSH_ROWS)
    )
    + """
  FROM hs GROUP BY doc_id, band
)"""
)
BAND_EQ_SQL = " AND ".join(
    ["a.band = b.band"] + [f"a.m{k} = b.m{k}" for k in range(LSH_ROWS)]
)


def _candidate_verified_sql(a: str, b: str) -> str:
    """`common` (the DuckDB twin of `_candidate_overlap` over a `cand`
    CTE of (a, b) pairs) followed by the verification CTEs."""
    return f"""common AS (
  SELECT c.{a}, c.{b}, count(*) AS common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.{a}
  JOIN sh sb ON sb.doc_id = c.{b} AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
""" + _verified_sql(a, b)


# LSH pipeline replicated in DuckDB over the same portable hash: same
# shingles, same 64 per-seed minima, same band equality on four minima,
# same exact-Jaccard verification — hash-identical output to the Spark
# plan.
MINHASH_LSH_SQL = (
    "WITH "
    + CORPUS_CTE.strip()
    + ",\n"
    + SHINGLES_CTE
    + ",\n"
    + MINHASH_BANDS_CTES
    + f""",
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON {BAND_EQ_SQL} AND a.doc_id < b.doc_id
),
"""
    + _candidate_verified_sql("doc_a", "doc_b")
    + "\nSELECT doc_a, doc_b, jaccard FROM verified\n"
)


SIMHASH_BITS = 60  # phash60 provides 60 uniform bits


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc: for each bit b, sum +1/-1 over distinct
    tokens according to bit b of phash60(token); bit set iff sum > 0.

    WIDE shape since r7: one hash aggregation over the (doc, token)
    rows with 60 conditional sums, assembled into the fingerprint by a
    single 60-term projection.  The original long shape (explode the
    bit index, one sum) pushed tokens x 60 rows — 225M at sf0.1 —
    through the aggregate and benched at 7.2 s in the r7 bench
    rotation; the minhash codegen-limit concern that motivated it
    (_minhash_long: 128 independent MIN buffers over full-width hash
    mixing) does not bite here, because each buffer's update is a
    2-op shift/mask of ONE shared hash column.  Integer sums are
    order-insensitive, so values are unchanged (same oracle)."""
    c = corpus_df(spark, sf_dir)
    tokens = c.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok")
    ).select("doc_id", phash60(F.col("tok")).alias("h"))
    sums = tokens.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fingerprint = None
    for b in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("doc_id", fingerprint.alias("simhash"))


SIMHASH_FP_CTE = (
    CORPUS_CTE.strip()
    + f""",
toksd AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus
  )
),
bits AS (
  SELECT doc_id, b, {phash60_sql("tok")} AS h
  FROM toksd, UNNEST(generate_series(0, {SIMHASH_BITS - 1})) AS t(b)
),
sums AS (
  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM bits GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id,
         bit_or(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b
                     ELSE CAST(0 AS BIGINT) END) AS simhash
  FROM sums GROUP BY doc_id
)"""
)

SIMHASH_FP_SQL = "WITH " + SIMHASH_FP_CTE + "\nSELECT doc_id, simhash FROM fp"


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the near-dup pair
    graph (exact + near duplicates), labeling every member with the
    minimum doc_id of its component.

    Runs `connected_components_star` (large-star/small-star): O(log^2 n)
    rounds whatever the component diameter, a `localCheckpoint` per
    round so the plan stays one round in size, and one signature row
    per round on the driver — no data collect.  The DuckDB oracle walks
    the same closure with WITH RECURSIVE."""
    return dedup_clusters_for(corpus_df(spark, sf_dir))


def _dup_pairs(corpus: DataFrame) -> DataFrame:
    """The dup-pair graph: distinct (doc_a, doc_b) edges between
    near-dup pairs and exact-dup pairs (identical text is an edge too).
    DuckDB twin: the `pairs` CTE of DEDUP_CLUSTERS_CTES."""
    return (
        ngram_jaccard_pairs_for(corpus)
        .select("doc_a", "doc_b")
        .unionByName(dedup_exact_pairs_for(corpus))
        .distinct()
    )


def dedup_clusters_for(corpus: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every doc with at least one duplicate."""
    return connected_components_star(_dup_pairs(corpus)).select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_exact_pairs_for(c: DataFrame) -> DataFrame:
    """Edges between identical-text docs (each non-representative copy
    linked to the group's min doc_id)."""
    withrep = c.withColumn("text_hash", F.md5(F.col("text").cast("binary")))
    reps = withrep.groupBy("text_hash").agg(F.min("doc_id").alias("rep"))
    return (
        withrep.join(reps, "text_hash")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )


# Recursive-CTE transitive closure over the same pair graph; min
# reachable id per node == the component label the large-star/small-star
# loop converges to.  Viable in DuckDB because dup clusters are tiny;
# the Spark side is the one that scales.  A `WITH RECURSIVE` list that
# ends in `labels` (doc_id, cluster_id).
DEDUP_CLUSTERS_CTES = (
    NGRAM_VERIFIED_CTES
    + """,
withrep AS (SELECT doc_id, md5(text) AS h FROM corpus),
reps AS (SELECT h, min(doc_id) AS rep FROM withrep GROUP BY h),
epairs AS (
  SELECT rep AS doc_a, doc_id AS doc_b FROM withrep
  JOIN reps USING (h) WHERE doc_id <> rep
),
pairs AS (
  SELECT doc_a, doc_b FROM verified UNION SELECT doc_a, doc_b FROM epairs
),
edges AS (
  SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
nodes AS (SELECT DISTINCT doc_a AS node FROM edges),
closure(a, b) AS (
  SELECT node AS a, node AS b FROM nodes
  UNION
  SELECT c.a, e.doc_b AS b FROM closure c JOIN edges e ON e.doc_a = c.b
),
labels AS (SELECT a AS doc_id, min(b) AS cluster_id FROM closure GROUP BY a)"""
)

DEDUP_CLUSTERS_SQL = (
    "WITH RECURSIVE "
    + DEDUP_CLUSTERS_CTES
    + "\nSELECT doc_id, cluster_id FROM labels\n"
)


# --- block-level exact substring dedup -----------------------------------

SUBSTR_BLOCK_WORDS = 10


def dedup_substring_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact substring dedup at 10-word-block granularity
    (the distributed shape of suffix-array substring dedup, Lee et al.
    2021 "Deduplicating Training Data Makes Language Models Better" --
    blocks instead of suffixes so the state is linear, not quadratic).

    Every document splits into consecutive 10-word blocks; a block
    survives only at its FIRST corpus occurrence (min (doc_id, position)
    over all documents), so exact copies lose all their blocks and
    near-dup copies keep only their novel tail.  Surviving blocks
    reassemble in position order into `text_dedup`.

    Plan: one narrow explode (no data growth: blocks partition the
    text), ONE hash shuffle on block content for the first-occurrence
    row_number, one per-document shuffle to reassemble.  Per-group
    state is bounded: the window groups duplicate copies of one block,
    the reassembly groups one document's own blocks.  At 100 TB the
    window key would be xxhash64(blk) to cut shuffle bytes, and a hot
    boilerplate block (the classic header/footer clique) lands on one
    task only for a cheap row_number -- no pairwise blowup, unlike
    similarity joins.  AQE skew splitting covers the rest.
    """
    c = corpus_df(spark, sf_dir)
    bw = SUBSTR_BLOCK_WORDS
    blocks = (
        c.select("doc_id", F.split("text", " ").alias("t"))
        .select(
            "doc_id",
            F.expr(
                f"explode(sequence(0, cast(ceil(size(t) / {bw}.0e0) as int) - 1))"
            ).alias("blk_idx"),
            "t",
        )
        .select(
            "doc_id",
            "blk_idx",
            F.expr(f"array_join(slice(t, blk_idx * {bw} + 1, {bw}), ' ')").alias(
                "blk"
            ),
        )
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.partitionBy("blk").orderBy("doc_id", "blk_idx"))
    ranked = blocks.select("doc_id", "blk_idx", "blk", rn.alias("rn"))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") == 1, F.struct("blk_idx", "blk"))
                    )
                ),
                lambda x: x["blk"],
            ),
            " ",
        ).alias("text_dedup"),
    )


DEDUP_SUBSTRING_SQL = (
    "WITH " + CORPUS_CTE.strip()
    + f""",
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
blocks AS (
  SELECT doc_id,
         unnest(range(CAST(ceil(len(t) / {SUBSTR_BLOCK_WORDS}.0e0) AS BIGINT)))
           AS blk_idx,
         t
  FROM toks
),
blk AS (
  SELECT doc_id, blk_idx,
         array_to_string(
           t[blk_idx * {SUBSTR_BLOCK_WORDS} + 1 :
             blk_idx * {SUBSTR_BLOCK_WORDS} + {SUBSTR_BLOCK_WORDS}], ' ') AS blk
  FROM blocks
),
ranked AS (
  SELECT doc_id, blk_idx, blk,
         row_number() OVER (PARTITION BY blk ORDER BY doc_id, blk_idx) AS rn
  FROM blk
)
SELECT doc_id,
       count(*) AS n_blocks,
       count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
       coalesce(
         string_agg(CASE WHEN rn = 1 THEN blk END, ' ' ORDER BY blk_idx), ''
       ) AS text_dedup
FROM ranked
GROUP BY doc_id
"""
)


# --- cluster representative selection ------------------------------------


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation finisher on top of the dedup stack: every document gets
    a cluster label (its connected-component label when it has
    duplicates, its own id otherwise) and each cluster keeps ONE
    representative — the longest text, ties to the smallest doc_id.

    The argmax rides a max(struct(len, -doc_id)) aggregation —
    map-side combinable (unlike a window sort), the same shape as the
    flagship's argmin.  At 100 TB this adds one broadcast-joinable
    label lookup and one groupBy to the cluster pipeline."""
    c = corpus_df(spark, sf_dir)
    labels = dedup_clusters_for(c)
    lens = c.select("doc_id", F.length("text").alias("len"))
    labeled = lens.join(labels, "doc_id", "left").select(
        "doc_id",
        "len",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("len"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("b"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cluster_id",
            (-F.col("b.neg_id")).alias("rep_doc_id"),
            F.col("b.len").alias("rep_len"),
            "n_members",
        )
    )


DEDUP_KEEP_BEST_SQL = (
    "WITH RECURSIVE "
    + DEDUP_CLUSTERS_CTES
    + """,
lens AS (SELECT doc_id, length(text) AS len FROM corpus),
labeled AS (
  SELECT l.doc_id, l.len, coalesce(lb.cluster_id, l.doc_id) AS cluster_id
  FROM lens l LEFT JOIN labels lb ON lb.doc_id = l.doc_id
),
ranked AS (
  SELECT cluster_id, doc_id, len,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY len DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM labeled
)
SELECT cluster_id, doc_id AS rep_doc_id, len AS rep_len, n_members
FROM ranked WHERE rn = 1
"""
)


# --- incremental LSH dedup (admission of a new batch vs the index) ------


def new_batch_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incoming batch for the incremental-dedup scenario: the
    corpus_df duplicate injections (near-dup at +10M, exact at +20M)
    plus genuinely NOVEL documents at +30M (every doc_id % 5 == 0 with
    its word order reversed — reversal destroys 3-shingles, so these
    must be admitted)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    novel = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 30000000).alias("doc_id"),
        F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
    )
    return _dup_copies(d).unionByName(novel)


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup: admit or reject an incoming batch
    against the already-indexed corpus WITHOUT comparing the index to
    itself — the production shape for a continuously-ingesting corpus,
    where re-running all-pairs dedup per batch would be O(corpus)
    instead of O(batch).

    Both sides share one signature pipeline; the band-bucket join is
    ASYMMETRIC (index x new only), candidates verify with exact shingle
    Jaccard, and each new doc keeps its best match (max jaccard, tie
    min index id).  New docs with no candidate — including docs too
    short to shingle — are admitted.  At 100 TB the index-side band
    table is a precomputed, bucketed artifact; the per-batch cost is
    hashing the BATCH plus one bucket join, never an index self-join.
    """
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = new_batch_df(spark, sf_dir)
    sh = _shingles(base.unionByName(new)).cache()
    banded = _banded(_minhash_long(sh))
    a = banded.filter(F.col("doc_id") < 10000000).alias("a")  # index side
    b = banded.filter(F.col("doc_id") >= 10000000).alias("b")  # new batch
    cand = (
        a.join(b, _band_eq())
        .select(
            F.col("b.doc_id").alias("new_id"), F.col("a.doc_id").alias("idx_id")
        )
        .distinct()
    )
    common = _candidate_overlap(cand, sh, "new_id", "idx_id")
    scored = _verified(common, sh, "new_id", "idx_id")
    from pyspark.sql import Window as W

    w = W.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("idx_id"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_id", "idx_id", "jaccard")
    )
    return (
        new.select(F.col("doc_id").alias("new_doc_id"))
        .join(best, F.col("new_doc_id") == F.col("new_id"), "left")
        .select(
            "new_doc_id",
            F.col("idx_id").alias("best_match_id"),
            F.col("jaccard").alias("best_jaccard"),
            F.col("idx_id").isNull().alias("admit"),
        )
    )


DEDUP_INCREMENTAL_SQL = (
    f"""
WITH newdocs AS ({DUP_COPIES_SQL}
  UNION ALL
  SELECT doc_id + 30000000,
         array_to_string(list_reverse(string_split(text, ' ')), ' ')
  FROM documents WHERE doc_id % 5 = 0
),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM newdocs
),
"""
    + SHINGLES_CTE
    + ",\n"
    + MINHASH_BANDS_CTES
    + f""",
cand AS (
  SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS idx_id
  FROM banded a
  JOIN banded b ON {BAND_EQ_SQL}
  WHERE a.doc_id < 10000000 AND b.doc_id >= 10000000
),
"""
    + _candidate_verified_sql("new_id", "idx_id")
    + """,
best AS (
  SELECT new_id, idx_id, jaccard FROM (
    SELECT *, row_number() OVER (
      PARTITION BY new_id ORDER BY jaccard DESC, idx_id ASC) AS rn
    FROM verified) WHERE rn = 1
)
SELECT n.doc_id AS new_doc_id, b.idx_id AS best_match_id,
       b.jaccard AS best_jaccard, (b.idx_id IS NULL) AS admit
FROM newdocs n LEFT JOIN best b ON b.new_id = n.doc_id
"""
)


# --- large-star/small-star connected components --------------------------


def connected_components_star(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Connected components via alternating large-star/small-star
    rounds (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond" — algorithm shape reimplemented from the paper's
    definitions): each round every node points its larger neighbors
    (large-star), then its smaller neighbors and itself (small-star),
    at the minimum of its closed neighborhood.  The edge set converges
    to disjoint STARS rooted at component minima in O(log^2 n) rounds —
    min-label propagation would need as many rounds as the component
    DIAMETER.  Every dedup-cluster row (dedup_clusters, dedup_keep_best,
    dedup_clusters_star) runs this loop.

    Per round: two groupBy(min) aggregations + two equi-joins, each
    keyed on node ids — no step ever materializes anything larger than
    the (shrinking) edge set, and `localCheckpoint` truncates lineage
    so the plan stays round-sized.  Input: (doc_a, doc_b) undirected
    pairs; output: (node, label) with label = component minimum.
    """
    chain = CheckpointChain()
    e = chain.step(
        edges.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "edges",
    )
    prev_sig = None
    # per-round joins/aggs are O(edges); width from the materialized
    # edge checkpoint's count (functions/sizing.py — integer keys and
    # min/least/hash-sum only, so width cannot move values; the
    # signature collect inside the loop is 1 row either way)
    loop_scope = scoped_shuffle_partitions(
        edges.sparkSession, loop_partitions(e.count())
    )
    with loop_scope:
        for _ in range(max_rounds):
            # large-star: for every u, each strictly-larger neighbor points
            # at m = min(closed neighborhood of u)
            sym = e.unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            mins = sym.groupBy("u").agg(
                F.least(F.min("v"), F.first("u")).alias("m")
            )
            ls = (
                sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
            )
            # small-star: orient each edge from its larger endpoint; that
            # endpoint and all its smaller neighbors point at the minimum
            o = ls.select(
                F.greatest("u", "v").alias("gu"), F.least("u", "v").alias("gv")
            )
            smins = o.groupBy("gu").agg(F.min("gv").alias("m"))
            # chain.step frees the previous round's edge blocks once this
            # round is materialized (true block release — DataFrame
            # .unpersist() on a checkpointed frame never touched them)
            ss = chain.step(
                o.join(smins, "gu")
                .select(
                    F.explode(
                        F.array(
                            F.struct(F.col("gv").alias("u"), F.col("m").alias("v")),
                            F.struct(F.col("gu").alias("u"), F.col("m").alias("v")),
                        )
                    ).alias("p")
                )
                .select("p.u", "p.v")
                .filter(F.col("u") != F.col("v"))
                .distinct(),
                "edges",
            )
            # fixpoint = edge set unchanged over a full LS+SS round.  The
            # check is a MULTISET SIGNATURE (count + order-independent hash
            # sum), one cheap aggregate job — the earlier exceptAll-based
            # equality shuffled the full edge set twice per round and
            # dominated the whole algorithm at 8x corpus scale (see
            # SCALE.md).  Signature collision would only delay termination
            # by a round, never corrupt output (the star edges themselves
            # are exact).
            sig = ss.agg(
                F.count(F.lit(1)).alias("n"),
                # decimal accumulator: a long sum of 64-bit hashes overflows
                # under ANSI mode; decimal(38,0) absorbs any edge count
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            ).collect()[0]
            sig = (sig["n"], sig["h"])
            e = ss
            if sig == prev_sig:
                break
            prev_sig = sig
        else:
            raise RuntimeError(
                f"connected_components_star: no fixpoint in {max_rounds} rounds"
            )
    # stars: (child, root) edges; roots label themselves
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("label"))
        .unionByName(
            e.select(F.col("v").alias("node"), F.col("v").alias("label"))
        )
        .distinct()
    )


QUERIES = {
    "dedup_substring_blocks": (dedup_substring_blocks, DEDUP_SUBSTRING_SQL),
    "dedup_incremental_lsh": (dedup_incremental_lsh, DEDUP_INCREMENTAL_SQL),
    # a second registry name for dedup_clusters (same engine, same
    # oracle), kept so the row's name and tier do not change
    "dedup_clusters_star": (dedup_clusters, DEDUP_CLUSTERS_SQL),
}
