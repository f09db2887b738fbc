"""BPE merge-table training — the tokenizer-training member of the
LLM-data-pipeline surface.

Byte-pair encoding's training loop (Sennrich et al. 2016, public
algorithm): start from character symbols, repeatedly (1) count
adjacent symbol pairs over the corpus vocabulary weighted by word
frequency, (2) take the most frequent pair, (3) merge every
occurrence, k times; the learned merge list IS the tokenizer.  This
module trains the first {BPE_MERGES} merges.

Spark shape (the 100 TB story):

- ONE corpus scan builds the (word, count) vocabulary — after that,
  every round runs on the vocab table, which is orders of magnitude
  smaller than the corpus (Heaps' law) and shrinks further as merges
  fuse symbols;
- per round: adjacent pairs via a transform over the split symbol
  array (the array is bound in its own projection first — the
  lambda-CSE hazard, SCALE.md), hash-aggregated with map-side
  partials; the argmax is min(struct(-freq, pair)) — ONE row to the
  driver per round (model-sized collect, the kmeans/IVF precedent);
- the training loop folds merges LAZILY onto the last checkpointed
  vocab (ckpt.CheckpointChain, one checkpoint every
  BPE_TRAIN_CKPT_EVERY=16 rounds), so a round costs one job that
  replays at most 15 cheap replace() projections on top of the
  checkpoint — bounded plan depth, never a replay of all k-1 earlier
  merges — and superseded checkpoints are freed as soon as the next
  one materializes (measured round cost in SCALE.md §BPE);
- the pair-count shuffle runs at a vocab-derived width
  (BPE_VOCAB_WORDS_PER_PARTITION), not the corpus-sized session
  default;
- merge application is two nested `replace()` calls on the
  space-joined symbol string with space anchors — pure JVM string
  ops, no UDFs, built with Column-API literals (`F.replace` +
  `F.lit`) so arbitrary corpus tokens (quotes, backslashes, regex
  metacharacters) can never corrupt an interpolated SQL string.

Cross-engine exactness: frequencies are integer sums; the tie-break
(freq DESC, pair ASC) is a total order; and the merge-apply rule is
BOTH engines' identical `replace()` scan (non-overlapping,
left-to-right).  One documented deviation from textbook BPE: a
boundary-consuming scan cannot merge BOTH of two occurrences that
share a separator (chains like "a a a"), so the rule applies replace
TWICE per round — only chains of 3+ identical adjacent pairs within
one word deviate from the greedy symbol-level fold, and identically
so in both engines (the oracle is the same algorithm, independently
expressed, not a reimplementation quirk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.ckpt import CheckpointChain
from etl_addresses_spark.sources.tables import load_table

BPE_MERGES = 16


def _vocab_for(docs: DataFrame) -> DataFrame:
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # character symbols joined by single spaces: "hello" -> "h e l l o"
    return words.select(
        F.expr("trim(regexp_replace(w, '(.)', '$1 '))").alias("sw"), "n"
    )


def _vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vocab_for(load_table(spark, sf_dir, "documents"))


def _adjacent_pair_counts(cur: DataFrame) -> DataFrame:
    # bind the split array once (CSE hazard): transform indexes into it
    syms = cur.select(F.split("sw", " ").alias("s"), "n")
    pairs = syms.select(
        F.explode(
            # guard single-symbol words: Spark's sequence(1, 0) is the
            # DESCENDING [1, 0], not empty
            F.expr(
                "if(size(s) < 2, array(), "
                "transform(sequence(1, size(s) - 1), "
                "i -> concat(element_at(s, i), ' ', element_at(s, i + 1))))"
            )
        ).alias("p"),
        "n",
    )
    return pairs.groupBy("p").agg(F.sum("n").alias("f"))


def _apply_merge(cur: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """One merge round on the space-joined vocab: anchored replace,
    applied twice (module docstring).  All literals go through F.lit —
    no string interpolation, so no quoting/escaping hazard for ANY
    corpus token."""
    pat = F.lit(f" {lhs} {rhs} ")
    rep = F.lit(f" {lhs}{rhs} ")
    padded = F.concat(F.lit(" "), F.col("sw"), F.lit(" "))
    once = F.replace(padded, pat, rep)
    return cur.select(F.trim(F.replace(once, pat, rep)).alias("sw"), "n")


# Apply-side plan-depth budget (r8 verdict item 3).  CollapseProject
# folds consecutive `_apply_merge` projections into ONE nested
# expression, which is the fastest plan while it fits — but expression
# depth grows linearly with merge count and Catalyst dies on the
# fixture between k=128 (1.05 s, already superlinear analysis cost)
# and k=192 (driver StringBuilder blow-up stringifying the nested
# Concat; tools/evidence/r9_bpe_apply_ladder.json).  64 folded merges
# per whole-stage-codegen segment measured 1.09 s full-span (still
# pre-superlinear; k=16 is 0.49 s) — a ~3x margin below the death
# point — and `bpe_apply_for` localCheckpoints between
# segments, so a production 32k-merge vocab is 500 bounded segments,
# never a 32k-deep expression.  At k <= BPE_APPLY_BATCH (the
# registered k=16 rows) the loop takes zero checkpoints and the plan
# is byte-identical to the historical single folded chain.
BPE_APPLY_BATCH = 64


def bpe_apply_for(
    cur: DataFrame,
    merges: list[tuple[int, str, str, int]],
    batch: int = BPE_APPLY_BATCH,
) -> DataFrame:
    """Encode a space-joined vocab frame (columns sw, n) with a learned
    merge list, in rank order — the SCALE tier of tokenizer apply.
    Merges are folded `batch` at a time into one codegen segment with a
    lineage-truncating localCheckpoint between segments, so plan depth
    is O(batch) regardless of merge-table size while per-row work stays
    the identical `_apply_merge` rule the trainer used.  Result is
    batch-invariant (replace is applied in the same global order;
    hypothesis-tested in tests/test_bpe.py)."""
    chain = CheckpointChain()
    for seg_start in range(0, len(merges), batch):
        for _rank, lhs, rhs, _freq in merges[seg_start : seg_start + batch]:
            cur = _apply_merge(cur, lhs, rhs)
        if seg_start + batch < len(merges):
            # interior barrier only: the FINAL segment stays lazy so
            # the caller's aggregation fuses with it (k <= batch means
            # no checkpoint at all — the historical folded plan)
            cur = chain.step(cur, "bpe_apply")
    return cur


# Training-loop checkpoint cadence: merges fold LAZILY onto the last
# checkpointed vocab and a new checkpoint lands every this-many rounds,
# so a round normally costs ONE job (the pair-count agg + 1-row
# collect, which replays <= cadence cheap replace() projections on top
# of the checkpoint) instead of two (count + eager merge
# materialization).  16 balances Catalyst plan-depth cost (grows
# superlinearly toward the k~192 death point,
# r9_bpe_apply_ladder.json) against checkpoint count (each one is a
# full vocab materialization — the thing to minimize when the vocab is
# big).  Measured warm at sf0.1, k=64, with the vocab-sized shuffle
# below: cadence 32 -> 6.5-7.6 s, 16 -> ~6.0 s, 8 -> ~5.5 s (8 and 16
# within noise; 16 takes half the checkpoints).
BPE_TRAIN_CKPT_EVERY = 16

# The pair-count shuffle is keyed on symbol pairs and its reduce side
# is O(|pair vocabulary|) — tiny relative to the corpus (the fixture
# corpus has only ~31 distinct words; a real web corpus has ~1e7-1e8).
# Running that shuffle at the session's corpus-sized partition count
# schedules dozens of near-empty reduce tasks PER ROUND, and the
# per-round fixed cost is exactly what k rounds multiply: measured
# warm at sf0.1/k=64, session 32 partitions -> 8.3-10.5 s vs
# vocab-sized 1 -> ~6.0 s.  One model-sized count() of the base vocab
# picks the width (the fuzzy-gate/bloom/streaming count-gate
# precedent).
BPE_VOCAB_WORDS_PER_PARTITION = 500_000


def bpe_train_for(docs: DataFrame, k: int) -> list[tuple[int, str, str, int]]:
    """Train the first k BPE merges over a documents frame (column
    `text`); returns [(rank, lhs, rhs, freq), ...] — the seam the
    fixture query and the hypothesis tie-stability property both
    drive.  Identical merge output to the eager-per-round historical
    loop (same counts, same tie order); only checkpoint cadence and
    shuffle width differ (constants above)."""
    import math

    from etl_addresses_spark.session import scoped_shuffle_partitions

    chain = CheckpointChain()
    # materialize the base vocab once: every pre-checkpoint round would
    # otherwise re-run the word split+groupBy over the full corpus
    cur = chain.step(_vocab_for(docs), "vocab")
    n_words = cur.count()
    parts = max(1, math.ceil(n_words / BPE_VOCAB_WORDS_PER_PARTITION))
    merges: list[tuple[int, str, str, int]] = []
    pending = 0
    with scoped_shuffle_partitions(docs.sparkSession, parts):
        for rank in range(1, k + 1):
            counts = _adjacent_pair_counts(cur)
            top = counts.agg(
                F.min(
                    F.struct((-F.col("f")).alias("nf"), F.col("p"))
                ).alias("m")
            ).first()["m"]
            if top is None:
                break
            pair, freq = top["p"], -top["nf"]
            lhs, rhs = pair.split(" ", 1)
            cur = _apply_merge(cur, lhs, rhs)
            merges.append((rank, lhs, rhs, int(freq)))
            pending += 1
            # no trailing checkpoint at rank == k: the vocab is never
            # read again after the loop (the merge list lives on the
            # driver)
            if pending == BPE_TRAIN_CKPT_EVERY and rank < k:
                cur = chain.step(cur, "vocab")
                pending = 0
    chain.release("vocab")
    return merges


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first {BPE_MERGES} BPE merges on the documents
    corpus; returns (rank, lhs, rhs, freq) — the merge list in
    learned order."""
    merges = bpe_train_for(load_table(spark, sf_dir, "documents"), BPE_MERGES)
    return spark.createDataFrame(
        merges, "rank bigint, lhs string, rhs string, freq bigint"
    )


def _round_ctes(r: int) -> str:
    """CTEs for round r: pair counts c{r} from w{r-1}, winner m{r},
    merged vocab w{r}.  m{r} and w{r} are MATERIALIZED: w{r} is
    referenced by both c{r+1} and w{r+1}, and m{r} three times inside
    w{r} — inlining would re-expand the whole chain per reference
    (exponential at {BPE_MERGES} rounds).  When the corpus exhausts
    mergeable pairs before round r, m{r} is EMPTY — the CASE keeps
    w{r} = w{r-1} instead of NULL-propagating the scalar subquery
    through replace() (which silently emptied the encode-stats oracle
    on degenerate corpora; the Spark side simply stops applying)."""
    return f"""
c{r} AS (
  SELECT l[i] || ' ' || l[i + 1] AS p, sum(n) AS f
  FROM (SELECT string_split(sw, ' ') AS l, n FROM w{r - 1}),
       UNNEST(generate_series(1, len(l) - 1)) AS g(i)
  GROUP BY 1
),
m{r} AS MATERIALIZED (
  SELECT {r} AS rank, p, CAST(f AS BIGINT) AS f
  FROM c{r} ORDER BY f DESC, p ASC LIMIT 1
),
w{r} AS MATERIALIZED (
  SELECT CASE WHEN (SELECT count(*) FROM m{r}) = 0 THEN sw
         ELSE trim(replace(
                replace(' ' || sw || ' ',
                        ' ' || (SELECT p FROM m{r}) || ' ',
                        ' ' || (SELECT replace(p, ' ', '') FROM m{r}) || ' '),
                ' ' || (SELECT p FROM m{r}) || ' ',
                ' ' || (SELECT replace(p, ' ', '') FROM m{r}) || ' '))
         END AS sw,
         n
  FROM w{r - 1}
)"""


def bpe_merge_table_sql(k: int = BPE_MERGES) -> str:
    """Unrolled k-round training oracle (MATERIALIZED per round, so
    the chain stays linear in k — see _round_ctes)."""
    return (
        """
WITH w0 AS MATERIALIZED (
  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sw,
         CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
  )
  WHERE w <> ''
  GROUP BY 1
),"""
        + ",".join(_round_ctes(r) for r in range(1, k + 1))
        + """
SELECT rank, split_part(p, ' ', 1) AS lhs, split_part(p, ' ', 2) AS rhs,
       f AS freq
FROM ("""
        + " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, k + 1))
        + ")"
    )


BPE_MERGE_TABLE_SQL = bpe_merge_table_sql(BPE_MERGES)

# Round-10 realism tier (r9 verdict item 6): a 64-merge trainer row.
# Training is O(k) rounds of (pair-count agg + 1-row collect +
# checkpointed merge); the committed ladder
# (tools/evidence/r10_bpe_train_ladder.json) measured 3.06 / 4.44 /
# 8.16 s at k = 16 / 32 / 64 on sf0.1 — per-round cost FLAT at
# ~0.13-0.19 s (linear in k, no lineage leakage across rounds) — and
# 2.84 s for k=16 on the 10x replica (corpus-axis flat: the per-round
# cost is the fixed job overhead + a map-side pair-count agg whose
# vocab, not corpus, sets the reduce size).  Under the verdict's ~12 s
# registration bar, so it is a checked row, not just evidence.
BPE_MERGES_K64 = 64


def bpe_merge_table_k64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train {BPE_MERGES_K64} merges (see BPE_MERGES_K64 note)."""
    merges = bpe_train_for(
        load_table(spark, sf_dir, "documents"), BPE_MERGES_K64
    )
    return spark.createDataFrame(
        merges, "rank bigint, lhs string, rhs string, freq bigint"
    )


BPE_MERGE_TABLE_K64_SQL = bpe_merge_table_sql(BPE_MERGES_K64)


BPE_TOPK_TOKENS = 50


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY side of the tokenizer: encode the corpus vocabulary with
    the {BPE_MERGES} learned merges and return the top
    {BPE_TOPK_TOKENS} tokens by corpus frequency (freq DESC, token ASC
    — a total order, so the top-k set is deterministic).

    The merge table is model-sized (k rows) and collected once — the
    kmeans-centroid precedent — then applied via `bpe_apply_for`:
    literal replace chains folded {BPE_APPLY_BATCH} merges per
    whole-stage-codegen segment (at the registered k={BPE_MERGES} that
    is ONE segment, no checkpoint), and the final top-k is
    TakeOrderedAndProject (no global sort).  Train-time and apply-time
    merge rules are the same code path (`_apply_merge`), which is the
    property a production tokenizer must keep."""
    merges = bpe_train_for(load_table(spark, sf_dir, "documents"), BPE_MERGES)
    return _token_histogram(bpe_apply_for(_vocab(spark, sf_dir), merges))


# Fixed merge list for the SEGMENTED apply path: 96 merges > one
# BPE_APPLY_BATCH, so the registered row below actually executes the
# two-segment checkpointed plan under the driver's oracle gate — not
# just in pytest.  The list is a deterministic literal (frequent
# English letters, all ordered pairs), NOT trained: training 96 rounds
# would cost ~16 s/run for no extra apply-side coverage, and apply
# parity is exactly what this row checks (merges that match nothing
# are no-ops in BOTH engines, so realism of the list is irrelevant to
# the contract).
_FIXED_ALPHA = "etaoinshrd"
BPE_FIXED_MERGES: list[tuple[int, str, str, int]] = [
    (i + 1, a, b, 0)
    for i, (a, b) in enumerate(
        (a, b) for a in _FIXED_ALPHA for b in _FIXED_ALPHA
    )
][:96]


def _token_histogram(cur: DataFrame) -> DataFrame:
    """Top-{BPE_TOPK_TOKENS} tokens of an encoded vocab frame by
    corpus frequency (freq DESC, token ASC — a total order, so the
    top-k set is deterministic); TakeOrderedAndProject, no global
    sort.  Shared tail of both apply-side rows."""
    tokens = cur.select(F.explode(F.split("sw", " ")).alias("tok"), "n")
    return (
        tokens.groupBy("tok")
        .agg(F.sum("n").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(BPE_TOPK_TOKENS)
    )


def bpe_apply_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BPE_TOPK_TOKENS} token histogram after encoding the corpus
    vocabulary with the fixed 96-merge list via `bpe_apply_for` — the
    SCALE-tier apply (96 > BPE_APPLY_BATCH=64 forces one interior
    localCheckpoint, i.e. the segmented plan the r9 ladder measured),
    oracle-checked against DuckDB running the identical double-replace
    chain."""
    return _token_histogram(bpe_apply_for(_vocab(spark, sf_dir), BPE_FIXED_MERGES))


# DuckDB's binder caps expression recursion at depth 128, and each
# merge adds ~4 nesting levels (concat + 2 replaces + trim), so the
# oracle chain is chunked into CTEs of 24 merges (~96 deep each) —
# the SQL-side analogue of the Spark tier's own plan-depth batching.
_SQL_APPLY_CHUNK = 24


def _sql_apply_expr(col: str, merges: list[tuple[int, str, str, int]]) -> str:
    """The `_apply_merge` rule as one nested DuckDB expression: per
    merge, pad -> replace twice -> trim, in rank order.  Mechanical
    codegen mirror of the Spark chain; fixed-literal merges only (the
    trained rows' oracle uses the CTE-per-round form instead because
    their patterns are data-dependent)."""
    e = col
    for _rank, lhs, rhs, _freq in merges:
        p = f" {lhs} {rhs} ".replace("'", "''")
        q = f" {lhs}{rhs} ".replace("'", "''")
        e = f"trim(replace(replace(' ' || {e} || ' ', '{p}', '{q}'), '{p}', '{q}'))"
    return e


def _sql_apply_ctes(
    merges: list[tuple[int, str, str, int]]
) -> tuple[str, str]:
    """(CTE chain, final CTE name): w0 -> a1 -> a2 -> ..., each CTE
    applying {_SQL_APPLY_CHUNK} merges, keeping every expression under
    DuckDB's binder recursion cap."""
    parts = []
    prev = "w0"
    for ci in range(0, len(merges), _SQL_APPLY_CHUNK):
        chunk = merges[ci : ci + _SQL_APPLY_CHUNK]
        cur = f"a{ci // _SQL_APPLY_CHUNK + 1}"
        parts.append(
            f"{cur} AS (SELECT {_sql_apply_expr('sw', chunk)} AS sw, n"
            f" FROM {prev})"
        )
        prev = cur
    return ",\n".join(parts), prev


_APPLY_CTES, _APPLY_LAST = _sql_apply_ctes(BPE_FIXED_MERGES)

BPE_APPLY_BATCHED_SQL = f"""
WITH w0 AS (
  SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sw,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE w <> ''
  GROUP BY 1
),
{_APPLY_CTES}
SELECT tok, CAST(sum(n) AS BIGINT) AS freq
FROM (SELECT unnest(string_split(sw, ' ')) AS tok, n FROM {_APPLY_LAST})
GROUP BY tok
ORDER BY freq DESC, tok ASC
LIMIT {BPE_TOPK_TOKENS}
"""


BPE_ENCODE_STATS_SQL = (
    BPE_MERGE_TABLE_SQL[: BPE_MERGE_TABLE_SQL.index("\nSELECT rank")]
    + f"""
SELECT tok, CAST(sum(n) AS BIGINT) AS freq
FROM (SELECT unnest(string_split(sw, ' ')) AS tok, n FROM w{BPE_MERGES})
GROUP BY tok
ORDER BY freq DESC, tok ASC
LIMIT {BPE_TOPK_TOKENS}
"""
)


QUERIES = {
    "bpe_merge_table": (bpe_merge_table, BPE_MERGE_TABLE_SQL),
    "bpe_encode_stats": (bpe_encode_stats, BPE_ENCODE_STATS_SQL),
    # the SCALE-tier apply under the oracle gate — 96 fixed merges >
    # BPE_APPLY_BATCH, so the driver checks the segmented checkpointed
    # plan, not only pytest
    "bpe_apply_batched": (bpe_apply_batched, BPE_APPLY_BATCHED_SQL),
    # the 64-merge trainer realism tier (ladder-backed; see
    # BPE_MERGES_K64)
    "bpe_merge_table_k64": (bpe_merge_table_k64, BPE_MERGE_TABLE_K64_SQL),
}
