"""Association mining: frequent co-purchase pairs (market-basket
support) and chi-squared token/class association (the classic feature-
selection statistic for quality-classifier training data).

Two standard curation-side analytics the registry was missing (r11
extension; no reference parity — addresses.js has no analytics
surface):

* **frequent_item_pairs** — the support-counting core of association-
  rule mining (Agrawal & Srikant 1994): count, per unordered part
  pair, the number of orders containing both, keep pairs with support
  >= {PAIR_MIN_SUPPORT}, emit the top-{PAIR_TOPK}.  Scale shape: the
  per-order pair explosion is bounded by order size (collect_set per
  order, local k*(k-1)/2 generation — the triangle_count build), the
  support count is one map-side-combinable aggregation on (u, v), and
  the finisher is TakeOrderedAndProject — no global sort, no all-pairs
  term anywhere.  Integer counts: exact in both engines.

* **chi2_token_assoc** — per-token one-vs-rest chi-squared against a
  document class (source == '{CHI2_CLASS}'), the standard
  feature-selection score (Manning/Raghavan/Schuetze IR ch. 13).
  Document-level presence (distinct doc/token), one aggregation to the
  2x2 contingency counts per token, the corpus totals as a 1-row
  broadcast, and chi2 = N*(N11*N00 - N10*N01)^2 / ((N11+N01)(N11+N10)
  (N01+N00)(N10+N00)) evaluated in DOUBLE from exact int64 counts with
  the identical association order in both engines (delta is exact
  int64, cast to double BEFORE squaring; value-exact while
  |delta| < 2^53 ≈ 1e8 docs — the documented envelope).  Finisher is
  TakeOrderedAndProject top-{CHI2_TOPK} by (chi2 desc, token asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.sources.tables import load_table

PAIR_MIN_SUPPORT = 2
PAIR_TOPK = 20

CHI2_CLASS = "src0"
CHI2_TOPK = 20


def frequent_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PAIR_TOPK} co-purchased part pairs by order support
    (support >= {PAIR_MIN_SUPPORT}); output (part_a, part_b, support)
    with part_a < part_b, ordered (support desc, part_a, part_b)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    per_order = li.groupBy("ok").agg(
        F.sort_array(F.collect_set("p")).alias("ps")
    )
    pair_expr = F.expr(
        "explode(flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps) - i - 1), "
        "y -> struct(x AS u, y AS v)))))"
    )
    support = (
        per_order.select(pair_expr.alias("e"))
        .select(F.col("e.u").alias("part_a"), F.col("e.v").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= PAIR_MIN_SUPPORT)
    )
    return support.orderBy(
        F.desc("support"), F.asc("part_a"), F.asc("part_b")
    ).limit(PAIR_TOPK)


FREQUENT_PAIRS_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
pairs AS (
  SELECT a.p AS part_a, b.p AS part_b, count(*) AS support
  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
  GROUP BY 1, 2
)
SELECT part_a, part_b, support FROM pairs
WHERE support >= {PAIR_MIN_SUPPORT}
ORDER BY support DESC, part_a ASC, part_b ASC
LIMIT {PAIR_TOPK}
"""


def chi2_token_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{CHI2_TOPK} tokens by one-vs-rest chi-squared association
    with documents whose source == '{CHI2_CLASS}'.  Output
    (token, n11, n01, chi2): n11 = class docs containing the token,
    n01 = other docs containing it."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("source") == CHI2_CLASS).alias("in_class")
    )
    totals = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("in_class").cast("long")).alias("n_class"),
    )
    presence = (
        d.select(
            "doc_id", "in_class", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .dropDuplicates(["doc_id", "token"])
    )
    per_tok = presence.groupBy("token").agg(
        F.sum(F.col("in_class").cast("long")).alias("n11"),
        F.sum((~F.col("in_class")).cast("long")).alias("n01"),
    )
    j = per_tok.crossJoin(F.broadcast(totals))
    n10 = F.col("n_class") - F.col("n11")
    n00 = (F.col("n_docs") - F.col("n_class")) - F.col("n01")
    # delta stays exact int64 (products <= n^2/4 — overflows only past
    # ~6e9 docs); it is cast to double BEFORE squaring, because
    # delta^2 in int64 would silently wrap past ~55k docs.  The cast
    # is value-exact while |delta| < 2^53 (~1e8 docs — the documented
    # envelope); both engines square the identical double.
    delta = (F.col("n11") * n00 - n10 * F.col("n01")).cast("double")
    denom = (
        (F.col("n11") + F.col("n01")).cast("double")
        * (F.col("n11") + n10).cast("double")
        * (F.col("n01") + n00).cast("double")
        * (n10 + n00).cast("double")
    )
    chi2 = (F.col("n_docs").cast("double") * (delta * delta)) / denom
    # degenerate 0/0 -> NaN guards, applied identically on both sides
    # (NaN ordering/hashing semantics differ subtly across engines):
    # a token present in EVERY document has (N10+N00) = 0, and a
    # corpus where the class is empty (n_class = 0) or universal
    # (n_class = n_docs) zeroes the (N11+N10) / (N01+N00) factors for
    # EVERY token (r11 advice — the original guard covered only the
    # first case; fixture-safe, but not arbitrary-input-safe).  In the
    # degenerate-class case chi2 is undefined for all tokens, so the
    # row set is empty — the honest answer for "no class signal
    # exists".
    scored = j.filter(
        (F.col("n11") + F.col("n01") < F.col("n_docs"))
        & (F.col("n_class") > 0)
        & (F.col("n_class") < F.col("n_docs"))
    ).select("token", "n11", "n01", chi2.alias("chi2"))
    return scored.orderBy(F.desc("chi2"), F.asc("token")).limit(CHI2_TOPK)


CHI2_TOKEN_SQL = f"""
WITH d AS (
  SELECT doc_id, text, (source = '{CHI2_CLASS}') AS in_class FROM documents
),
totals AS (
  SELECT count(*) AS n_docs,
         sum(CAST(in_class AS BIGINT)) AS n_class
  FROM d
),
presence AS (
  SELECT DISTINCT doc_id, in_class, tok AS token
  FROM d, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE tok <> ''
),
per_tok AS (
  -- CAST the sums back to BIGINT: DuckDB widens sum(BIGINT) to
  -- HUGEINT, which the driver's arrow bridge mis-types (the r3
  -- incident; test_driver_parity_types enforces the contract)
  SELECT token,
         CAST(sum(CAST(in_class AS BIGINT)) AS BIGINT) AS n11,
         CAST(sum(CAST(NOT in_class AS BIGINT)) AS BIGINT) AS n01
  FROM presence GROUP BY token
)
SELECT token, n11, n01,
  (CAST(n_docs AS DOUBLE)
   * (CAST(n11 * ((n_docs - n_class) - n01) - (n_class - n11) * n01
           AS DOUBLE)
      * CAST(n11 * ((n_docs - n_class) - n01) - (n_class - n11) * n01
             AS DOUBLE)))
  / (CAST(n11 + n01 AS DOUBLE)
     * CAST(n11 + (n_class - n11) AS DOUBLE)
     * CAST(n01 + ((n_docs - n_class) - n01) AS DOUBLE)
     * CAST((n_class - n11) + ((n_docs - n_class) - n01) AS DOUBLE)) AS chi2
FROM per_tok, totals
WHERE n11 + n01 < n_docs AND n_class > 0 AND n_class < n_docs
ORDER BY chi2 DESC, token ASC
LIMIT {CHI2_TOPK}
"""


QUERIES = {
    "frequent_item_pairs": (frequent_item_pairs, FREQUENT_PAIRS_SQL),
    "chi2_token_assoc": (chi2_token_assoc, CHI2_TOKEN_SQL),
}
