"""Aggregates, scalar functions and stats: rollup/cube/grouping sets,
distinct counts, pivot/unpivot, exact percentiles, skew-salted exact
distinct, string/date/JSON/array scalar functions, per-group top terms
and grouped closed-form OLS.  Determinism rules: see the package
docstring.

`skew_salted_distinct` is the 100 TB exact-distinct shape for
aggregates the planner CANNOT auto-rewrite.  (Plain `count(DISTINCT)`
Spark already expands into a partial-dedup exchange — no salting
needed.)  The naive materialization `size(collect_set(k))` however
concentrates each group's ENTIRE key set in one reducer's memory — an
OOM straggler when one group holds half the table.  Salting by
`k % n` splits each group's set across n disjoint buckets (each
distinct k lands in exactly one salt, so bucket sizes ADD exactly),
bounding any reducer's state to 1/n of a group; a second tiny shuffle
sums the n partial sizes.  A logical transformation AQE cannot make.

`sql_grouping_sets` runs through `spark.sql(...)` over registered temp
views — the engine's raw-SQL entry point — and exercises GROUPING SETS
+ grouping_id, the generalization of the rollup/cube queries.

`stats_regression_group` computes per-group slope/intercept from exact
integer moment sums, the regression twin of stats_correlation's
bit-reproducibility contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_addresses_spark.plans import _dec_sum
from etl_addresses_spark.sources.tables import load_table


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (grouping sets)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("l_quantity"), "decimal(18,2)").alias("sum_qty"),
    )


AGG_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


AGG_DISTINCT_COUNTS_SQL = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def agg_pivot_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot expressed as conditional aggregation (portable shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_linestatus") == "O", qty)).cast("double").alias("qty_o"),
        F.sum(F.when(F.col("l_linestatus") == "F", qty)).cast("double").alias("qty_f"),
    )


AGG_PIVOT_CASE_SQL = """
SELECT l_returnflag,
  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o,
  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f
FROM lineitem GROUP BY l_returnflag
"""


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets with grouping_id disambiguation (a rollup row
    with NULL keys is distinguishable from a NULL data value)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.grouping_id().alias("gid"),
    )


AGG_CUBE_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the raw spark.sql interface over temp views."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
          grouping_id(l_returnflag, l_linestatus) AS gid,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          count(*) AS n
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    ).withColumn("gid", F.col("gid").cast("long"))


SQL_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`, verified bit-identical).  At 100 TB you would use
    approx_percentile; the exact form is the correctness baseline."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50_price"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90_price"),
        F.expr("percentile(l_quantity, 0.25)").alias("p25_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


AGG_PERCENTILES_SQL = """
SELECT l_returnflag,
  quantile_cont(l_extendedprice, 0.5) AS p50_price,
  quantile_cont(l_extendedprice, 0.9) AS p90_price,
  quantile_cont(l_quantity, 0.25) AS p25_qty,
  min(l_extendedprice) AS min_price,
  max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag
"""


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot (stack) of three lineitem measures."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'price', l_extendedprice, "
            "'discount', l_discount) AS (measure, value)"
        ),
    )


UNPIVOT_MEASURES_SQL = """
SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
"""


N_SALTS = 16


def skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct parts per return flag via salted set
    materialization: per-(group, salt) collect_set sizes, summed per
    group.  Salt = key mod N_SALTS -> buckets are disjoint and sizes
    add exactly; no reducer ever holds a group's full key set."""
    li = load_table(spark, sf_dir, "lineitem")
    partial = (
        li.groupBy(
            "l_returnflag",
            (F.col("l_partkey") % N_SALTS).alias("_salt"),
        )
        .agg(F.size(F.collect_set("l_partkey")).cast("long").alias("d_parts"))
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(F.sum("d_parts").alias("distinct_parts"))
    )


SKEW_SALTED_DISTINCT_SQL = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts
FROM lineitem GROUP BY l_returnflag
"""


def scalar_string_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar surface in one projection."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.col("o_orderpriority")).alias("prio_upper"),
        F.substring(F.col("o_orderpriority"), 1, 1).alias("prio_code"),
        F.length(F.col("o_orderstatus")).cast("long").alias("status_len"),
        # F.concat (null-propagating) mirrors the oracle's `||`;
        # concat_ws would skip a NULL side and diverge.
        F.concat(
            F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")
        ).alias("status_prio"),
        F.replace(
            F.col("o_orderpriority"), F.lit("-"), F.lit("_")
        ).alias("prio_snake"),
        F.year(F.col("o_orderdate")).cast("long").alias("o_year"),
        F.month(F.col("o_orderdate")).cast("long").alias("o_month"),
        F.dayofmonth(F.col("o_orderdate")).cast("long").alias("o_day"),
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.abs(F.col("o_orderkey") - 1000).alias("key_absdiff"),
        F.round(F.col("o_totalprice"), 0).cast("double").alias("price_rounded"),
        F.regexp_extract(F.col("o_orderpriority"), "^(\\d+)-", 1).alias("prio_num"),
    )


SCALAR_STRING_DATE_SQL = """
SELECT o_orderkey,
  upper(o_orderpriority) AS prio_upper,
  substring(o_orderpriority, 1, 1) AS prio_code,
  length(o_orderstatus) AS status_len,
  o_orderstatus || '-' || o_orderpriority AS status_prio,
  replace(o_orderpriority, '-', '_') AS prio_snake,
  year(o_orderdate) AS o_year,
  month(o_orderdate) AS o_month,
  day(o_orderdate) AS o_day,
  o_orderkey % 7 AS key_mod,
  abs(o_orderkey - 1000) AS key_absdiff,
  CAST(round(o_totalprice, 0) AS DOUBLE) AS price_rounded,
  coalesce(regexp_extract(o_orderpriority, '^(\\d+)-', 1), '') AS prio_num
FROM orders
"""


def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events props payload."""
    e = load_table(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )


SCALAR_JSON_EXTRACT_SQL = """
SELECT event_id, user_id,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events WHERE event_type = 'purchase'
"""


def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the tokenized documents:
    filter/transform/slice/sort/contains — the Catalyst lambda surface."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    w = F.col("w")
    return toks.select(
        "doc_id",
        F.size(w).cast("long").alias("n"),
        F.size(F.filter(w, lambda t: F.length(t) > 5)).cast("long").alias("n_long"),
        F.concat_ws("|", F.slice(F.array_sort(w), 1, 3)).alias("first3_sorted"),
        F.array_contains(w, "spark").alias("has_spark"),
        F.size(F.array_distinct(F.transform(w, F.upper))).cast("long").alias("n_upper_distinct"),
    )


SCALAR_ARRAY_FUNCS_SQL = """
SELECT doc_id,
  len(string_split(text, ' ')) AS n,
  len(list_filter(string_split(text, ' '), t -> length(t) > 5)) AS n_long,
  array_to_string(list_sort(string_split(text, ' '))[1:3], '|') AS first3_sorted,
  list_contains(string_split(text, ' '), 'spark') AS has_spark,
  len(list_distinct(list_transform(string_split(text, ' '), t -> upper(t)))) AS n_upper_distinct
FROM documents
"""


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tokens per document by frequency (explode -> count ->
    rank), deterministic tie-break on the token itself."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    counts = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("tok"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "tok", "cnt")
    )


TEXT_TOP_TERMS_SQL = """
SELECT doc_id, rnk, tok, cnt FROM (
  SELECT doc_id, tok, cnt,
    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok ASC) AS rnk
  FROM (
    SELECT doc_id, tok, count(*) AS cnt
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY doc_id, tok
  )
)
WHERE rnk <= 3
"""


def stats_regression_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary least squares (y = l_extendedprice on
    x = l_quantity, grouped by return flag x line status) from EXACT
    integer moment sums — the regression member of the
    stats_correlation family, same bit-reproducibility contract:

      slope     = (n.Sxy - Sx.Sy) / (n.Sxx - Sx.Sx)
      intercept = (Sy - slope * Sx) / n

    Both measures are quantized to exact integer cents and the moment
    sums accumulate as int64 limb sums (the machinery and its
    preconditions live next to stats_correlation in
    operators/sketches.py — associative, order-independent, RUN-TO-RUN
    bit-stable regardless of partitioning, and pure codegen long sums
    instead of the earlier per-row double->DECIMAL(38,12) casts +
    BigDecimal accumulation).  The closed form is then evaluated in
    double with the same association in both engines; slope is
    invariant under the common ×100 scaling of x and y, intercept
    scales by 100 and is divided back identically on both sides.  The
    published values (6-digit rounding contract) are UNCHANGED row for
    row vs the decimal formulation at sf0.001/0.01/0.1 — the exact
    sums differ from the decimal ones only by the ~1e-13-relative
    double-product rounding noise the decimal casts used to keep,
    five orders of magnitude below the publication precision.  One
    scan, map-side-combinable sums, a 4-row reduce — at 100 TB this
    costs one pass like any groupBy-sum.  (Spark's
    regr_slope/regr_intercept aggregates would accumulate in double
    and lose even run-to-run bit-stability; deliberately not used.)
    """
    from etl_addresses_spark.operators.sketches import (
        limb_guard,
        limb_recomb,
        limb_sum_aggs,
    )

    li = load_table(spark, sf_dir, "lineitem")
    u = F.round(F.col("l_quantity") * 100).cast("long")
    v = F.round(F.col("l_extendedprice") * 100).cast("long")
    # r15: the FIRST moments (sx, sy) ride the limb machinery too — a
    # plain long sum of extendedprice cents wraps int64 at ~9e11
    # worst-case rows, inside the 100 TB envelope; the limb path is
    # exact to ~4.39e12 rows and limb_guard raises loudly past that
    # (r14 verdict item 2; envelope stated at the machinery comment in
    # operators/sketches.py).
    m = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *limb_sum_aggs(u, "sx", limbs=2),
        *limb_sum_aggs(v, "sy", limbs=2),
        *limb_sum_aggs(u * u, "sxx"),
        *limb_sum_aggs(u * v, "sxy"),
    )
    slope = (
        f"(cast(n as double) * {limb_recomb('sxy')}"
        f" - {limb_recomb('sx', limbs=2)} * {limb_recomb('sy', limbs=2)})"
        f" / (cast(n as double) * {limb_recomb('sxx')}"
        f" - {limb_recomb('sx', limbs=2)} * {limb_recomb('sx', limbs=2)})"
    )
    return m.selectExpr(
        "l_returnflag",
        "l_linestatus",
        "n",
        limb_guard(f"round({slope}, 6)") + " as slope",
        limb_guard(
            f"round(({limb_recomb('sy', limbs=2)} - ({slope}) * {limb_recomb('sx', limbs=2)})"
            " / cast(n as double) / 100e0, 6)"
        )
        + " as intercept",
    )


def _stats_regression_group_sql() -> str:
    from etl_addresses_spark.operators.sketches import (
        limb_recomb,
        limb_sum_sql,
    )

    u = "CAST(round(l_quantity*100) AS BIGINT)"
    v = "CAST(round(l_extendedprice*100) AS BIGINT)"
    sums = ", ".join(
        limb_sum_sql(u, "sx", limbs=2)
        + limb_sum_sql(v, "sy", limbs=2)
        + limb_sum_sql(f"{u} * {u}", "sxx")
        + limb_sum_sql(f"{u} * {v}", "sxy")
    )
    # identical expression text to the Spark side minus the overflow
    # guard (DuckDB sum(BIGINT) promotes to HUGEINT)
    slope = (
        f"(cast(n as double) * {limb_recomb('sxy')}"
        f" - {limb_recomb('sx', limbs=2)} * {limb_recomb('sy', limbs=2)})"
        f" / (cast(n as double) * {limb_recomb('sxx')}"
        f" - {limb_recomb('sx', limbs=2)} * {limb_recomb('sx', limbs=2)})"
    )
    return f"""
WITH m AS (
  SELECT l_returnflag, l_linestatus, count(*) AS n,
    {sums}
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, n,
  round({slope}, 6) AS slope,
  round(({limb_recomb('sy', limbs=2)} - ({slope}) * {limb_recomb('sx', limbs=2)})
    / cast(n as double) / 100e0, 6) AS intercept
FROM m
"""


STATS_REGRESSION_GROUP_SQL = _stats_regression_group_sql()


QUERIES = {
    "agg_rollup": (agg_rollup, AGG_ROLLUP_SQL),
    "agg_distinct_counts": (agg_distinct_counts, AGG_DISTINCT_COUNTS_SQL),
    "agg_pivot_case": (agg_pivot_case, AGG_PIVOT_CASE_SQL),
    "agg_cube": (agg_cube, AGG_CUBE_SQL),
    "sql_grouping_sets": (sql_grouping_sets, SQL_GROUPING_SETS_SQL),
    "agg_percentiles": (agg_percentiles, AGG_PERCENTILES_SQL),
    "unpivot_measures": (unpivot_measures, UNPIVOT_MEASURES_SQL),
    "skew_salted_distinct": (skew_salted_distinct, SKEW_SALTED_DISTINCT_SQL),
    "scalar_string_date": (scalar_string_date, SCALAR_STRING_DATE_SQL),
    "scalar_json_extract": (scalar_json_extract, SCALAR_JSON_EXTRACT_SQL),
    "scalar_array_funcs": (scalar_array_funcs, SCALAR_ARRAY_FUNCS_SQL),
    "text_top_terms": (text_top_terms, TEXT_TOP_TERMS_SQL),
    "stats_regression_group": (stats_regression_group, STATS_REGRESSION_GROUP_SQL),
}
