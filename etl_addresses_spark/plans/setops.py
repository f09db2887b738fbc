"""Set operations, MERGE/SCD2 emulation and snapshots: UNION /
INTERSECT / EXCEPT over buyer sets, MERGE upsert and SCD2 history over
a deterministic change batch, incremental aggregate merge, and the
snapshot reconciliation diff.  Determinism rules: see the package
docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.sources.tables import load_table


def set_union_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    late = o.filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
    return (
        early.select("o_custkey")
        .union(late.select("o_custkey"))
        .distinct()
        .select(F.col("o_custkey").alias("custkey"))
    )


SET_UNION_BUYERS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
UNION
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
"""


def set_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    late = o.filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
    return (
        early.select("o_custkey")
        .intersect(late.select("o_custkey"))
        .select(F.col("o_custkey").alias("custkey"))
    )


SET_INTERSECT_BUYERS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
"""


def set_except_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    late = o.filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
    # subtract == EXCEPT DISTINCT (exceptAll would keep keys whose early
    # multiplicity exceeds their late multiplicity).
    return (
        early.select("o_custkey")
        .subtract(late.select("o_custkey"))
        .select(F.col("o_custkey").alias("custkey"))
    )


SET_EXCEPT_BUYERS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
"""


def _change_batch(c: DataFrame) -> DataFrame:
    """Deterministic CDC batch derived from customer: every key % 7 == 0
    gets an updated balance; keys shifted by +1000000 are inserts."""
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.col("c_name"),
        F.col("c_nationkey"),
        (F.col("c_acctbal") + F.lit(500.0)).alias("c_acctbal"),
        F.col("c_mktsegment"),
    )
    inserts = c.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("NEW "), F.col("c_name")).alias("c_name"),
        F.col("c_nationkey"),
        F.col("c_acctbal"),
        F.col("c_mktsegment"),
    )
    return updates.unionByName(inserts)


_CHANGES_SQL = """
changes AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 500.0e0 AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000 AS c_custkey, 'NEW ' || c_name AS c_name,
         c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 11 = 0
)
"""


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation without a table format: snapshot rows not
    touched by the batch (anti-join) + the batch itself (updates win).
    This is the upsert shape used before Delta/Iceberg are available;
    with them it becomes a single MERGE on the same keys."""
    c = load_table(spark, sf_dir, "customer")
    changes = _change_batch(c)
    untouched = c.join(changes, "c_custkey", "left_anti")
    return untouched.unionByName(changes).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


MERGE_UPSERT_SQL = (
    "WITH " + _CHANGES_SQL.strip() + """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM changes WHERE changes.c_custkey = customer.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM changes
"""
)


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2: applying the change batch produces history rows —
    updated keys keep their old version with is_current=false and gain
    a new current version; inserts and untouched rows are current."""
    c = load_table(spark, sf_dir, "customer")
    changes = _change_batch(c)
    updated_keys = changes.join(c, "c_custkey", "left_semi")
    old_versions = c.join(updated_keys, "c_custkey", "left_semi").select(
        "c_custkey",
        "c_acctbal",
        F.lit(1).alias("version"),
        F.lit(False).alias("is_current"),
    )
    new_versions = changes.join(
        c.select("c_custkey"), "c_custkey", "left_semi"
    ).select(
        "c_custkey",
        "c_acctbal",
        F.lit(2).alias("version"),
        F.lit(True).alias("is_current"),
    )
    untouched = c.join(changes, "c_custkey", "left_anti").select(
        "c_custkey",
        "c_acctbal",
        F.lit(1).alias("version"),
        F.lit(True).alias("is_current"),
    )
    inserts = changes.join(c, "c_custkey", "left_anti").select(
        "c_custkey",
        "c_acctbal",
        F.lit(1).alias("version"),
        F.lit(True).alias("is_current"),
    )
    return old_versions.unionByName(new_versions).unionByName(
        untouched
    ).unionByName(inserts)


SCD2_HISTORY_SQL = (
    "WITH " + _CHANGES_SQL.strip() + """
SELECT c_custkey, c_acctbal, 1 AS version, false AS is_current FROM customer
WHERE EXISTS (SELECT 1 FROM changes WHERE changes.c_custkey = customer.c_custkey)
UNION ALL
SELECT ch.c_custkey, ch.c_acctbal, 2 AS version, true AS is_current FROM changes ch
WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = ch.c_custkey)
UNION ALL
SELECT c_custkey, c_acctbal, 1 AS version, true AS is_current FROM customer
WHERE NOT EXISTS (SELECT 1 FROM changes WHERE changes.c_custkey = customer.c_custkey)
UNION ALL
SELECT ch.c_custkey, ch.c_acctbal, 1 AS version, true AS is_current FROM changes ch
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = ch.c_custkey)
"""
)


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a base rollup
    (orders before 1997) merged with a delta batch (1997 onward) by
    COMBINING PARTIAL STATES — sums add, counts add, avg re-derives
    from merged sum/count — instead of rescanning history.  At 100 TB
    this is the difference between a daily job over one day's delta and
    one over five years of history.  The oracle aggregates the full
    table directly, proving merged-partial == recomputed-from-scratch."""
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )

    base = rollup(o.filter(F.col("o_orderdate") < cutoff))
    delta = rollup(o.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("sum_price").alias("sum_price"),
            F.sum("n_orders").alias("n_orders"),
        )
    )
    return merged.select(
        "o_orderstatus",
        F.col("sum_price").cast("double").alias("sum_price"),
        "n_orders",
        (F.col("sum_price").cast("double") / F.col("n_orders")).alias(
            "avg_price"
        ),
    )


INCREMENTAL_AGG_SQL = """
SELECT o_orderstatus,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
  count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
FROM orders GROUP BY o_orderstatus
"""


def table_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (anti-entropy table diff): given two
    snapshots of a keyed table, emit one row per divergent key with
    status added / removed / changed — the verification pass any
    incremental-sync or CDC pipeline needs.

    The "next" snapshot is derived deterministically from orders so
    the row is oracle-checkable: keys %97==0 deleted, then of the
    survivors %31==0 get o_totalprice bumped by 1.00, and %53==0 are
    re-inserted under key+10^7 (simulating new arrivals).

    Scale shape: each side reduces to (key, fingerprint) — the
    fingerprint is md5 over explicitly-formatted columns (decimal
    string for the price, strftime for the date), so wide rows never
    travel; the diff is ONE full-outer hash join on the key with
    status decided from null-ness + fingerprint inequality, and
    unchanged keys (the overwhelming majority in practice) are
    filtered before any further processing.  Explicit formatting
    matters: float->string rendering is engine-specific, so
    fingerprints are computed only over columns with a pinned textual
    form (the cross-engine row-hash rule)."""
    o = load_table(spark, sf_dir, "orders")

    def fp(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("o_orderkey").alias("key"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderstatus"),
                    F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
                    F.date_format("o_orderdate", "yyyy-MM-dd"),
                    F.col("o_orderpriority"),
                )
            ).alias("fp"),
        )

    cur = fp(o)
    survivors = o.filter(F.col("o_orderkey") % 97 != 0)
    updated = survivors.withColumn(
        "o_totalprice",
        F.when(
            # decimal literal, NOT F.lit(1.0): a double literal would
            # promote the whole column to DOUBLE while the DuckDB
            # oracle's `+ 1.0` stays DECIMAL — the fingerprint would
            # then rely on 2-decimal values round-tripping through
            # binary double exactly (r5 advice)
            F.col("o_orderkey") % 31 == 0,
            F.col("o_totalprice") + F.lit("1.00").cast("decimal(18,2)"),
        ).otherwise(F.col("o_totalprice")),
    )
    inserted = survivors.filter(F.col("o_orderkey") % 53 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10_000_000)
    )
    nxt = fp(updated.unionByName(inserted))
    diff = cur.alias("a").join(
        nxt.alias("b"), F.col("a.key") == F.col("b.key"), "full_outer"
    )
    return (
        diff.select(
            F.coalesce(F.col("a.key"), F.col("b.key")).alias("o_orderkey"),
            F.when(F.col("a.key").isNull(), F.lit("added"))
            .when(F.col("b.key").isNull(), F.lit("removed"))
            .when(F.col("a.fp") != F.col("b.fp"), F.lit("changed"))
            .alias("status"),
        )
        .filter(F.col("status").isNotNull())
    )


TABLE_DIFF_SQL = """
WITH cur AS (
  SELECT o_orderkey AS key,
         md5(concat_ws('|', o_orderstatus,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                       strftime(o_orderdate, '%Y-%m-%d'),
                       o_orderpriority)) AS fp
  FROM orders
),
survivors AS (SELECT * FROM orders WHERE o_orderkey % 97 != 0),
nxt_rows AS (
  SELECT o_orderkey,
         o_orderstatus,
         CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM survivors
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
  FROM survivors WHERE o_orderkey % 53 = 0
),
nxt AS (
  SELECT o_orderkey AS key,
         md5(concat_ws('|', o_orderstatus,
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                       strftime(o_orderdate, '%Y-%m-%d'),
                       o_orderpriority)) AS fp
  FROM nxt_rows
)
SELECT coalesce(a.key, b.key) AS o_orderkey,
       CASE WHEN a.key IS NULL THEN 'added'
            WHEN b.key IS NULL THEN 'removed'
            WHEN a.fp != b.fp THEN 'changed' END AS status
FROM cur a FULL OUTER JOIN nxt b ON a.key = b.key
WHERE (CASE WHEN a.key IS NULL THEN 'added'
            WHEN b.key IS NULL THEN 'removed'
            WHEN a.fp != b.fp THEN 'changed' END) IS NOT NULL
"""


QUERIES = {
    "set_union_buyers": (set_union_buyers, SET_UNION_BUYERS_SQL),
    "set_intersect_buyers": (set_intersect_buyers, SET_INTERSECT_BUYERS_SQL),
    "set_except_buyers": (set_except_buyers, SET_EXCEPT_BUYERS_SQL),
    "merge_upsert": (merge_upsert, MERGE_UPSERT_SQL),
    "scd2_history": (scd2_history, SCD2_HISTORY_SQL),
    "incremental_agg_merge": (incremental_agg_merge, INCREMENTAL_AGG_SQL),
    "table_diff_snapshots": (table_diff_snapshots, TABLE_DIFF_SQL),
}
