"""Bucketed-table support: co-located joins without a shuffle.

At 100 TB the dominant cost of fact-fact joins (lineitem ⋈ orders) is
the shuffle.  Writing both tables bucketed by the join key into the
warehouse lets every subsequent join/aggregation on that key run
shuffle-free: Spark matches bucket files 1:1 across tables.

`bucketize` materializes parquet tables bucketed+sorted by key;
`bucketed_join` reads them back and joins — tests assert the physical
plan contains NO Exchange on the join path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.sources.tables import load_table


def bucketize(
    df: DataFrame,
    table_name: str,
    key: str,
    n_buckets: int = 8,
) -> None:
    """Write df as a bucketed, sorted managed table (overwriting).

    The catalog is in-memory but managed-table LOCATIONS persist in
    the warehouse dir across sessions, and saveAsTable refuses a
    location it didn't create — so drop the catalog entry AND clear
    any orphaned location first (idempotent across fresh sessions)."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{table_name.lower()}", ignore_errors=True)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    left_key: str,
    right_key: str,
) -> DataFrame:
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, left[left_key] == right[right_key])


# --- registry row: co-located join through the bucketed warehouse -------


def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink/scan contract row for BUCKETED tables (same genre as the
    round-4 NDJSON/CSV/partitioned identity rows): write orders and
    lineitem bucketed+sorted by order key into the warehouse, read
    them back, join and aggregate — the oracle is the plain SQL join
    on the raw parquet, so the whole bucketed round-trip must be a
    value-level identity.

    Why it matters at 100 TB: a fact-fact join's dominant cost is the
    shuffle; pre-bucketing both sides by the join key makes every
    subsequent join/agg on that key shuffle-free (bucket files match
    1:1).  tests/test_bucketing.py pins the no-Exchange plan with
    auto-broadcast disabled; this row pins the VALUES through the
    bucketed write+read.  The write cost is the contract being
    certified, exactly like reference_e2e_ndjson."""
    tok = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    bucketize(o, f"b_orders_{tok}", "o_orderkey")
    bucketize(li, f"b_lineitem_{tok}", "l_orderkey")
    joined = bucketed_join(
        spark, f"b_orders_{tok}", f"b_lineitem_{tok}", "o_orderkey", "l_orderkey"
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderstatus").agg(
        F.sum(revenue.cast("decimal(18,4)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


BUCKETED_JOIN_SQL = """
SELECT o_orderstatus,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


QUERIES = {
    "bucketed_join_colocated": (bucketed_join_colocated, BUCKETED_JOIN_SQL),
}
