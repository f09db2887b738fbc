"""Partitioned sinks + partition-pruned scans.

At 100 TB, output tables are laid out `partitionBy` their query
dimension (date, type, tenant...) so downstream readers scan only the
partitions a filter selects — Spark turns the filter into
PartitionFilters (directory pruning), never touching the other files.
Tests assert the pruning appears in the physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def read_partition(
    spark: SparkSession, path: str, col: str, value: str
) -> DataFrame:
    from pyspark.sql import functions as F

    return spark.read.parquet(path).filter(F.col(col) == value)


def partitioned_sink_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable partition-pruning contract (round 4): events
    written `partitionBy(event_type)`, read back with a single-type
    filter that Spark satisfies from PartitionFilters (directory
    pruning — the untouched types' files are never opened; asserted on
    the plan in tests/test_partitioned.py), then aggregated per user
    mod 100.  The oracle computes the same aggregate straight from the
    parquet, so a hash match certifies the partitioned round-trip AND
    the pruned read return exactly the original rows.

    Note partitionBy columns come back as directory values: event_type
    re-enters as a string read from the path, exercising the
    partition-value encode/decode path too."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from etl_addresses_spark.sources.tables import load_table

    base = os.path.join(
        tempfile.gettempdir(),
        "etl_addresses_spark_part",
        # pid-discriminated: concurrent processes must not share sinks
        str(os.getpid()),
        os.path.basename(os.path.normpath(sf_dir)),
    )
    write_partitioned(load_table(spark, sf_dir, "events"), base, "event_type")
    purchases = read_partition(spark, base, "event_type", "purchase")
    return (
        purchases.groupBy((F.col("user_id") % 100).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


PARTITIONED_PRUNE_SQL = """
SELECT user_id % 100 AS user_bucket,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
  min(event_id) AS min_event_id,
  max(event_id) AS max_event_id
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""


QUERIES = {
    "partitioned_sink_prune": (partitioned_sink_prune, PARTITIONED_PRUNE_SQL),
}
