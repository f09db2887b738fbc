"""Raw text-line source: the log-ingestion contract.

The third interchange shape after NDJSON (`sources/ndjson.py`) and CSV
(`sources/delimited.py`): unstructured newline-delimited log lines
read with `spark.read.text` and parsed by projection (split /
regexp_extract), the classic first stage of a raw-log pipeline.  No
schema inference, no per-row Python — the parse is a codegen'd
projection, so at 100 TB the scan is I/O-bound.

`rawtext_log_roundtrip` is the driver-checkable identity proof,
symmetric to `reference_e2e_ndjson` / `delimited_roundtrip_csv`:
events are serialized to log lines with exact integer fields (epoch
micros + value cents — floats never travel through text), written via
the text sink, read back, parsed, aggregated; the oracle computes the
same aggregate straight from the parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.session import scratch_dir
from etl_addresses_spark.sources.tables import load_table


def write_log_lines(df: DataFrame, path: str) -> None:
    """Text sink: one string column, one line per record."""
    df.write.mode("overwrite").text(path)


def read_log_lines(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.text(path)


def rawtext_log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("rawtext", sf_dir)
    e = load_table(spark, sf_dir, "events")
    lines = e.select(
        F.concat_ws(
            " ",
            F.unix_micros("ts").cast("string"),
            F.col("event_id").cast("string"),
            F.col("user_id").cast("string"),
            F.col("event_type"),
            F.expr("cast(floor(value * 100.0e0) as bigint)").cast("string"),
        ).alias("value")
    )
    write_log_lines(lines, base)
    parts = F.split(F.col("value"), " ")
    parsed = read_log_lines(spark, base).select(
        F.element_at(parts, 1).cast("long").alias("ts_us"),
        F.element_at(parts, 2).cast("long").alias("event_id"),
        F.element_at(parts, 3).cast("long").alias("user_id"),
        F.element_at(parts, 4).alias("event_type"),
        F.element_at(parts, 5).cast("long").alias("v_cents"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v_cents").cast("long").alias("sum_cents"),
        F.min("ts_us").alias("min_ts_us"),
        F.max("ts_us").alias("max_ts_us"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


RAWTEXT_LOG_SQL = """
SELECT event_type,
  count(*) AS n_events,
  CAST(sum(CAST(floor(value * 100.0e0) AS BIGINT)) AS BIGINT) AS sum_cents,
  min(epoch_us(CAST(ts AS TIMESTAMP))) AS min_ts_us,
  max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_ts_us,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
"""


QUERIES = {
    "rawtext_log_roundtrip": (rawtext_log_roundtrip, RAWTEXT_LOG_SQL),
}
