"""Loaders for the driver's deterministic parquet tables.

Tables (per /root/repo/TESTDATA.md): region nation customer supplier
part orders lineitem events documents embeddings, one parquet file per
table under /root/testdata/sf{0.001,0.01,0.1}/.

Parquet is read with its embedded schema (no inference cost); column
pruning and predicate pushdown reach the scan because every downstream
query goes through the DataFrame API. At 100 TB each "file" becomes a
partitioned directory — `load_table` takes any path Spark can read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs every query depends on, set defensively because the
    driver may call us with a SparkSession it built itself:
    UTC session timezone (fuzzy-date epoch math and all oracle
    timestamp comparisons assume it), nanos-as-long parquet reads
    (older testdata stored events.ts as TIMESTAMP(NANOS), which the
    vectorized reader otherwise rejects), and no NTZ inference (current
    testdata stores naive timestamp[us]; with a UTC session, reading it
    as TIMESTAMP keeps the same instant values and keeps unix_micros /
    window arithmetic working — DuckDB's epoch_us on the naive value
    agrees).  All are session-level SQL confs, safe to set at call
    time."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """THE single definition of events.ts unit handling — shared by the
    batch loader and the streaming reader so the two paths can never
    diverge (the round-2 bug: streaming kept a stale `div 1000` after
    the testdata moved from TIMESTAMP(NANOS) to timestamp[us]).

    Branches on the actual read dtype:
    - ``bigint``: TIMESTAMP(NANOS) parquet surfaced as raw nanos by
      spark.sql.legacy.parquet.nanosAsLong; truncate to micros — the
      same truncation DuckDB applies comparing TIMESTAMP_NS at micro
      precision.
    - ``timestamp_ntz``: naive timestamp read with NTZ inference on
      (e.g. an explicit NTZ schema); with a UTC session the cast is
      value-preserving.
    - ``timestamp``: already correct, pass through.
    """
    ts_type = dict(df.dtypes).get("ts")
    from pyspark.sql import functions as F

    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def events_file_schema(spark: SparkSession, sf_dir: str):
    """Parquet footer schema of events as Spark will read it under
    ensure_session_confs — one cheap metadata-only read.  Streaming
    needs this up front because readStream requires an explicit schema."""
    ensure_session_confs(spark)
    return spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql can reference it."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def fan_out(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Decouple compute parallelism from scan splits before a
    high-fan-out per-row kernel (the Gram d^2 expansion, brute-force
    cosine scoring: 100-4000x more work per row than bytes per row).

    Why: split count comes from file bytes (maxPartitionBytes), so a
    small-but-dense columnar input can land in ONE split and serialize
    the whole kernel on one core — measured at the 10x scale run: the
    Gram pass was 31x slower at 10x data because 20k vectors compress
    to a single ~4 MB parquet split (tools/evidence/r6_scale_sf1.json,
    pre-fix).  A round-robin repartition to defaultParallelism moves
    only the raw input bytes once — negligible against the kernel's
    fan-out — and restores full-width execution at any input size; on
    a 100 TB corpus the scan already has >= cores splits and this
    becomes a cheap rebalance.  (Float note: repartitioning changes
    per-partition sum association; every consumer of this helper
    publishes at a rounding quantum orders above the ulp drift.)
    """
    return df.repartition(spark.sparkContext.defaultParallelism)
