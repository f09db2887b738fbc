"""Scale-stress the curation operators: replicate the sf0.1 documents
table K times (distinct doc_ids, varied text) and time the sampling /
token-count / curation passes plus the PNG encode+decode pipeline.

    python tools/stress_curation.py [K ...]

Row counts scale linearly with K; all timed operators are map-side
except curate_corpus's single dedup shuffle, so throughput should stay
~flat per row as K grows — that flatness is the scale evidence.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import timed_noop
from etl_addresses_spark.operators import curation, multimodal
from etl_addresses_spark.session import get_spark
from etl_addresses_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def synth_docs(spark, k: int):
    d = load_table(spark, SF_DIR, "documents")
    reps = spark.range(k).select(F.col("id").alias("rep"))
    return (
        d.crossJoin(reps)
        .select(
            (F.col("doc_id") * k + F.col("rep")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" v"), F.col("rep").cast("string")
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        # the parquet source is one split at this size; spread the
        # synthetic corpus so the timings measure 32-way parallelism
        .repartition(32)
    )


def timed(label: str, df) -> None:
    print(f"  {label}: {timed_noop(lambda: df):.2f}s")


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 4, 16]
    spark = get_spark("stress-curation")
    spark.sparkContext.setLogLevel("ERROR")
    for k in ks:
        docs = synth_docs(spark, k)
        docs.cache()
        n = docs.count()
        print(f"K={k}: {n} docs")
        # monkey-point the loaders at the synthetic frame via _for-style
        # inline copies of the registry expressions
        toks = F.split(F.col("text"), " ")
        n_tokens = F.size(toks)
        mwl = (
            (F.length("text") - (F.size(toks) - 1)).cast("double")
            / F.size(toks)
        )
        timed(
            "sample_stratified",
            docs.select(
                "doc_id", "source", F.expr(curation._H2).alias("h2")
            ).filter(F.col("h2") < "80"),
        )
        timed(
            "token_count_bpe",
            docs.select(
                "doc_id",
                F.regexp_count(
                    F.col("text"), F.lit(curation._BPE_PATTERN)
                ).alias("n_bpe"),
            ),
        )
        quality = docs.select(
            "doc_id", "source", "lang", "text", n_tokens.alias("n_tokens")
        ).filter((n_tokens >= 10) & (mwl >= 2.0) & (mwl <= 12.0))
        timed(
            "curate_corpus",
            quality.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
            .agg(
                F.min(F.struct("doc_id", "source", "lang", "n_tokens")).alias(
                    "rep"
                )
            )
            .select("rep.doc_id", "rep.source", "rep.lang", "rep.n_tokens")
            .filter(F.expr(curation._H2) < "80"),
        )
        png = docs.select("doc_id").mapInPandas(
            multimodal._encode_png_batches, schema="doc_id bigint, payload binary"
        )
        timed(
            "png_encode_decode",
            png.mapInPandas(
                multimodal._decode_png_batches,
                schema=multimodal.DECODE_PNG_SCHEMA,
            ),
        )
        docs.unpersist()


if __name__ == "__main__":
    main()
