"""Scale-stress dedup: exact n-gram all-pairs vs MinHash-LSH.

Synthesizes a corpus K times the documents table (each replica varies
one marker word, plus every 3rd doc gets a true near-dup copy) and
times the exact inverted-index all-pairs Jaccard against
MinHash-LSH + candidate-only verification.

    python tools/stress_dedup.py [K ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import timed_noop
from etl_addresses_spark.operators.dedup import (
    minhash_lsh_pairs_for,
    ngram_jaccard_pairs_for,
)
from etl_addresses_spark.session import get_spark
from etl_addresses_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def synth_corpus(spark, k: int):
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    reps = spark.range(k).select(F.col("id").alias("rep"))
    base = d.crossJoin(reps).select(
        (F.col("doc_id") * k + F.col("rep")).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" v"), F.col("rep").cast("string")
        ).alias("text"),
    )
    near = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" nd"), (F.col("doc_id") % 97).cast("string")
        ).alias("text"),
    )
    return base.unionByName(near)


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 4, 8]
    spark = get_spark("stress-dedup")
    spark.sparkContext.setLogLevel("ERROR")
    # warmup
    timed_noop(lambda: ngram_jaccard_pairs_for(synth_corpus(spark, 1).limit(500)))
    for k in ks:
        corpus = synth_corpus(spark, k).cache()
        n = corpus.count()
        for name, fn in (
            ("exact_ngram", ngram_jaccard_pairs_for),
            ("minhash_lsh", minhash_lsh_pairs_for),
        ):
            sec = timed_noop(lambda: fn(corpus))
            print(f"K={k} docs={n:,} {name} sec={sec:.1f} docs/sec={n / sec:,.0f}")
        corpus.unpersist()
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
