"""Scale-stress the epoch-shuffle position assignment.

Compares `train_order_shuffle`'s bucketed-keyspace ranking against the
naive global window (row_number over ORDER BY hash — a single-partition
sort) on synthetic doc ids from spark.range, at growing N.  Also
verifies both produce identical positions.

    python tools/stress_train_order.py [n1 n2 ...]   (default 1M 4M)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bench import timed_noop
from etl_addresses_spark.session import get_spark


def bucketed_positions(docs):
    h = F.md5(F.concat(F.lit("epoch17:"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", h.alias("h"), F.substring(h, 1, 2).alias("bucket"))
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    offsets = counts.select(
        "bucket",
        F.sum("n")
        .over(W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1))
        .alias("off"),
    ).fillna(0, subset=["off"])
    ranked = keyed.withColumn(
        "r", F.row_number().over(W.partitionBy("bucket").orderBy("h", "doc_id"))
    )
    return ranked.join(F.broadcast(offsets), "bucket").select(
        "doc_id", (F.col("off") + F.col("r")).cast("long").alias("pos")
    )


def naive_positions(docs):
    h = F.md5(F.concat(F.lit("epoch17:"), F.col("doc_id").cast("string")))
    return docs.select(
        "doc_id",
        F.row_number().over(W.orderBy(h, "doc_id")).cast("long").alias("pos"),
    )


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [1_000_000, 4_000_000]
    spark = get_spark("stress-train-order")
    spark.sparkContext.setLogLevel("ERROR")
    warm = spark.range(100_000).select(F.col("id").alias("doc_id"))
    timed_noop(lambda: bucketed_positions(warm))
    timed_noop(lambda: naive_positions(warm))
    for n in sizes:
        docs = spark.range(n).select(F.col("id").alias("doc_id"))
        tb = timed_noop(lambda: bucketed_positions(docs))
        tn = timed_noop(lambda: naive_positions(docs))
        # value identity on a sample join (full join at the largest N
        # would just re-time the two pipelines)
        if n == sizes[0]:
            a = bucketed_positions(docs)
            b = naive_positions(docs).withColumnRenamed("pos", "pos_naive")
            diff = a.join(b, "doc_id").filter("pos != pos_naive").count()
            assert diff == 0, f"{diff} position mismatches"
            print(f"n={n:,}: positions IDENTICAL to the naive global sort")
        print(
            f"n={n:,}: bucketed {tb:.2f}s  single-partition-window {tn:.2f}s "
            f"({tn / tb:.1f}x)"
        )


if __name__ == "__main__":
    main()
