"""Scale-stress ANN: brute-force cosine top-k vs IVF probing.

Synthesizes N deterministic 64-dim vectors (hash-derived, so no RNG
state) and times the exact brute-force top-k for the standard query
subset against the IVF variant with ~sqrt(N) pseudo-centroid lists.

    python tools/stress_ann.py [N ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import timed_noop
from etl_addresses_spark.operators.similarity import (
    ann_ivf_topk_for,
    cosine_topk_fast_for,
)
from etl_addresses_spark.session import get_spark


def synth_embeddings(spark, n: int, dim: int = 64):
    i = F.col("id")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            (F.xxhash64(i, d) % 2001) / F.lit(1000.0)
        ).cast("float"),
    )
    return spark.range(n).select(
        i.alias("vec_id"), emb.alias("embedding"), (i % 10).cast("int").alias("label")
    )


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [10_000, 50_000, 100_000]
    spark = get_spark("stress-ann")
    spark.sparkContext.setLogLevel("ERROR")
    timed_noop(lambda: cosine_topk_fast_for(synth_embeddings(spark, 2_000)))  # warmup
    for n in ns:
        e = synth_embeddings(spark, n).cache()
        e.count()
        cmod = max(1, round(n / math.isqrt(n)))  # ~sqrt(N) lists
        for name, build in (
            ("brute_force", lambda: cosine_topk_fast_for(e)),
            ("ivf_nprobe2", lambda: ann_ivf_topk_for(e, centroid_mod=cmod)),
        ):
            sec = timed_noop(build)
            print(f"N={n:,} {name} sec={sec:.1f}")
        e.unpersist()


if __name__ == "__main__":
    main()
