"""sf1-class scale evidence (r5 verdict item 5).

Builds a FACTOR x (default 10x => "sf1-class") replica of sf0.1 under
/tmp, runs the most scale-sensitive registry queries at BOTH scales in
one session with the bench hygiene protocol, and records wall time
plus per-query Spark counters (shuffle read/write and input MB, tasks,
executor time) from the live status store — converting the "would the
plan survive 10x" design arguments into committed numbers (shuffle
bytes growing ~linearly with input is the pass signal; a super-linear
jump flags a plan that would not survive 100 TB).  Evidence files
written before the counters moved off the UI REST API carry byte
fields (shuffle_read, shuffle_write, input_bytes) instead.

Replication is key-disjoint so workload STRUCTURE scales instead of
degenerating:
- every key column gets a per-replica offset of r * (max_key + 1), so
  joins/groups see FACTOR x more keys, not FACTOR x hotter keys;
- l_partkey is offset too, so the parts-bought-together graph becomes
  FACTOR disjoint copies (graph ops scale in nodes+edges rather than
  collapsing onto the same graph with duplicate edges);
- documents.text word-salts every token with the replica id, so
  within-replica near-dup structure is preserved exactly while NO
  cross-replica shingle ever matches (plain text replication would
  make every replica pair a near-dup and blow up LSH pair output
  quadratically — a data-degeneracy artifact, not a scale signal);
- embeddings get a small deterministic per-replica perturbation so
  vector queries see FACTOR x distinct points, not FACTOR x exact ties.

Usage: python tools/stress_scale.py [factor]  (writes
tools/evidence/r6_scale_sf1.json and prints the same JSON).
"""

from __future__ import annotations

import json
import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))

from pyspark.sql import functions as F  # noqa: E402
from shuffle_triage import measure  # noqa: E402

from bench import calibrate, hygiene  # noqa: E402
from etl_addresses_spark.session import get_spark  # noqa: E402
from etl_addresses_spark.sources.tables import load_table  # noqa: E402
from perfbench.probe import JobWatch  # noqa: E402

SRC = "/root/testdata/sf0.1"
FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 10
OUT = f"/tmp/spark_graft_scaled_{FACTOR}x_{os.path.basename(SRC)}"

QUERIES = [
    "spatiotemporal_join",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "dedup_clusters",
    "embedding_gram_matrix",
    "graph_communities_labelprop",
    "graph_bfs_distances",
    "triangle_count",
    "cosine_topk_fast",
    # the ANN contrast row for cosine_topk_fast: the exact tier's cost
    # is N x |queries| (queries scale with the corpus -> ~factor^2);
    # the IVF tier prunes to nprobe lists per query
    "ann_ivf_topk",
]
# attribution runs: restrict to a subset (comma-separated names)
if os.environ.get("SPARK_GRAFT_SCALE_QUERIES"):
    QUERIES = [
        q.strip()
        for q in os.environ["SPARK_GRAFT_SCALE_QUERIES"].split(",")
        if q.strip()
    ]

# key columns to offset per table (offset base = max+1, computed once)
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY = ["region", "nation"]


# Generator version rides the marker filename: a formula change (the
# r9 sign-flip fix) must invalidate pre-existing /tmp builds, or reruns
# silently benchmark stale replica data (r9 review finding).
GEN = "v5"


def build_scaled(spark) -> None:
    marker = os.path.join(OUT, f"_BUILT_{GEN}")
    if os.path.exists(marker):
        return
    os.makedirs(OUT, exist_ok=True)
    for t in COPY:
        load_table(spark, SRC, t).write.mode("overwrite").parquet(
            os.path.join(OUT, f"{t}.parquet")
        )
    for t, keys in KEYS.items():
        df = load_table(spark, SRC, t)
        bases = df.agg(
            *[(F.max(k) + F.lit(1)).alias(k) for k in keys]
        ).first()
        rep = df.select(
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(FACTOR - 1).cast("long"))
            ).alias("_r"),
            "*",
        )
        for k in keys:
            rep = rep.withColumn(k, F.col(k) + F.col("_r") * F.lit(bases[k]))
        if t in ("customer", "supplier"):
            # salt names per replica: unsalted, every name exists
            # FACTOR times and name-blocked fuzzy joins degenerate to
            # FACTOR^2 within-block pairs (measured 77x at 10x in the
            # first batch-2 run) — real 10x-bigger data has 10x MORE
            # names, not 10 copies of each
            name_col = "c_name" if t == "customer" else "s_name"
            rep = rep.withColumn(
                name_col,
                F.concat(F.col(name_col), F.lit(" r"), F.col("_r")),
            )
        if t == "documents":
            rep = rep.withColumn(
                "text",
                F.expr(
                    "array_join(transform(split(text, ' '), "
                    "w -> concat(w, '_r', cast(_r as string))), ' ')"
                ),
            )
        if t == "embeddings":
            # per-replica deterministic SIGN FLIPS (r9 fix): the old
            # epsilon perturbation kept cross-replica cosines ~1, so
            # every SRP band bucket held all FACTOR copies of a vector
            # and near-pair output grew ~FACTOR^2 (srp_lsh measured
            # 177x wall at 10x) — a replica-construction degeneracy,
            # not a plan signal.  Flipping dimension signs per replica
            # preserves within-replica dot products EXACTLY (s_i^2=1)
            # while decorrelating replicas (x . (s@x) ~ 0) — the
            # embedding analogue of the documents word-salt.  The sign
            # bit comes from Murmur3 `hash(_r, i)` — a linear parity
            # like (_r*31 + i*17) % 97 % 2 was tried first and left
            # delta-r=3 replica pairs at ~0.9 sign agreement, i.e.
            # still-degenerate cosine ~0.9 copies (r9 review, verified
            # numerically).  Replica 0 is the base data EXACTLY (both
            # the epsilon tie-breaker and the flip are gated on _r>0).
            # sign flips ALONE leave energy-concentrated vectors
            # correlated (measured max |cross-replica cosine| 0.65 on
            # the v3 build: a dominant dimension keeps its energy
            # share whatever its sign), so v4 composes them with a
            # per-replica dimension PERMUTATION i -> (i*p + q) mod 64
            # (p odd => coprime with 64 => bijection).  Within-replica
            # dot products stay EXACT (bijection + s_i^2 = 1); cross-
            # replica products mix unrelated coordinates.  v5 (r9 advice):
            # p = 3 + 2*pmod(hash,31) ∈ {3..63}, never 1 — at p=1, q=0
            # the v4 permutation degenerated to the identity and that
            # replica was sign-flips-only, exactly the v3 residual-
            # correlation mode the permutation exists to remove.
            rep = rep.withColumn(
                "embedding",
                F.expr(
                    "transform(embedding, (x, i) -> cast("
                    "if(_r = 0, x,"
                    " (element_at(embedding,"
                    "    pmod(i * (3 + 2 * pmod(hash(_r, 1), 31))"
                    "         + pmod(hash(_r, 2), 64), 64) + 1)"
                    "  + (_r % 7 - 3) * 1.0e-4 * ((i % 5) + 1))"
                    " * (1.0 - 2.0 * pmod(hash(_r, i), 2)))"
                    " as float))"
                ),
            )
        rep.drop("_r").write.mode("overwrite").parquet(
            os.path.join(OUT, f"{t}.parquet")
        )
    open(marker, "w").close()


def main() -> None:
    spark = get_spark("stress-scale")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    build_scaled(spark)
    build_s = round(time.perf_counter() - t0, 1)

    watch = JobWatch(spark)
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))
    # the bench.py arithmetic probe before/between/after the scale
    # blocks: host contention — the r5 triangle_count lesson — must be
    # legible in the artifact, not argued afterwards
    calibration = {"start": calibrate(spark)}
    results: dict[str, dict] = {}
    for sf_name, sf_dir in [("sf0.1", SRC), (f"sf0.1x{FACTOR}", OUT)]:
        for name in QUERIES:
            runs = []
            for _ in range(repeats):
                hygiene(spark)
                runs.append(measure(spark, watch, name, sf_dir))
            per_run = [r["sec"] for r in runs]
            results.setdefault(name, {})[sf_name] = {
                **min(runs, key=lambda r: r["sec"]),
                "repeats": per_run,
            }
            print(f"{sf_name} {name}: {per_run}", file=sys.stderr)
        calibration[f"after_{sf_name}"] = calibrate(spark)

    # scale ratios: wall + shuffle growth vs the FACTOR x input growth
    for name, r in results.items():
        a, b = r["sf0.1"], r[f"sf0.1x{FACTOR}"]
        r["ratio"] = {
            k: (round(b[k] / a[k], 2) if a[k] else None)
            for k in ("sec", "shuffle_read_mb", "shuffle_write_mb", "input_mb")
        }
    out = {
        "factor": FACTOR,
        "build_sec": build_s,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "shuffle_partitions": os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS",
            os.environ.get("SPARK_GRAFT_CPUS", "32"),
        ),
        "calibration": calibration,
        "queries": results,
    }
    path = os.environ.get(
        "SPARK_GRAFT_SCALE_OUT", os.path.join(TOOLS, "evidence", "r6_scale_sf1.json")
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
