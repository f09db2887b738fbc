"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced end-to-end with the noop sink (full computation,
no driver collect).  A warmup scan amortizes JVM/codegen startup so the
numbers reflect steady-state query time.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_addresses_spark.ckpt import free_all_persistent_rdds  # noqa: E402
from etl_addresses_spark.registry import REGISTRY  # noqa: E402
from etl_addresses_spark.session import get_spark  # noqa: E402
from etl_addresses_spark.sources.tables import TABLES, load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "spatiotemporal_join",
    "transform_objects",
    "agg_pricing_summary",
    "agg_rollup",
    "join_topk_order_revenue",
    "join_region_volume",
    "join_outer_order_counts",
    "window_running_total",
    "events_sessionize",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "text_quality",
    "text_langid",
    "cosine_topk_fast",
    "ann_ivf_topk",
    "ann_quantized_topk",
    "asof_join_events",
    "multimodal_decode",
    # TPC-H batch representatives: multi-join shapes (q9 five-way,
    # q21 exists/not-exists, q18 group-having-semi, q4 semi) so
    # relational-plan regressions show up round over round.
    "q4_late_shipments",
    "q9_profit_by_nation_year",
    "q18_large_orders",
    "q21_sole_late_supplier",
    # round-2 additions: the shuffle-heaviest new operators (substring
    # dedup window, bloom build+probe, degree-ordered triangle join)
    "dedup_substring_blocks",
    "bloom_prune_join",
    "triangle_count",
    # round-3 additions: PQ ANN (encode + LUT scan), the pixel-decode
    # Arrow kernel, and the phrase-repetition projection
    "ann_pq_topk",
    "multimodal_pixel_stats",
    "repetition_ngram_score",
    # round-3 LM-quality batch: the bigram-LM double join and the
    # SemDeDup intra-cluster pair join are the two shuffle-bearing ones
    "lm_bigram_logprob",
    "semantic_dedup",
    # round-3 incremental dedup: asymmetric LSH admission join
    "dedup_incremental_lsh",
    # round-4 additions: the cartesian-free fuzzy-match tier, the
    # reference NDJSON I/O contract end-to-end (sink + scan + infer),
    # and contrastive hard-negative mining (scored pass + dual-role
    # window)
    "fuzzy_name_match_blocked",
    "reference_e2e_ndjson",
    "contrastive_hard_negatives",
    # round-3 capstones: the composed curation pipeline and the
    # single-scan exact-moment correlation matrix
    "pipeline_curate_stats",
    "stats_correlation",
    # round-5 additions: the double-path correlation twin (the 40x
    # decimal-vs-double contrast now sits in one artifact), the two
    # new TPC-H shapes, and the bucketed epoch-shuffle.  The passjoin
    # fuzzy tier stays OUT (like the naive tier): at the fixture's
    # d=6 / 18-char uniform names it is out of its selectivity regime
    # by SCALE.md's tier rule — tools/stress_fuzzy.py is its perf
    # evidence, in-regime.
    "stats_correlation_double",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "train_order_shuffle",
    # round-5 additions (2nd batch): snapshot reconciliation diff and
    # the bucketed-warehouse identity row (the write cost IS the
    # co-location contract being certified, like reference_e2e_ndjson)
    "table_diff_snapshots",
    "bucketed_join_colocated",
    # round-5 additions (3rd batch): the streaming-preagg + batch-rank
    # composition and the 4-round synchronous label propagation (the
    # second-heaviest iterative graph op after PageRank)
    "stream_topk_event_types",
    "graph_communities_labelprop",
    # ...and the foreachBatch CDC upsert sink (multi-micro-batch fold)
    "stream_cdc_upsert",
    # ...and the quality/monitoring pair: per-query ANN recall as data,
    # PSI distribution drift between stream halves
    "ann_recall_eval",
    "drift_psi_events",
    # round-7 addition: the exact-integer KS drift twin (per-type
    # window cumsum over distinct values — the one new ranked op)
    "drift_ks_events",
    # ...and the BPE tokenizer pair: merge-table training (iterative
    # pair-count/argmax/merge over the vocabulary) + applying the
    # learned merges for the top-token histogram
    "bpe_merge_table",
    "bpe_encode_stats",
    # round-5 additions (4th batch): clickstream path assembly (the
    # collect_list-per-session + top-k composition), grouped OLS (one
    # scan, 5 decimal moment sums x 4 groups), bounded frontier-BFS
    # (per-round shuffle is O(frontier), the iterative-graph third
    # member), and the PassJoin tier IN regime on document titles
    # (unlike the name fixture, content blocking prunes here — its
    # bench presence is the regime contrast with fuzzy_name_match_*).
    "sessions_path_topk",
    "stats_regression_group",
    "graph_bfs_distances",
    "fuzzy_title_match_passjoin",
    # round-5 additions (5th batch): distributed linear algebra — the
    # one-pass X^T X Gram matrix (flat-array posexplode -> partial
    # agg, measured 2.3x over the struct variant) and the fixed-
    # budget power-iteration top-PC estimator on top of it
    "embedding_gram_matrix",
    "embedding_top_pc",
    # ...plus the model-apply shape: fit (gram + 8 power steps,
    # collected as a 64-double literal) then a ZERO-shuffle scoring
    # scan — the bench time is fit+apply end-to-end
    "embedding_pc_scores",
    # round-6 addition: the A1 observability counter as data (one extra
    # flagship pass under an Observation — its cost relative to
    # spatiotemporal_join IS the observability overhead being measured)
    "infer_addresses_metrics",
    # ...and the token-budget curation selection (histogram threshold,
    # no global sort — the boundary-class window is the only ranked op)
    "quality_budget_select",
    # ...and the small-file compaction maintenance pass (fragment 64
    # shards -> bytes-proportional range-clustered rewrite; the
    # fragment+compact write cost IS the operator, like the other
    # sink-contract rows)
    "compact_small_files",
]

# Bisect/pinning hook: SPARK_GRAFT_BENCH_QUERIES="a,b,c" restricts the
# run to a subset (attribution runs, r1-vs-r2 comparisons); repeats per
# query pin via SPARK_GRAFT_BENCH_REPEATS (default 3 = best-of-3).
# The driver's BENCH_r{N}.json always uses the full list + default
# repeats, so round-over-round totals stay apples-to-apples.
_q_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
if _q_env:
    HEADLINE = [q.strip() for q in _q_env.split(",") if q.strip()]
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


# Calibration probes: fixed workloads with no table input, whose
# runtime depends only on host speed (and JVM warmth), so host noise is
# normalizable from the committed artifact instead of argued in prose
# (r4 verdict item 4).  The workload strings are recorded verbatim in
# every BENCH artifact; the ledgers compare rounds by them.
_ARITH_SUM = "sum(id*2654435761%1000003)"
ARITH_WORKLOAD = f"range(2e8) {_ARITH_SUM}, 32 slices, best-of-3"
SHUFFLE_WORKLOAD = "range(2e7) repartition(32, id) sum(id%1000003), best-of-3"


def timed_noop(build: Callable[[], DataFrame]) -> float:
    """Wall seconds (3 dp) to build a frame with ``build()`` and force it
    end to end through the noop sink (full computation, no driver
    collect).  Plan build is inside the timed region: operators run
    their size-gate counts and eager localCheckpoints there."""
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def hygiene(spark: SparkSession) -> None:
    """Between-run hygiene.  clearCache: several operators cache
    intermediates (shingle sets, oriented edge lists) that a later run
    never reuses, since each run builds new DataFrame objects; the
    round-2 bisect (SCALE.md) traced most of an apparent 1.37x
    regression to exactly this cross-query cache/GC pressure.
    free_all_persistent_rdds also drops localCheckpoint blocks, which
    clearCache does not touch: their residue from the iterative queries
    was the r5 repeat-growth cause (BENCH_r05 embedding_gram_matrix
    1.98 -> 9.25 s); see ckpt.py.  gc.collect() releases the py4j
    handles so the JVM side is actually collectable.  JIT/codegen
    warmth survives all three."""
    spark.catalog.clearCache()
    free_all_persistent_rdds(spark)
    gc.collect()


def calibrate(spark: SparkSession) -> list[float]:
    """Arithmetic probe: a pure-CPU whole-stage-codegen pipeline with no
    shuffle and no cache.  A uniform host slowdown shows up here at the
    same ratio as in the query rows."""
    return [
        timed_noop(
            lambda: spark.range(0, 200_000_000, 1, 32).selectExpr(
                f"{_ARITH_SUM} AS s"
            )
        )
        for _ in range(3)
    ]


def calibrate_shuffle(spark: SparkSession) -> list[float]:
    """Shuffle probe (r13 verdict item 4): the arithmetic probe proved
    blind to the dimension the r13 host drifted in (untouched rows ran
    1.1-1.4x slower while it read identical).  This one round-trips a
    real exchange, 2e7 longs hash-partitioned into 32 partitions, so
    task dispatch and shuffle write/fetch IO show up too."""
    return [
        timed_noop(
            lambda: spark.range(0, 20_000_000, 1, 32)
            .repartition(32, "id")
            .selectExpr("sum(id % 1000003) AS s")
        )
        for _ in range(3)
    ]


def main() -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: touch every table at the target SF, then run each headline
    # query once at the smallest SF so JIT/codegen/AQE paths are hot —
    # timings below then reflect steady-state throughput, not JVM warmup.
    for t in TABLES:
        load_table(spark, SF_DIR, t).count()
    warmup_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warmup_dir) and warmup_dir != SF_DIR:
        for name in HEADLINE:
            timed_noop(lambda: REGISTRY[name].query(spark, warmup_dir))
    hygiene(spark)

    # Calibration runs before AND after the query loop so mid-run
    # environment shifts are visible too.
    #
    # best-of-REPEATS per query: steady-state time.  The shuffle-heavy
    # dedup queries keep improving across the first repeats at the
    # TARGET SF (codegen JIT + shuffle-path warmup that the sf0.001
    # warmup cannot amortize — measured 17 s -> 6 s -> 3 s -> 2.9 s for
    # ngram_jaccard); two repeats still left ±2x noise in the min.
    cal_before = calibrate(spark)
    cal_shuffle_before = calibrate_shuffle(spark)
    timings: dict[str, float] = {}
    repeats: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = REGISTRY[name].query
        per_run: list[float] = []
        for _ in range(REPEATS):
            per_run.append(timed_noop(lambda: fn(spark, SF_DIR)))
            hygiene(spark)
        repeats[name] = per_run
        timings[name] = min(per_run)
    cal_after = calibrate(spark)
    cal_shuffle_after = calibrate_shuffle(spark)

    sf_token = os.path.basename(SF_DIR.rstrip("/")).removeprefix("sf")
    try:
        sf = float(sf_token)
    except ValueError:
        sf = sf_token

    calibration = {
        "workload": ARITH_WORKLOAD,
        "before": cal_before,
        "after": cal_after,
        "best": min(cal_before + cal_after),
        "shuffle_workload": SHUFFLE_WORKLOAD,
        "shuffle_before": cal_shuffle_before,
        "shuffle_after": cal_shuffle_after,
        "shuffle_best": min(cal_shuffle_before + cal_shuffle_after),
    }
    detail = {
        "metric": "headline_detail",
        "queries": timings,
        "repeats": repeats,
        "calibration": calibration,
        "sf": sf,
    }
    # The driver captures only the LAST ~2000 stdout chars; the r5 full
    # emission (queries + repeats + calibration in one line) overflowed
    # that window and BENCH_r05.json recorded parsed:null.  So: the
    # full per-query detail goes on a PRECEDING line and is mirrored to
    # tools/evidence/, and the FINAL line is a compact summary (~300 B)
    # that always fits: headline_total, query count, the 5 slowest
    # queries, and the pure-CPU calibration best (host-noise marker).
    evidence_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tools", "evidence"
    )
    try:
        os.makedirs(evidence_dir, exist_ok=True)
        with open(os.path.join(evidence_dir, "bench_detail_last_run.json"), "w") as f:
            json.dump(detail, f)
    except OSError:
        pass  # read-only checkout: stdout detail line still carries it
    print(json.dumps(detail))
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "calibration_best": calibration["best"],
                "calibration_shuffle_best": calibration["shuffle_best"],
                "detail": "tools/evidence/bench_detail_last_run.json",
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
