"""Regenerate PLANS.md from live explain output (see PLANS.md header)."""
import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from etl_addresses_spark.session import get_spark
from etl_addresses_spark.plans import flagship, tpch

def plan(df):
    s = df._jdf.queryExecution().executedPlan().toString()
    return "\n".join(l if len(l) < 220 else l[:217] + "..." for l in s.splitlines())

def main():
    spark = get_spark("dump-plans"); spark.sparkContext.setLogLevel("ERROR")
    SF = "/root/testdata/sf0.001"
    sections = [
        ("Flagship spatio-temporal join (grid strategy)",
         plan(flagship.spatiotemporal_join(spark, SF, strategy="grid")), """
What to look for: ONE left-outer BroadcastHashJoin of the house numbers
(scanned once, never shuffled) to the cell index, an ObjectHashAggregate
collect_list of segment structs keyed on the grid `cell`; the argmin in
the projection above it, array_min(filter(transform(filter(segs,
bbox AND temporal), trig), distance < 25)) — the rounded cross-track
trig runs only on the inner filter's survivors."""),
        ("TPC-H Q1 shape (agg_pricing_summary)",
         plan(tpch.agg_pricing_summary(spark, SF)), """
What to look for: PushedFilters on l_shipdate reaching the parquet
scan; ReadSchema pruned to the 7 needed columns; two-phase
HashAggregate (partial then final) over 4 groups."""),
        ("Global top-k (sort_limit_global)",
         plan(tpch.sort_limit_global(spark, SF)), """
What to look for: TakeOrderedAndProject — per-partition heaps + driver
merge, no global sort of 100 TB."""),
    ]
    from etl_addresses_spark.operators import dedup, graph, similarity

    sections += [
        ("MinHash-LSH candidate generation (round-3 2-universal scheme)",
         plan(dedup.minhash_lsh_pairs(spark, SF)), """
What to look for: md5 applied once per shingle (never to a
seed-bearing expression); the 64x explode carries only (doc_id, x);
band minima pivot into four long columns via conditional partial_min
(map-side combine), and the candidate join is plain multi-column long
equality — no string buckets, no cartesian fallback."""),
        ("Grid-prefiltered reference-parity kNN",
         plan(flagship.spatiotemporal_join(spark, SF, "reference_knn_grid")), """
What to look for: the 5x5 neighbor-cell probe joins on the cell key
(hash join), the window pair (row_number + safe-count) rides ONE
shuffle on houseNumberId, and the only nested-loop operand is the
anti-joined escalation residue — never the full point x segment
product."""),
        ("SRP cosine LSH (embedding_srp_lsh_pairs)",
         plan(similarity.embedding_srp_lsh_pairs(spark, SF)), """
What to look for: 16 projection bits computed in one map-side
projection over literal +/-1 arrays; band explode is 4x; the
candidate self-join is an equi-join on (band_idx, band); exact-cosine
verification only touches candidate pairs."""),
        ("Degree-ordered triangle count (per-order edge build)",
         plan(graph.triangle_count(spark, SF)), """
What to look for: edges come from ONE groupBy(order) + local
higher-order pair expansion (no lineitem self-join); the degree and
adjacency probe sides carry count-gated BroadcastExchange hints
(AQE cannot size them through the cached edge build); the remaining
BroadcastNestedLoopJoin is the 1-row audit crossJoin."""),
    ]
    from etl_addresses_spark.operators import lmquality

    sections += [
        ("SemDeDup semantic dedup (semantic_dedup)",
         plan(lmquality.semantic_dedup(spark, SF)), """
What to look for: the centroid modulus is a 1-row count aggregate
broadcast into the centroid filter (r11: k ~ sqrt(n) derived in-plan,
no collect); the only nested-loop product is the broadcast centroid
assignment (corpus x ~sqrt(n) pseudo-centroids); the pairwise cosine
join is a plain equi-join on list_id, so the quadratic stays
cluster-local; the survivor flag is one left join against the
smaller-id dup counts."""),
        ("Hashed quality classifier (quality_classifier_score)",
         plan(lmquality.quality_classifier_score(spark, SF)), """
What to look for: NO Exchange anywhere — token->weight hashing, the
sequential fold, and the logistic are one fused WholeStageCodegen
projection; this is the zero-shuffle shape that makes hashed
classifiers the default corpus-scale quality gate."""),
        ("Weighted sample without replacement (sample_weighted_k)",
         plan(__import__('etl_addresses_spark.operators.curation',
                         fromlist=['curation']).sample_weighted_k(spark, SF)), """
What to look for: the A-ES key is a map-side projection (hash-derived
uniform, no rand()), and the global top-K is TakeOrderedAndProject —
per-partition heaps merged on the driver, never a full sort."""),
    ]
    from etl_addresses_spark.operators import association

    sections += [
        ("Frequent co-purchase pairs (frequent_item_pairs)",
         plan(association.frequent_item_pairs(spark, SF)), """
What to look for: the pair set comes from ONE groupBy(order) + local
higher-order expansion (the triangle_count build); support is a
two-phase HashAggregate on (part_a, part_b) with map-side partials;
the finisher is TakeOrderedAndProject — no global sort at any corpus
size."""),
        ("Chi-squared token/class association (chi2_token_assoc)",
         plan(association.chi2_token_assoc(spark, SF)), """
What to look for: document-level presence is repartition-absorbed
dropDuplicates; the 2x2 contingency is ONE aggregation per token; the
corpus totals ride a 1-row BroadcastNestedLoopJoin (the only nested
loop); chi2 itself is a fused projection and the finisher is
TakeOrderedAndProject."""),
        ("RRF over the IVF-PQ tier (rrf_hybrid_topk_ivfpq, round 12)",
         plan(__import__('etl_addresses_spark.operators.retrieval',
                         fromlist=['retrieval'])
              .rrf_hybrid_topk_ivfpq(spark, SF)), """
What to look for: the corpus-side candidate scan reaches the ADC
scoring through a BroadcastHashJoin on list_id (the IVF prune — the
plan contract tests pin it); the only BroadcastNestedLoopJoins touch
model-sized frames (query x k centroids, 2-row probes x 1-row LUT);
both signal rankings end in TakeOrderedAndProject; the fusion is a
full-outer SortMergeJoin of two <=100-row frames.  At fixture scale
the k-means assignment kernel is the interpreted fold — past the
16384-row crossover the SAME plan carries the unrolled chain
(bit-identical, sizing.use_unrolled_kernel)."""),
    ]
    from etl_addresses_spark.operators import bpe

    sections += [
        ("Segmented BPE apply (bpe_apply_batched, 96 fixed merges)",
         plan(bpe.bpe_apply_batched(spark, SF)), """
What to look for: the scan is a LogicalRDD/"Scan ExistingRDD" — the
interior localCheckpoint after the first 64-merge codegen segment
truncated the lineage, so the visible plan carries only the FINAL
<=64-merge replace projection (bounded expression depth at any vocab
size; the unsegmented chain dies in Catalyst near k=192), and the
top-k is TakeOrderedAndProject, never a global sort."""),
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("# PLANS — physical-plan evidence (sf0.001, local[32])\n\n")
        fh.write("Generated by tools/dump_plans.py; regression-pinned by tests/test_plans.py.\n")
        for title, p, commentary in sections:
            fh.write(f"\n## {title}\n{commentary}\n\n```\n{p}\n```\n")

if __name__ == "__main__":
    main()
