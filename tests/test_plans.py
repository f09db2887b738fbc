"""Physical-plan regression tests: the optimizations SCALE.md claims
must actually appear in the plans (broadcast strategies, parquet
filter/column pushdown, top-k without global sort)."""

from __future__ import annotations

from conftest import SF_SMALL

from etl_addresses_spark.plans import flagship, tpch


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _ran_plan_nodes(df) -> list[str]:
    """Node descriptions of the plan that RAN: force `df` through the
    noop sink, then read that execution's plan graph from the SQL status
    store.  AQE replans each stage once the caches below it are
    materialized, so this can differ from `_plan(df)`, which is fixed
    before any job runs."""
    spark = df.sparkSession
    df.write.format("noop").mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    last = max(ex.apply(i).executionId() for i in range(ex.size()))
    nodes = store.planGraph(last).allNodes()
    return [nodes.apply(i).desc() for i in range(nodes.size())]


def test_flagship_grid_uses_broadcast_hash_join(spark):
    df = flagship.spatiotemporal_join(spark, SF_SMALL, strategy="grid")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # the candidate join must NOT degenerate into a nested-loop product
    assert "CartesianProduct" not in plan


def _index_join(plan: str) -> str:
    """The grid strategy's one join: house numbers to the cell index."""
    return next(
        l for l in plan.splitlines() if "Join" in l and "[cell#" in l
    )


def test_flagship_grid_flips_to_shuffle_join_past_broadcast_tier(spark):
    """The cell-index join's 100 TB story is declarative: Catalyst
    broadcasts while the segment index fits the threshold and shuffles
    past it (the flip measured firing naturally at 800k streets in
    tools/evidence/r7_spatial_flip.json).  Pin the shuffle TIER here:
    with the threshold forced off, the same logical plan must come out
    as a shuffle join (never a nested-loop product) and return exactly
    the broadcast tier's rows."""
    conf = spark.conf
    prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # a cached identical logical plan from an earlier test would be
        # substituted verbatim (plan frozen at ITS planning-time conf),
        # making the threshold a no-op here — plan-shape tests must not
        # read through the SQL cache
        spark.catalog.clearCache()
        df = flagship.spatiotemporal_join(spark, SF_SMALL, strategy="grid")
        plan = _plan(df)
        index_join = _index_join(plan)
        assert "SortMergeJoin" in index_join or "ShuffledHashJoin" in index_join
        assert "CartesianProduct" not in plan
        # the index side is shuffled once, by its own aggregation: the
        # join reuses that partitioning instead of re-keying the index
        assert plan.count("Exchange hashpartitioning") == 2, plan
        shuffled = sorted(map(tuple, df.collect()), key=repr)
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    broadcast_rows = sorted(
        map(
            tuple,
            flagship.spatiotemporal_join(
                spark, SF_SMALL, strategy="grid"
            ).collect(),
        ),
        key=repr,
    )
    assert shuffled == broadcast_rows


def test_flagship_distance_not_before_bbox(spark):
    """Cheap-to-expensive order by construction: the trig (ASIN) runs
    only on the survivors of the in-row bbox + temporal `filter`, and
    never sits in a join condition or a Filter node."""
    df = flagship.spatiotemporal_join(spark, SF_SMALL, strategy="grid")
    trig = [l for l in _plan(df).splitlines() if "ASIN" in l]
    assert len(trig) == 1 and "Project [" in trig[0], trig
    line = trig[0]
    assert "array_min(filter(transform(filter(segs#" in line
    cheap = line[line.index("transform(filter(") : line.index("ASIN")]
    for conjunct in ("least(", "greatest(", "seg_since_ms", "seg_until_ms"):
        assert conjunct in cheap, conjunct


def test_flagship_grid_single_house_number_scan(spark):
    """The executed broadcast-tier plan reads the house-number source
    once and never shuffles it: the only house-number-side operators
    between the scan and the index join are narrow."""
    df = flagship.spatiotemporal_join(spark, SF_SMALL, strategy="grid")
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("customer.parquet") == 1, plan
    lines = plan.splitlines()
    at = next(i for i, l in enumerate(lines) if "BroadcastHashJoin" in l
              and "[cell#" in l)
    col = lines[at].index("+-") + 3
    streamed = []
    for l in lines[at + 1:]:
        if l[col:col + 1] != ":":
            break
        streamed.append(l)
    assert streamed and "customer.parquet" in "\n".join(streamed)
    assert not any("Exchange hashpartitioning" in l for l in streamed), plan


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    df = tpch.agg_pricing_summary(spark, SF_SMALL)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or (
        "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    )
    # column pruning: unused columns must not reach the scan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_global_topk_avoids_full_sort(spark):
    df = tpch.sort_limit_global(spark, SF_SMALL)
    assert "TakeOrderedAndProject" in _plan(df)


def test_small_dims_broadcast_in_q5(spark):
    df = tpch.join_region_volume(spark, SF_SMALL)
    assert _plan(df).count("BroadcastHashJoin") >= 2


def test_semi_and_anti_join_operators(spark):
    semi = tpch.join_semi_orders(spark, SF_SMALL)
    anti = tpch.join_anti_customers(spark, SF_SMALL)
    assert "LeftSemi" in _optimized(semi)
    assert "LeftAnti" in _optimized(anti)


def test_sample_stratified_no_shuffle(spark):
    # hash-threshold sampling must stay a map-side filter
    from etl_addresses_spark.operators import curation

    plan = _plan(curation.sample_stratified(spark, SF_SMALL))
    assert "Exchange" not in plan


def test_curate_corpus_single_shuffle(spark):
    # quality filter -> min(struct) dedup -> sample: exactly one
    # exchange (the dedup groupBy), with a map-side partial_min
    from etl_addresses_spark.operators import curation

    plan = _plan(curation.curate_corpus(spark, SF_SMALL))
    assert plan.count("+- Exchange") == 1
    assert "partial_min" in plan


def test_profile_columns_pushes_column_pruning(spark):
    # the profiler must read only the 4 profiled columns, not the table
    from etl_addresses_spark.operators import curation

    plan = _plan(curation.profile_columns(spark, SF_SMALL))
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_orderdate" not in read and "o_orderkey" not in read


def test_interval_overlap_broadcasts_windows(spark):
    from etl_addresses_spark.operators import curation

    plan = _plan(curation.interval_overlap_join(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_substring_dedup_plan_shape(spark):
    # one window shuffle on block content, no join at all — the dedup
    # must never degenerate into a pairwise self-join
    from etl_addresses_spark.operators import dedup

    plan = _plan(dedup.dedup_substring_blocks(spark, SF_SMALL))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_bloom_prune_broadcasts_filter_not_keys(spark):
    # the <=1024-row bloom table must broadcast into the probe side
    from etl_addresses_spark.operators import scalepatterns

    plan = _plan(scalepatterns.bloom_prune_join(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_zorder_extents_no_window_no_join_blowup(spark):
    # quantization bounds ride ONE broadcast 1-row frame; the layout
    # comparison must not introduce a global sort or rank
    from etl_addresses_spark.operators import scalepatterns

    plan = _plan(scalepatterns.zorder_extents(spark, SF_SMALL))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Sort [z" not in plan


def test_triangle_count_no_nested_loop(spark):
    # all three triangle joins are equi-joins (src / (b,c) keys); a
    # nested-loop or cartesian fallback would be quadratic at scale
    from etl_addresses_spark.operators import graph

    plan = _plan(graph.triangle_count(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    # the single crossJoin of two 1-row aggregates is the only BNLJ
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_srp_lsh_band_join_is_hash_join(spark):
    # candidate generation must equi-join on (band_idx, band) — an LSH
    # that degenerates into a cartesian pair scan defeats its purpose
    from etl_addresses_spark.operators import similarity

    plan = _plan(similarity.embedding_srp_lsh_pairs(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # SMJ / SHJ / BHJ on the band keys


def test_split_train_val_test_no_shuffle(spark):
    # hash-bucket split is a pure map-side projection
    from etl_addresses_spark.operators import curation

    plan = _plan(curation.split_train_val_test(spark, SF_SMALL))
    assert "Exchange" not in plan


def test_knn_grid_no_unbounded_cross_join(spark):
    # the grid-prefiltered strict-parity kNN: its only nested-loop
    # operand is the escalation residue (anti-joined point set), never
    # the full point x segment product of the validation mode
    from etl_addresses_spark.plans import flagship

    plan = _plan(
        flagship.spatiotemporal_join(spark, SF_SMALL, "reference_knn_grid")
    )
    assert "CartesianProduct" not in plan
    # the block-local candidate join on cell ids must be a hash join
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_minhash_banding_no_rehash_explosion(spark):
    # each shingle is md5-hashed exactly once (into x) BEFORE the 64x
    # seed explode; the per-seed permutation is pure arithmetic on x.
    # If any md5 call took the exploded seed as input, the hash work
    # would multiply 64x (the round-2 regression shape).
    import re

    from etl_addresses_spark.operators import dedup

    plan = _optimized(dedup.minhash_lsh_pairs(spark, SF_SMALL))
    assert "md5" in plan  # portable hashing is present...
    # ...but never takes the exploded seed as input: permutations are
    # (a_s*x + b_s) mod p arithmetic over literal coefficient arrays
    assert not re.search(r"md5\([^)]*seed", plan)
    assert "element_at" in plan


def test_minhash_seed_aggregate_needs_no_exchange(spark):
    """`_shingles` keys its exchange by doc_id alone, so the (doc_id,
    seed) MinHash aggregate runs on the cached shingle partitioning in
    place.  Read from the plan that ran: a plan fixed before the shingle
    cache is materialized (`_plan`, explain(), tools/plan_snapshot.py)
    still shows two (doc_id, seed) exchanges."""
    from etl_addresses_spark.operators import dedup

    nodes = _ran_plan_nodes(dedup.minhash_lsh_pairs(spark, SF_SMALL))
    seed_aggs = [
        d for d in nodes
        if d.startswith("HashAggregate(keys=[doc_id") and "seed" in d.split("]")[0]
    ]
    assert seed_aggs, nodes  # the aggregate ran...
    seed_exchanges = [
        d for d in nodes
        if d.startswith("Exchange hashpartitioning(") and "seed" in d
    ]
    assert seed_exchanges == []  # ...on the shingle cache's partitioning


def test_dedup_clusters_plan_is_one_round(spark):
    """The connected-components loop checkpoints every round, so the plan
    that runs reads the last round's checkpoint: a constant number of
    exchanges however many rounds ran.  A loop that builds each round on
    the previous round's lineage runs a plan that grows with the round
    count."""
    from etl_addresses_spark.operators import dedup

    nodes = _ran_plan_nodes(dedup.dedup_clusters(spark, SF_SMALL))
    exchanges = [d for d in nodes if d.startswith("Exchange")]
    assert len(exchanges) <= 2, exchanges


def test_pq_scan_is_broadcast_lut_not_cartesian(spark):
    # the ADC scan must be a broadcast of the tiny per-query LUT side
    # streamed over the codes (a BNLJ on the broadcast side is the
    # documented PQ scan shape); a CartesianProduct (both sides
    # materialized) would break at corpus scale.  Encode/LUT joins on m
    # must stay hash joins.
    from etl_addresses_spark.operators import similarity

    plan = _plan(similarity.ann_pq_topk(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_repetition_score_is_single_projection(spark):
    # pure map-side column math: any Exchange means someone added an
    # accidental shuffle to a per-row projection
    from etl_addresses_spark.operators import llmtext

    plan = _plan(llmtext.repetition_ngram_score(spark, SF_SMALL))
    assert "Exchange" not in plan


def test_quality_classifier_zero_shuffle(spark):
    # the hashed classifier is one fused projection; an Exchange means
    # someone broke the no-vocabulary-table property that makes it the
    # cheapest quality gate at corpus scale
    from etl_addresses_spark.operators import lmquality

    plan = _plan(lmquality.quality_classifier_score(spark, SF_SMALL))
    assert "Exchange" not in plan


def test_vocab_oov_topk_and_broadcast(spark):
    # top-K vocab must be per-partition heaps (TakeOrderedAndProject),
    # never a global sort; the K-row membership join must broadcast
    from etl_addresses_spark.operators import lmquality

    plan = _plan(lmquality.vocab_oov_rate(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_semantic_dedup_pairs_are_cluster_local(spark):
    # the only nested-loop product allowed is the broadcast centroid
    # assignment (corpus x k); the pair join must be an equi-join on
    # list_id so the quadratic stays inside a cluster
    from etl_addresses_spark.operators import lmquality

    plan = _plan(lmquality.semantic_dedup(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    joins = [l for l in plan.splitlines() if "Join" in l and "list_id" in l]
    assert joins, "pair join must key on list_id"


def test_lm_bigram_count_joins_not_cartesian(spark):
    # the token stream joins two vocabulary-sized count dimensions and
    # one 1-row scalar; none of them may degrade to a cartesian product
    from etl_addresses_spark.operators import lmquality

    plan = _plan(lmquality.lm_bigram_logprob(spark, SF_SMALL))
    assert "CartesianProduct" not in plan


def test_interval_overlap_bucketed_is_equi_join(spark):
    # the large-large tier must join on the bin key, never a
    # nested-loop over the raw overlap predicate
    from etl_addresses_spark.operators import curation

    plan = _plan(curation.interval_overlap_bucketed(spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_band_tier_no_cartesian_and_banded_levenshtein(spark):
    """The length-band fuzzy tier must plan as an equi-join on the
    length key (never a nested-loop product), carry the THRESHOLD
    levenshtein (banded early-abandon variant), and aggregate with a
    partial_min (map-side combine) instead of a window sort."""
    from etl_addresses_spark.operators import fuzzy
    from etl_addresses_spark.sources.tables import load_table

    df = fuzzy.fuzzy_match_blocked_for(
        load_table(spark, SF_SMALL, "supplier").select("s_suppkey", "s_name"),
        load_table(spark, SF_SMALL, "customer").select("c_custkey", "c_name"),
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # executedPlan toString truncates long projections; the threshold
    # argument (rendered as Some(6)) is asserted on the optimized plan
    opt = _optimized(df)
    assert "levenshtein" in opt and "Some(6)" in opt
    assert "partial_min" in plan


def test_fuzzy_registered_query_dispatches_to_dense_tier(spark):
    """On the fixture's UNIFORM-length names the dispatcher must pick
    the dense tier: a single BroadcastNestedLoopJoin whose condition
    carries the charset-mask prefilter (bit_count of the XOR), the
    THRESHOLD levenshtein after it, and the map-side-combinable
    partial_min — with NO shuffle of candidate pairs (the only
    exchanges are the supplier fan-out and the |S|-row agg)."""
    from etl_addresses_spark.operators import fuzzy

    df = fuzzy.fuzzy_name_match_blocked(spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_min" in plan
    opt = _optimized(df)
    assert "bit_count" in opt
    assert "levenshtein" in opt and "Some(6)" in opt


def test_fuzzy_tier_rule_regimes():
    """The dispatcher's tier rule on the three measured regimes."""
    from etl_addresses_spark.operators.fuzzy import choose_fuzzy_tier

    uniform = {18: 1000}
    # zero length spread, short segments -> dense
    assert choose_fuzzy_tier(uniform, {18: 15000}, d=6) == "dense"
    # long strings AND selective segments -> passjoin
    assert (
        choose_fuzzy_tier({24: 100}, {21: 100}, d=2, seg_collision=1e-4)
        == "passjoin"
    )
    # long strings but COLLIDING segments (the salted fixture names:
    # 21/(6+1) = 3.0 passes the length gate, yet ~90% of segment mass
    # is constant) -> dense, not passjoin
    assert (
        choose_fuzzy_tier({21: 10000}, {21: 150000}, d=6, seg_collision=1.8)
        == "dense"
    )
    # band's niche: median too short for segments, but a multi-modal
    # length distribution whose band-kept fraction the histograms put
    # under the 1/3 bar
    modal = {1: 17, 8: 17, 15: 17, 30: 25, 45: 24}
    assert choose_fuzzy_tier(modal, modal, d=6) == "band"


def test_contrastive_mining_single_window_pass(spark):
    """One window over (query_id, is_pos) ranks positives and
    negatives in the same shuffle — exactly one Window node and one
    Exchange on the scored side."""
    from etl_addresses_spark.operators import similarity

    df = similarity.contrastive_hard_negatives(spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("Window") >= 1
    # the anchor side is broadcast: no shuffle of the corpus for the join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # a single ranking pass, not one window per role
    assert plan.count("row_number") == 1


def test_q3_pushes_filters_and_takeordered(spark):
    from etl_addresses_spark.plans import tpch

    plan = _plan(tpch.q3_shipping_priority(spark, SF_SMALL))
    # top-10 must be TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan
    # the segment predicate must reach the customer parquet scan
    cust_scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "customer.parquet" in l
    )
    assert "c_mktsegment" in cust_scan


def test_q5_broadcasts_dims_no_cartesian(spark):
    from etl_addresses_spark.plans import tpch

    plan = _plan(tpch.q5_local_supplier_volume(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # nation + region


def test_passjoin_no_cartesian(spark):
    from etl_addresses_spark.operators import fuzzy
    from etl_addresses_spark.sources.tables import load_table

    # the PassJoin TIER itself (un-gated seam): content blocking must
    # be an equi-join on the segment key — no row-level product
    s = load_table(spark, SF_SMALL, "supplier").select("s_suppkey", "s_name")
    c = load_table(spark, SF_SMALL, "customer").select("c_custkey", "c_name")
    plan = _plan(fuzzy.fuzzy_match_passjoin_for(s, c))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and the argmin must partial-aggregate (map-side combine)
    assert "partial_min" in plan


def test_passjoin_row_gates_to_dense_on_uniform_fixture(spark):
    """The registered row is GATED since r8: the uniform fixture's
    segment keys collide past the cross product, so the guard must
    route to the dense packed-fold tier — whose signature is the
    bucket-packed broadcast product (a BNLJ over |C|/2048 bucket ROWS,
    deliberately) with the packed-long aggregate fold, not the
    segment equi-join that measured 185 s at sf0.1."""
    from etl_addresses_spark.operators import fuzzy

    plan = _plan(fuzzy.fuzzy_name_match_passjoin(spark, SF_SMALL))
    # dense-tier fingerprints: the bucketed broadcast product + the
    # allocation-free packed fold + map-side partial argmin
    assert "BroadcastNestedLoopJoin" in plan
    assert "aggregate(arr" in plan
    assert "partial_min" in plan


def test_grid_knn_single_exchange_fusion(spark):
    """Pin the r8 exchange fusion (spatial_join._grid_knn_local,
    measured 8.9 -> 5.3 s alone at sf0.1): the repartition on
    houseNumberId must be the ONLY shuffle between the cell candidate
    join and the per-point argmin window — it serves both the 3-key
    dropDuplicates (subset partitioning satisfies the
    ClusteredDistribution) and the window's hashpartitioning.
    Removing the seam re-introduces a second exchange (the
    dropDuplicates' own 3-key shuffle), which this count catches."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_addresses_spark.operators import spatial_join as sj
    from etl_addresses_spark.plans.flagship import (
        house_numbers_df,
        streets_df,
    )

    hn = sj._prepare_house_numbers(house_numbers_df(spark, SF_SMALL))
    segs = sj._prepare_segments(streets_df(spark, SF_SMALL))
    local = sj._grid_knn_local(hn, segs)
    boxdist2, _ = sj._knn_pair_metrics(local)
    w = W.partitionBy("houseNumberId").orderBy(boxdist2.asc())
    plan = _plan(local.withColumn("_rank", F.row_number().over(w)))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_correlation_double_stays_off_decimal_path(spark):
    from etl_addresses_spark.operators import sketches

    plan = _plan(sketches.stats_correlation_double(spark, SF_SMALL))
    # the whole point of the twin: no Decimal128 accumulation
    assert "decimal(38,12)" not in plan
    assert "partial_sum" in plan


def test_train_shuffle_no_large_single_partition(spark):
    from etl_addresses_spark.operators import curation

    df = curation.train_order_shuffle(spark, SF_SMALL)
    plan = _plan(df)
    # ranks shuffle by bucket; offsets join back via broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the only SinglePartition exchange allowed is the 256-row offsets
    # window — it must sit ABOVE a HashAggregate (bucket counts), never
    # above a FileScan of the documents table
    lines = plan.splitlines()
    for idx, l in enumerate(lines):
        if "Exchange SinglePartition" in l:
            below = "\n".join(lines[idx:idx + 6])
            assert "HashAggregate" in below, below


def test_sessions_path_topk_takeordered_no_cartesian(spark):
    from etl_addresses_spark.plans import timeseries

    plan = _plan(timeseries.sessions_path_topk(spark, SF_SMALL))
    # global top-20 must be TakeOrderedAndProject, never a full sort
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # path assembly must ride the aggregation (ObjectHashAggregate for
    # collect_list), not a per-row shuffle of exploded steps
    assert "ObjectHashAggregate" in plan


def test_stats_regression_single_scan_partial_sums(spark):
    from etl_addresses_spark.plans import aggregates

    plan = _plan(aggregates.stats_regression_group(spark, SF_SMALL))
    # one pass over lineitem, map-side-combinable moment sums
    assert plan.count("FileScan parquet") == 1
    assert "partial_sum" in plan
    # the scan must prune to exactly the 4 referenced columns
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_quantity" in scan and "l_extendedprice" in scan


def test_fuzzy_title_passjoin_no_cartesian(spark):
    from etl_addresses_spark.operators import fuzzy

    plan = _plan(fuzzy.fuzzy_title_match_passjoin(spark, SF_SMALL))
    # in-regime or not, candidate generation stays an equi-join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan


def test_gram_matrix_single_pass_partial_agg(spark):
    from etl_addresses_spark.operators import linalg

    plan = _plan(linalg.embedding_gram_matrix(spark, SF_SMALL))
    # one corpus scan; the d^2 expansion must pipeline into a partial
    # HashAggregate (never materialize N*d^2 across a shuffle)
    assert plan.count("FileScan parquet") == 1
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "embedding" in scan and "vec_id" not in scan
