from __future__ import annotations

from conftest import SF_ORACLE

from pyspark.sql import functions as F

from etl_addresses_spark.operators import curation
from etl_addresses_spark.sources.tables import load_table


def test_sample_stratified_rates(spark):
    kept = curation.sample_stratified(spark, SF_ORACLE)
    totals = {
        r.strat: r.n
        for r in load_table(spark, SF_ORACLE, "documents")
        .groupBy((F.substring("source", 4, 10).cast("int") % 4).alias("strat"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        r.strat: r.n
        for r in kept.groupBy("strat").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # stratum 3 keeps everything; rates otherwise ordered 0 < 1 < 2
    assert got[3] == totals[3]
    rates = {s: got.get(s, 0) / totals[s] for s in totals}
    assert rates[0] < rates[1] < rates[2] <= 1.0


def test_sample_stratified_deterministic(spark):
    a = sorted(r.doc_id for r in curation.sample_stratified(spark, SF_ORACLE).collect())
    b = sorted(r.doc_id for r in curation.sample_stratified(spark, SF_ORACLE).collect())
    assert a == b


def test_profile_columns_shape(spark):
    rows = {r.col_name: r for r in curation.profile_columns(spark, SF_ORACLE).collect()}
    n = load_table(spark, SF_ORACLE, "orders").count()
    assert set(rows) == {
        "o_orderstatus", "o_orderpriority", "o_totalprice", "o_custkey",
    }
    for r in rows.values():
        assert r.n_rows == n
        assert r.n_null == 0
        assert 0 < r.n_distinct <= n
    assert rows["o_totalprice"].min_num < rows["o_totalprice"].max_num
    assert rows["o_orderstatus"].min_str is not None
    assert rows["o_orderstatus"].min_num is None


def test_interval_overlap_join_covers_sessions(spark):
    out = curation.interval_overlap_join(spark, SF_ORACLE)
    rows = out.collect()
    assert rows
    # a 2h window can never match more sessions than exist
    from etl_addresses_spark.plans.timeseries import events_sessionize

    n_sessions = events_sessionize(spark, SF_ORACLE).count()
    assert all(0 < r.n_sessions <= n_sessions for r in rows)
    assert all(r.n_users <= r.n_sessions for r in rows)


def test_token_count_bpe_bounds(spark):
    rows = curation.token_count_bpe(spark, SF_ORACLE).collect()
    # BPE-ish pre-tokenization splits at least as finely as whitespace
    assert all(r.n_bpeish_tokens >= r.n_ws_tokens for r in rows)
    assert all(r.chars_per_token > 0 for r in rows)


def test_curate_corpus_is_deduped_subset(spark):
    out = curation.curate_corpus(spark, SF_ORACLE)
    d = load_table(spark, SF_ORACLE, "documents")
    kept = out.join(d, "doc_id")
    # no two surviving docs share identical text
    assert (
        kept.groupBy(F.md5(F.col("text").cast("binary"))).count()
        .filter("count > 1").count() == 0
    )
    # curation only removes rows, never invents them
    assert 0 < out.count() < d.count()


def test_sample_fixed_k_exact_counts(spark):
    out = curation.sample_fixed_k(spark, SF_ORACLE)
    per = {r.source: r.n for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_sources = load_table(spark, SF_ORACLE, "documents").select("source").distinct().count()
    assert len(per) == n_sources
    assert all(n == curation.SAMPLE_K for n in per.values())


def test_split_train_val_test_stable_and_proportioned(spark):
    out = curation.split_train_val_test(spark, SF_ORACLE)
    rows = {r.doc_id: r.split for r in out.collect()}
    n = len(rows)
    shares = {
        s: sum(1 for v in rows.values() if v == s) / n
        for s in ("train", "val", "test")
    }
    # hash-bucket split: 79.7 / 10.2 / 10.2 expected, loose bounds for
    # a 500-doc sample
    assert 0.70 < shares["train"] < 0.90
    assert 0.04 < shares["val"] < 0.18
    assert 0.04 < shares["test"] < 0.18
    # determinism: a second run assigns every doc identically
    rerun = {r.doc_id: r.split for r in
             curation.split_train_val_test(spark, SF_ORACLE).collect()}
    assert rerun == rows


def test_sample_weighted_k_is_deterministic_topk(spark):
    from etl_addresses_spark.operators.curation import (
        WEIGHTED_SAMPLE_K,
        sample_weighted_k,
    )

    a = sample_weighted_k(spark, SF_ORACLE).collect()
    b = sample_weighted_k(spark, SF_ORACLE).collect()
    assert a == b, "hash-derived keys must reproduce the exact sample"
    assert len(a) == WEIGHTED_SAMPLE_K
    for r in a:
        assert r.weight > 0
        assert r.sample_key <= 0  # ln(u in (0,1]) / w is never positive
    # the sample is genuinely weighted, not just the biggest docs: it
    # must differ from the top-K by weight alone
    top_by_weight = {
        row.doc_id
        for row in spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .orderBy("n_chars", ascending=False)
        .limit(WEIGHTED_SAMPLE_K)
        .collect()
    }
    assert {r.doc_id for r in a} != top_by_weight


def test_mixture_rebalance_hits_exact_quotas(spark):
    from collections import Counter

    from etl_addresses_spark.operators.curation import mixture_rebalance

    rows = mixture_rebalance(spark, SF_ORACLE).collect()
    assert rows
    kept = Counter(r.source for r in rows if r.keep)
    quota = {r.source: r.quota for r in rows}
    n_s = Counter(r.source for r in rows)
    for src, q in quota.items():
        # each source keeps exactly its quota, never more than it has
        assert kept[src] == q <= n_s[src]
    # the scarcest-per-weight source is kept whole (lambda tight)
    assert any(kept[s] == n_s[s] for s in quota)
    # deterministic: a second run keeps the identical doc set
    again = {r.doc_id for r in mixture_rebalance(spark, SF_ORACLE).collect() if r.keep}
    assert again == {r.doc_id for r in rows if r.keep}


def test_interval_overlap_tiers_agree(spark):
    # the broadcast tier and the bucketed large-large tier must produce
    # the identical result (they share one oracle)
    a = sorted(
        map(tuple, curation.interval_overlap_bucketed(spark, SF_ORACLE).collect())
    )
    b = sorted(
        map(tuple, curation.interval_overlap_join(spark, SF_ORACLE).collect())
    )
    assert a == b
