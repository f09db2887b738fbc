from __future__ import annotations

import math

import pytest
from conftest import SF_ORACLE, assert_oracle

from etl_addresses_spark.operators import lmquality
from etl_addresses_spark.operators.lmquality import (
    SEMDEDUP_THRESHOLD,
    VOCAB_K,
    lm_bigram_logprob,
    quality_classifier_score,
    semantic_dedup,
    vocab_oov_rate,
)


@pytest.mark.parametrize("name", sorted(lmquality.QUERIES))
def test_lmquality_oracle(name, spark, ddb):
    assert_oracle(name, spark, ddb)


def test_lm_bigram_scores_are_sane(spark):
    rows = lm_bigram_logprob(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        # log-probs are strictly negative (smoothed P < 1), ppl > 1
        assert r.avg_logprob < 0
        assert r.ppl > 1
        assert math.isclose(r.ppl, math.exp(-r.avg_logprob), rel_tol=1e-12)
        assert r.n_bigrams >= 1


def test_lm_bigram_repetitive_doc_scores_higher(spark, tmp_path):
    # A doc made of ONE repeated corpus-frequent bigram must out-score
    # a doc of corpus-rare transitions: its bigram counts dominate.
    import pyspark.sql.functions as F

    from etl_addresses_spark.sources.tables import load_table

    d = load_table(spark, SF_ORACLE, "documents")
    corpus = d.select("doc_id", "text").limit(200)
    rep = spark.createDataFrame(
        [(900001, " ".join(["join hash"] * 30)), (900002, "zq xv qj vx kz jx")],
        ["doc_id", "text"],
    )
    out_dir = str(tmp_path / "docs")
    corpus.unionByName(rep).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    scores = {
        r.doc_id: r.avg_logprob
        for r in lm_bigram_logprob(spark, out_dir).collect()
        if r.doc_id in (900001, 900002)
    }
    assert scores[900001] > scores[900002]


def test_classifier_score_is_logistic_of_logit(spark):
    rows = quality_classifier_score(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.score < 1.0
        assert math.isclose(r.score, 1.0 / (1.0 + math.exp(-r.logit)), rel_tol=1e-12)
        assert r.keep == (r.logit >= 0)
    # hashed weights must not collapse to one side
    keeps = [r.keep for r in rows]
    assert any(keeps) and not all(keeps)


def test_vocab_oov_rate_bounds(spark):
    rows = vocab_oov_rate(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_oov <= r.n_toks
        # output is integer-pure since round 4 (driver-parity fix):
        # doc_id / n_toks / n_oov only, no derived double
        assert isinstance(r.n_oov, int) and isinstance(r.n_toks, int)
    # K=20 of the fixture's 31 tokens: OOV must be non-trivial overall
    assert any(r.n_oov > 0 for r in rows)
    assert any(r.n_oov < r.n_toks for r in rows)


def test_semantic_dedup_keeps_min_id_representative(spark):
    rows = semantic_dedup(spark, SF_ORACLE).collect()
    assert rows
    by_id = {r.vec_id: r for r in rows}
    # every vector appears exactly once
    assert len(by_id) == len(rows)
    # a dropped vector has >= 1 smaller-id near-dup; a kept one has 0
    for r in rows:
        assert r.keep == (r.n_smaller_dups == 0)
    # the minimum vec_id of every cluster can never be dropped
    min_per_cluster: dict[int, int] = {}
    for r in rows:
        min_per_cluster[r.list_id] = min(
            min_per_cluster.get(r.list_id, r.vec_id), r.vec_id
        )
    for cl, vid in min_per_cluster.items():
        assert by_id[vid].keep, f"cluster {cl} min id {vid} was dropped"


def test_semantic_dedup_respects_threshold(spark):
    # cross-check one dropped vector: it really has a smaller-id
    # cluster member with cosine >= threshold
    import pyspark.sql.functions as F

    from etl_addresses_spark.functions.vectors import _pair_dot_seq
    from etl_addresses_spark.sources.tables import load_table

    out = semantic_dedup(spark, SF_ORACLE)
    dropped = out.filter(~F.col("keep")).limit(1).collect()
    if not dropped:
        pytest.skip("fixture produced no semantic dups at this SF")
    victim = dropped[0]
    e = load_table(spark, SF_ORACLE, "embeddings")
    member_ids = [r.vec_id for r in out.filter(F.col("list_id") == victim.list_id).collect()]
    vecs = {r.vec_id: r.embedding for r in e.filter(F.col("vec_id").isin(member_ids)).collect()}
    v = vecs[victim.vec_id]

    def cos(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(x) ** 2 for x in b))
        return dot / (na * nb)

    assert any(
        vid < victim.vec_id and cos(v, vec) >= SEMDEDUP_THRESHOLD - 1e-9
        for vid, vec in vecs.items()
        if vid != victim.vec_id
    )


def test_incremental_lsh_admission_semantics(spark):
    # exact copies and near-dups must be rejected against the index;
    # word-reversed novels must be admitted
    from etl_addresses_spark.operators.dedup import dedup_incremental_lsh

    rows = dedup_incremental_lsh(spark, SF_ORACLE).collect()
    assert rows
    by_band = {"near": [], "exact": [], "novel": []}
    for r in rows:
        if r.new_doc_id >= 30000000:
            by_band["novel"].append(r)
        elif r.new_doc_id >= 20000000:
            by_band["exact"].append(r)
        else:
            by_band["near"].append(r)
    # every exact copy matches its source with jaccard 1.0
    for r in by_band["exact"]:
        assert not r.admit
        assert r.best_match_id == r.new_doc_id - 20000000
        assert r.best_jaccard == 1.0
    # near-dups are rejected with high jaccard against their source
    rejected_near = [r for r in by_band["near"] if not r.admit]
    assert len(rejected_near) >= 0.9 * len(by_band["near"])
    for r in rejected_near:
        assert r.best_jaccard >= 0.5
    # word reversal destroys shingles: novels are admitted
    admitted_novel = [r for r in by_band["novel"] if r.admit]
    assert len(admitted_novel) >= 0.9 * len(by_band["novel"])


def test_star_cc_collapses_long_chains(spark):
    from etl_addresses_spark.operators.dedup import connected_components_star

    # a diameter-99 path would need ~99 min-label propagation rounds;
    # the star algorithm must collapse it within its O(log^2 n) budget
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], ["doc_a", "doc_b"]
    )
    rows = connected_components_star(edges).collect()
    assert len(rows) == 100
    assert all(r.label == 0 for r in rows)


def test_image_dedup_groups_exact_copies(spark):
    from etl_addresses_spark.operators.multimodal import (
        _ahash_bits,
        _png_gray8x8,
        multimodal_image_dedup,
    )

    # kernel sanity on a known digest: pixels tile the digest, bits
    # compare against the exact mean
    digest = bytes(range(16))
    bits = _ahash_bits(_png_gray8x8(digest))
    pixels = (digest * 4)[:64]
    mean = sum(pixels) / 64.0
    assert bits == "".join("1" if p > mean else "0" for p in pixels)

    rows = multimodal_image_dedup(spark, SF_ORACLE).collect()
    assert rows
    # every exact-copy injection (doc_id % 4 == 0 at +20M) must land in
    # a group of >= 2 images
    assert any(r.n_images >= 2 for r in rows)
    # hashes are 64-bit strings
    assert all(len(r.ahash) == 64 and set(r.ahash) <= {"0", "1"} for r in rows)


def test_semantic_dedup_assignment_is_aggregate_not_window(spark):
    """The r14 restructure replaced the n x k row_number window (full
    embeddings shuffled+sorted) with a narrow max(struct) aggregate and
    cached the 3-consumer assigned frame; pin both plan properties."""
    from etl_addresses_spark.operators.lmquality import semantic_dedup

    df = semantic_dedup(spark, SF_ORACLE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Window" not in plan, "assignment regressed to a window"
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan, (
        "assigned frame is no longer cached"
    )
