from __future__ import annotations

import pytest
from conftest import SF_ORACLE, assert_frames_match, assert_oracle

from etl_addresses_spark.operators import dedup, similarity
from etl_addresses_spark.plans import extensions


@pytest.mark.parametrize("name", sorted(extensions.QUERIES))
def test_extension_oracle(name, spark, ddb):
    assert_oracle(name, spark, ddb)


def test_dedup_exact_finds_injected_copies(spark):
    out = dedup.dedup_exact(spark, SF_ORACLE)
    # every doc_id % 4 == 0 got an exact copy -> groups of size 2
    assert out.filter("n_copies >= 2").count() > 0
    # representatives are always the original (small) ids
    assert out.filter("n_copies >= 2 AND rep_doc_id >= 10000000").count() == 0


def test_minhash_lsh_subset_and_recall(spark):
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, SF_ORACLE).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(spark, SF_ORACLE).collect()
    }
    assert lsh <= exact, "verified LSH pairs must be a subset of exact pairs"
    assert exact, "fixtures should contain near-dup pairs"
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_simhash_properties(spark):
    fp = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(spark, SF_ORACLE).collect()}

    def hamming(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    exact_pairs = [(d, d + 20000000) for d in fp if d < 10000000 and d % 4 == 0]
    assert exact_pairs
    for a, b in exact_pairs:
        assert fp[a] == fp[b], "identical text must give identical simhash"
    near_pairs = [
        (d, d + 10000000)
        for d in fp
        if d < 10000000 and d % 3 == 0 and d + 10000000 in fp
    ]
    assert near_pairs
    avg_near = sum(hamming(fp[a], fp[b]) for a, b in near_pairs) / len(near_pairs)
    assert avg_near <= 16, f"near-dups should have small hamming distance: {avg_near}"


def test_ivf_recall_vs_exact(spark):
    exact = {
        (r.query_id, r.cand_id)
        for r in similarity.cosine_topk(spark, SF_ORACLE).collect()
    }
    approx = {
        (r.query_id, r.cand_id)
        for r in similarity.ann_ivf_topk(spark, SF_ORACLE).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    # nprobe=2 of ~5 centroid lists on random vectors: modest recall is
    # expected; the point is the candidate set is a fraction of the corpus.
    assert recall >= 0.3, f"IVF recall suspiciously low: {recall}"


def test_fast_topk_close_to_exact(spark):
    exact = {
        (r.query_id, r.rank): r.cand_id
        for r in similarity.cosine_topk(spark, SF_ORACLE).collect()
    }
    fast = {
        (r.query_id, r.rank): r.cand_id
        for r in similarity.cosine_topk_fast(spark, SF_ORACLE).collect()
    }
    agree = sum(1 for k, v in exact.items() if fast.get(k) == v)
    assert agree / len(exact) >= 0.95


def test_quantized_topk_recall_vs_exact(spark):
    exact = {
        (r.query_id, r.cand_id)
        for r in similarity.cosine_topk(spark, SF_ORACLE).collect()
    }
    quant = {
        (r.query_id, r.cand_id)
        for r in similarity.quantized_topk(spark, SF_ORACLE).collect()
    }
    recall = len(exact & quant) / len(exact)
    # int8 quantization should barely perturb the ranking
    assert recall >= 0.9, f"quantized recall too low: {recall}"


def test_dedup_clusters_convergence_guard(spark):
    # a duplicate chain longer than the round bound must raise, not
    # silently truncate (doc_i = 20-word sliding window over one long
    # word sequence -> adjacent docs share most shingles)
    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_addresses_spark.operators.dedup import dedup_clusters_for

    words = [f"w{i}" for i in range(40)]
    docs = [
        (i, " ".join(words[i : i + 20]))
        for i in range(8)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    # sanity: with enough rounds the chain converges to one cluster
    ok = dedup_clusters_for(corpus, max_rounds=50)
    assert ok.select("cluster_id").distinct().count() == 1
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters_for(corpus, max_rounds=2).count()


def test_dedup_substring_blocks_oracle(spark, ddb):
    assert_frames_match(
        dedup.dedup_substring_blocks(spark, SF_ORACLE),
        ddb.sql(dedup.DEDUP_SUBSTRING_SQL),
    )


def test_dedup_substring_blocks_semantics(spark):
    rows = {r.doc_id: r for r in dedup.dedup_substring_blocks(spark, SF_ORACLE).collect()}
    texts = {
        r.doc_id: r.text for r in dedup.corpus_df(spark, SF_ORACLE).collect()
    }
    exact = [d for d in rows if d >= 20000000]
    near = [d for d in rows if 10000000 <= d < 20000000]
    orig = [d for d in rows if d < 10000000]
    assert exact and near and orig
    # exact copies: every block already appeared in the original -> all dropped
    for d in exact:
        assert rows[d].n_kept == 0
        assert rows[d].text_dedup == ""
    # near-dups: the suffix-bearing tail block is novel, the body is not
    for d in near:
        assert 1 <= rows[d].n_kept < rows[d].n_blocks
    # originals win first-occurrence nearly always (cross-doc block
    # collisions are possible in the synthetic vocab, but rare)
    full_kept = [d for d in orig if rows[d].n_kept == rows[d].n_blocks]
    assert len(full_kept) > 0.8 * len(orig)
    kept_blocks = sum(rows[d].n_kept for d in orig)
    all_blocks = sum(rows[d].n_blocks for d in orig)
    assert kept_blocks > 0.9 * all_blocks
    # reassembly is the identity on fully-kept docs
    for d in full_kept[:50]:
        assert rows[d].text_dedup == texts[d]


def test_srp_lsh_pairs_verified_and_band_local(spark):
    from etl_addresses_spark.operators import similarity

    pairs = similarity.embedding_srp_lsh_pairs(spark, SF_ORACLE).collect()
    assert pairs, "LSH should surface candidate near-dups"
    for r in pairs:
        # precision is exact: every emitted pair passed verification
        assert r.cosine >= similarity.NEAR_DUP_THRESHOLD
        assert r.vec_a < r.vec_b
    # no duplicate pairs across bands
    keys = [(r.vec_a, r.vec_b) for r in pairs]
    assert len(keys) == len(set(keys))


def test_srp_auto_band_rule():
    """The corpus-size banding rule (r9 verdict item 5): every
    registered fixture stays in the historical 4-bit regime (hashes
    unchanged), larger corpora widen monotonically, and the selected
    width always bounds expected random candidates at the budget."""
    from etl_addresses_spark.operators.similarity import (
        SRP_AUTO_BUDGET_PER_VEC,
        SRP_BITS,
        srp_band_bits_for,
    )

    # fixture counts: sf0.001 = 200, sf0.01 = 2k, sf0.1 = 20k vectors
    assert [srp_band_bits_for(n) for n in (200, 2_000, 20_000)] == [4, 4, 4]
    assert srp_band_bits_for(200_000) == 8  # the 10x replica
    assert srp_band_bits_for(2_000_000) == 16
    prev = 0
    for n in (1, 100, 10_000, 10**5, 10**6, 10**7, 10**8):
        bits = srp_band_bits_for(n)
        assert bits >= prev, "band width must widen monotonically"
        assert SRP_BITS % bits == 0
        if bits < SRP_BITS:  # within-budget widths really bound the mass
            bands = SRP_BITS // bits
            assert bands * n * n / (2**bits) / 2 <= SRP_AUTO_BUDGET_PER_VEC * n
        prev = bits


def test_srp_wider_bands_emit_subset(spark):
    """Band-alignment containment: an aligned 2w-bit band equality
    implies both w-bit halves match, so pairs(16) ⊆ pairs(8) ⊆
    pairs(4) on the same corpus — the recall/selectivity knob moves in
    one direction only."""
    from etl_addresses_spark.operators.similarity import (
        embedding_srp_lsh_pairs_for,
    )
    from etl_addresses_spark.sources.tables import load_table

    e = load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", "embedding"
    )
    out = {
        bits: {
            (r.vec_a, r.vec_b)
            for r in embedding_srp_lsh_pairs_for(e, bits).collect()
        }
        for bits in (4, 8, 16)
    }
    assert out[16] <= out[8] <= out[4]
    assert out[4], "4-bit fixture regime must surface pairs"


def test_dedup_keep_best_partitions_corpus(spark):
    from etl_addresses_spark.operators import dedup

    out = dedup.dedup_keep_best(spark, SF_ORACLE).collect()
    corpus_n = dedup.corpus_df(spark, SF_ORACLE).count()
    # clusters partition the corpus: membership counts add up exactly
    assert sum(r.n_members for r in out) == corpus_n
    # every multi-member cluster keeps exactly one rep; exact copies
    # (doc_id % 4 == 0 -> +20000000) must never win over the original
    multi = [r for r in out if r.n_members > 1]
    assert multi
    for r in multi:
        assert r.rep_doc_id < 20000000


def test_pq_recall_vs_exact(spark):
    exact = {
        (r.query_id, r.cand_id)
        for r in similarity.cosine_topk(spark, SF_ORACLE).collect()
    }
    approx = {
        (r.query_id, r.cand_id)
        for r in similarity.ann_pq_topk(spark, SF_ORACLE).collect()
    }
    assert exact
    recall = len(exact & approx) / len(exact)
    # Isotropic random gaussians are PQ's WORST case (no low-dim
    # structure for the codebook to exploit), so absolute recall is
    # modest by design here — the bar is the chance level: 10 random
    # picks of ~499 overlap the exact top-10 by ~2%, and the measured
    # ~29% is ~15x above it.  Real embedding corpora with low intrinsic
    # dimension sit far higher; the oracle test pins exactness of the
    # pipeline itself.
    assert recall >= 0.15, f"PQ recall at/below chance: {recall}"


def test_contrastive_hard_negatives_oracle(spark, ddb):
    assert_frames_match(
        similarity.contrastive_hard_negatives(spark, SF_ORACLE),
        ddb.sql(similarity.CONTRASTIVE_HARD_NEG_SQL),
    )


def test_contrastive_hard_negatives_semantics(spark):
    """Positives share the anchor's label; negatives never do; every
    negative's cosine is <= the best different-label cosine ordering
    (ranks are contiguous from 1)."""
    from pyspark.sql import functions as F

    from etl_addresses_spark.operators.similarity import (
        HARD_NEG_K,
        contrastive_hard_negatives,
    )
    from etl_addresses_spark.sources.tables import load_table

    rows = contrastive_hard_negatives(spark, SF_ORACLE).collect()
    assert rows
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, SF_ORACLE, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, group in by_q.items():
        pos = [r for r in group if r.role == "positive"]
        neg = sorted(
            (r for r in group if r.role == "negative"), key=lambda r: r.rank
        )
        assert len(pos) == 1 and pos[0].rank == 1
        assert labels[pos[0].cand_id] == labels[qid]
        assert 1 <= len(neg) <= HARD_NEG_K
        assert [r.rank for r in neg] == list(range(1, len(neg) + 1))
        for r in neg:
            assert labels[r.cand_id] != labels[qid]
        # negatives are ordered hardest-first
        cosines = [r.cosine for r in neg]
        assert cosines == sorted(cosines, reverse=True)


def test_delimited_roundtrip_csv_oracle(spark, ddb):
    from etl_addresses_spark.sources import delimited

    assert_frames_match(
        delimited.delimited_roundtrip_csv(spark, SF_ORACLE),
        ddb.sql(delimited.DELIMITED_ROUNDTRIP_SQL),
    )


def test_csv_quoting_roundtrips_hostile_values(spark, tmp_path):
    """The declared CSV contract must survive embedded delimiters,
    quotes, and newlines — values the fixture corpus happens not to
    contain."""
    from etl_addresses_spark.sources import delimited

    hostile = [
        (1, 'comma, inside', "en", "web", 13),
        (2, 'quote " inside', "en", "web", 14),
        (3, "newline\ninside", "de", "book", 15),
        (4, None, None, "web", 0),
    ]
    df = spark.createDataFrame(hostile, delimited.DOCUMENTS_CSV_SCHEMA)
    path = str(tmp_path / "docs_csv")
    delimited.write_csv(df, path)
    back = delimited.read_csv(spark, path, delimited.DOCUMENTS_CSV_SCHEMA)
    assert sorted(map(tuple, back.collect())) == sorted(hostile)
