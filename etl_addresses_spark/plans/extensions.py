"""Registry glue for the training-data-pipeline extension operators."""

from __future__ import annotations

from etl_addresses_spark.operators import (
    curation,
    dedup,
    multimodal,
    similarity,
    sketches,
    textops,
)

# name -> (query fn, oracle SQL or None for rows-only checks)
QUERIES = {
    "dedup_exact": (dedup.dedup_exact, dedup.DEDUP_EXACT_SQL),
    "ngram_jaccard_pairs": (dedup.ngram_jaccard_pairs, dedup.NGRAM_JACCARD_SQL),
    # MinHash/SimHash run on the portable phash60 (md5-prefix bigint both
    # engines compute identically) — fully oracle-checked since round 3.
    "minhash_lsh_pairs": (dedup.minhash_lsh_pairs, dedup.MINHASH_LSH_SQL),
    "simhash_fingerprints": (dedup.simhash_fingerprints, dedup.SIMHASH_FP_SQL),
    "text_stats": (textops.text_stats, textops.TEXT_STATS_SQL),
    "text_quality": (textops.text_quality, textops.TEXT_QUALITY_SQL),
    "text_langid": (textops.text_langid, textops.TEXT_LANGID_SQL),
    "text_fingerprint": (textops.text_fingerprint, textops.TEXT_FINGERPRINT_SQL),
    "text_tfidf_top_terms": (textops.text_tfidf_top_terms, textops.TEXT_TFIDF_SQL),
    "cosine_topk": (similarity.cosine_topk, similarity.COSINE_TOPK_SQL),
    # The fast variant computes the identical result (same fold, same
    # tie-break), so it shares the brute-force oracle verbatim.
    "cosine_topk_fast": (similarity.cosine_topk_fast, similarity.COSINE_TOPK_SQL),
    "embedding_near_dup": (
        similarity.embedding_near_dup,
        similarity.EMBEDDING_NEAR_DUP_SQL,
    ),
    # Deterministic pseudo-centroid IVF: approximate index, exact oracle.
    "ann_ivf_topk": (similarity.ann_ivf_topk, similarity.ANN_IVF_TOPK_SQL),
    "multimodal_meta": (multimodal.multimodal_meta, multimodal.MULTIMODAL_META_SQL),
    "multimodal_decode": (
        multimodal.multimodal_decode,
        multimodal.MULTIMODAL_DECODE_SQL,
    ),
    # Full pixel decode + 2x resize (zlib IDAT, filter strip, channel
    # means) — the feature-extract stage, oracle-closed-form.
    "multimodal_image_dedup": (
        multimodal.multimodal_image_dedup,
        multimodal.MULTIMODAL_IMAGE_DEDUP_SQL,
    ),
    "multimodal_pixel_stats": (
        multimodal.multimodal_pixel_stats,
        multimodal.MULTIMODAL_PIXEL_STATS_SQL,
    ),
    # Audio feature extraction (RIFF/PCM16 parse) and video frame
    # sampling (PNG-frame boundary walk, 1->N expansion) — the
    # remaining multimodal stages, same sanctioned Arrow path.
    "multimodal_audio_features": (
        multimodal.multimodal_audio_features,
        multimodal.MULTIMODAL_AUDIO_SQL,
    ),
    "multimodal_frame_sample": (
        multimodal.multimodal_frame_sample,
        multimodal.MULTIMODAL_FRAME_SAMPLE_SQL,
    ),
    "ann_quantized_topk": (similarity.quantized_topk, similarity.QUANTIZED_TOPK_SQL),
    # round 5: per-query recall@k of the IVF index vs the exact top-k,
    # published as a queryable row set (evaluation-as-data).
    "ann_recall_eval": (similarity.ann_recall_eval, similarity.ANN_RECALL_EVAL_SQL),
    "docs_with_embeddings": (
        similarity.docs_with_embeddings,
        similarity.DOCS_WITH_EMBEDDINGS_SQL,
    ),
    "dedup_clusters": (dedup.dedup_clusters, dedup.DEDUP_CLUSTERS_SQL),
    # HLL estimates are engine-specific, but their ERROR CONTRACT is
    # not: exact counts + in-query bound booleans make both
    # oracle-checkable (the oracle expects TRUE).
    "hll_distinct_parts": (sketches.hll_distinct_parts, sketches.HLL_DISTINCT_SQL),
    "hll_mergeable_union": (sketches.hll_mergeable_union, sketches.HLL_UNION_SQL),
    "stats_correlation": (
        sketches.stats_correlation,
        sketches.STATS_CORRELATION_SQL,
    ),
    # round 5: the documented double-path escape hatch (SCALE.md) as
    # its own hash-checked row — 6-digit publication precision, ~40x
    # cheaper than the bit-reproducible decimal tier.
    "stats_correlation_double": (
        sketches.stats_correlation_double,
        sketches.STATS_CORRELATION_DOUBLE_SQL,
    ),
    # Exact disc percentiles + in-query approx bound check: oracle-able.
    "approx_quantiles_orders": (
        sketches.approx_quantiles_orders,
        sketches.APPROX_QUANTILES_SQL,
    ),
    "simhash_near_pairs": (
        sketches.simhash_near_pairs,
        sketches._simhash_near_pairs_sql(),
    ),
    # Corpus curation: deterministic sampling, profiling, interval
    # joins, token budgeting, and the composed curation pass.
    "sample_stratified": (
        curation.sample_stratified,
        curation.SAMPLE_STRATIFIED_SQL,
    ),
    "sample_fixed_k": (curation.sample_fixed_k, curation.SAMPLE_FIXED_K_SQL),
    # round 5: deterministic epoch-seeded global training order with a
    # bucketed-keyspace position assignment (no single-partition sort).
    "train_order_shuffle": (
        curation.train_order_shuffle,
        curation.TRAIN_ORDER_SHUFFLE_SQL,
    ),
    "profile_columns": (curation.profile_columns, curation.PROFILE_COLUMNS_SQL),
    "interval_overlap_join": (
        curation.interval_overlap_join,
        curation.INTERVAL_OVERLAP_SQL,
    ),
    "token_count_bpe": (curation.token_count_bpe, curation.TOKEN_COUNT_BPE_SQL),
    "curate_corpus": (curation.curate_corpus, curation.CURATE_CORPUS_SQL),
    # Cosine LSH over embeddings (banded sign-random-projection) and the
    # deterministic corpus split — both pure column expressions.
    "embedding_srp_lsh_pairs": (
        similarity.embedding_srp_lsh_pairs,
        similarity.embedding_srp_lsh_sql(),
    ),
    "split_train_val_test": (
        curation.split_train_val_test,
        curation.SPLIT_TVT_SQL,
    ),
    "sample_weighted_k": (
        curation.sample_weighted_k,
        curation.SAMPLE_WEIGHTED_K_SQL,
    ),
    "mixture_rebalance": (
        curation.mixture_rebalance,
        curation.MIXTURE_REBALANCE_SQL,
    ),
    "pipeline_curate_stats": (
        curation.pipeline_curate_stats,
        curation.PIPELINE_CURATE_SQL,
    ),
    # same oracle as interval_overlap_join: broadcast tier vs bucketed
    # large-large tier, one answer
    "interval_overlap_bucketed": (
        curation.interval_overlap_bucketed,
        curation.INTERVAL_OVERLAP_SQL,
    ),
    # Curation finisher: one representative per duplicate cluster.
    "dedup_keep_best": (dedup.dedup_keep_best, dedup.DEDUP_KEEP_BEST_SQL),
    # PQ/ADC: the memory-compression ANN tier (8-byte codes, per-query
    # LUT scan) — deterministic codebook + sequential folds keep even
    # this doubly-approximate index fully oracle-checked.
    "ann_pq_topk": (similarity.ann_pq_topk, similarity.ANN_PQ_TOPK_SQL),
}
