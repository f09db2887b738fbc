from __future__ import annotations

import pytest
from conftest import SF_ORACLE, assert_oracle

from etl_addresses_spark.operators import bpe, llmtext
from etl_addresses_spark.operators.llmtext import (
    bm25_topk,
    decontaminate_ngram,
    pack_sequences,
    quality_gopher_flags,
)


@pytest.mark.parametrize("name", sorted([*llmtext.QUERIES, *bpe.QUERIES]))
def test_llmtext_oracle(name, spark, ddb):
    assert_oracle(name, spark, ddb)


def test_decontaminate_excludes_eval_docs(spark):
    rows = decontaminate_ngram(spark, SF_ORACLE).collect()
    assert rows, "fixture corpus should contain contaminated docs"
    assert all(r.doc_id % 97 != 0 for r in rows)
    assert all(r.n_contaminated_shingles >= 1 for r in rows)


def test_pack_sequences_bins_are_budgeted(spark):
    # every bin except a source's last must have accumulated at least
    # one doc, and bins are consecutive from 0 per source
    rows = pack_sequences(spark, SF_ORACLE).collect()
    per_source: dict[str, list[int]] = {}
    for r in rows:
        per_source.setdefault(r.source, []).append(r.bin)
    for bins in per_source.values():
        assert sorted(bins) == list(range(len(bins)))


def test_quality_flags_consistent(spark):
    rows = quality_gopher_flags(spark, SF_ORACLE).collect()
    for r in rows:
        assert r.keep == (r.ok_nwords and r.ok_meanwl and r.has_stop and r.ok_rep)
        assert 0.0 <= r.dup_ratio <= 1.0


def test_bm25_scores_descending(spark):
    rows = bm25_topk(spark, SF_ORACLE).collect()
    assert len(rows) == 20
    scores = [r.bm25 for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_bm25_plan_is_take_ordered(spark):
    plan = (
        bm25_topk(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
