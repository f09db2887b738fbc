"""Focused pins for the round-14 optimization internals.

Each test pins the ASSUMPTION or plan property a restructure rests on,
so a future edit that silently invalidates it fails here instead of in
a driver sweep:

- the stats limb-sum rewrite assumes integer-cents quantization is
  exact on the fixtures and that the 3x21-bit limb recombination
  reproduces the exact integer second moments;
- semantic_dedup's nearest-centroid argmax must stay a (map-side
  combinable) aggregate, not a row_number window over n x k wide rows.
"""

from __future__ import annotations

from conftest import SF_ORACLE

from pyspark.sql import functions as F


def test_corr_cents_quantization_and_limb_recombination_exact(spark):
    """The limb-sum rewrite is exact iff (a) round(x*100) recovers
    integer cents exactly and (b) the 3-limb int64 split recombines to
    the exact integer moment.  Check both directly on the fixture."""
    from etl_addresses_spark.operators.sketches import (
        _CORR_COLS,
        limb_recomb,
        limb_sum_aggs,
    )
    from etl_addresses_spark.sources.tables import load_table

    li = load_table(spark, SF_ORACLE, "lineitem")

    # (a) quantization exactness: |x*100 - round(x*100)| far below 0.5
    errs = li.select(
        *[
            F.max(F.abs(F.col(c) * 100 - F.round(F.col(c) * 100))).alias(c)
            for c in _CORR_COLS
        ]
    ).collect()[0]
    for c in _CORR_COLS:
        assert errs[c] < 1e-6, f"{c}: cents quantization not exact ({errs[c]})"

    # (b) limb recombination == exact decimal(38,0) integer sum, for the
    # worst-magnitude product (extendedprice^2, ~2^47 per row)
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    prod = cents * cents
    m = li.agg(
        *limb_sum_aggs(prod, "q"),
        F.sum(prod.cast("decimal(38,0)")).alias("exact"),
    )
    row = m.selectExpr(f"{limb_recomb('q')} as recombined", "exact").collect()[0]
    assert row.recombined == float(row.exact)


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
