from __future__ import annotations

from conftest import SF_ORACLE

from pyspark.sql import functions as F

from etl_addresses_spark.operators import sketches


def test_hll_error_bounds(spark):
    rows = sketches.hll_distinct_parts(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        # bounds evaluated in-query; violations also hash-mismatch
        # against the DuckDB oracle
        assert r.hll_parts_within_5pct
        assert r.hllpp_supps_within_5pct
        assert r.exact_parts > 0 and r.exact_supps > 0


def test_hll_union_mergeability(spark):
    merged = sketches.hll_mergeable_union(spark, SF_ORACLE).collect()[0]
    assert merged.hll_union_within_5pct
    assert merged.exact_global_parts > 0


def test_approx_quantiles_within_tolerance(spark):
    rows = sketches.approx_quantiles_orders(spark, SF_ORACLE).collect()
    assert rows, "expected one row per order status"
    for r in rows:
        # the rank-error contract is evaluated in-query; a violation
        # would also hash-mismatch against the DuckDB oracle
        assert r.approx_within_bounds
        assert r.p50_disc <= r.p90_disc


def test_simhash_near_pairs_find_injected_dups(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in sketches.simhash_near_pairs(spark, SF_ORACLE).collect()
    }
    assert pairs
    # exact copies (doc_id % 4 == 0 -> +20000000) must appear at hamming 0
    exact_copy_pairs = [(a, b) for (a, b), h in pairs.items() if h == 0]
    assert exact_copy_pairs
    # precision sanity: hamming never exceeds the verify threshold
    assert max(pairs.values()) <= 10


def test_stats_correlation_matches_numpy(spark):
    import numpy as np

    from etl_addresses_spark.operators.sketches import (
        _CORR_COLS,
        stats_correlation,
    )
    from etl_addresses_spark.sources.tables import load_table

    rows = {
        (r.col_x, r.col_y): r.corr
        for r in stats_correlation(spark, SF_ORACLE).collect()
    }
    assert len(rows) == 6
    pdf = (
        load_table(spark, SF_ORACLE, "lineitem")
        .select(*_CORR_COLS)
        .toPandas()
    )
    m = np.corrcoef(pdf.to_numpy().T)
    idx = {c: i for i, c in enumerate(_CORR_COLS)}
    for (a, b), v in rows.items():
        assert abs(v - m[idx[a], idx[b]]) < 1e-9, (a, b, v, m[idx[a], idx[b]])
    # a correlation is always in [-1, 1]
    assert all(-1.0 <= v <= 1.0 for v in rows.values())


def test_stats_correlation_double_agrees_and_is_order_insensitive(spark):
    """The double-path twin must (a) agree with the exact-decimal tier
    far inside its 6-digit publication precision and (b) produce the
    SAME published values under a different partitioning — the
    order-dependence it trades away must stay below the contract."""
    from etl_addresses_spark.operators.sketches import (
        stats_correlation,
        stats_correlation_double,
    )

    dec = {
        (r.col_x, r.col_y): r.corr
        for r in stats_correlation(spark, SF_ORACLE).collect()
    }
    dbl = {
        (r.col_x, r.col_y): r.corr
        for r in stats_correlation_double(spark, SF_ORACLE).collect()
    }
    assert dec.keys() == dbl.keys() and len(dbl) == 6
    for k, v in dbl.items():
        assert abs(v - dec[k]) <= 5e-7, (k, v, dec[k])

    # same computation over a deliberately different partitioning:
    # double sums associate differently, published values must not move.
    import etl_addresses_spark.sources.tables as tables

    orig = tables.load_table

    def skewed(s, sf_dir, name):
        df = orig(s, sf_dir, name)
        return df.repartition(7) if name == "lineitem" else df

    tables_load = tables.load_table
    tables.load_table = skewed
    try:
        dbl7 = {
            (r.col_x, r.col_y): r.corr
            for r in stats_correlation_double(spark, SF_ORACLE).collect()
        }
    finally:
        tables.load_table = tables_load
    assert dbl7 == dbl


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


def test_first_moment_limb_recombination_exact(spark):
    """limb_recomb over limb sums of the RAW cents (first moment) must
    equal the plain exact sum cast to double on the fixture."""
    from etl_addresses_spark.operators.sketches import (
        limb_recomb,
        limb_sum_aggs,
    )
    from etl_addresses_spark.sources.tables import load_table

    li = load_table(spark, SF_ORACLE, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    m = li.agg(
        *limb_sum_aggs(cents, "s"),
        F.sum(cents.cast("decimal(38,0)")).alias("exact"),
    )
    row = m.selectExpr(f"{limb_recomb('s')} as recombined", "exact").collect()[0]
    assert row.recombined == float(row.exact)


def test_limb_sum_envelope_bound_analytic():
    """Every limb partial is <= _LIMB_MASK per row, so int64 holds any
    limb sum to LIMB_SUM_MAX_ROWS rows — the documented envelope.  The
    bound must cover 100 TB-class lineitem (~6e11 rows) with margin,
    and be tight: one more row at max limb value must overflow."""
    from etl_addresses_spark.operators.sketches import (
        _LIMB_MASK,
        LIMB_SUM_MAX_ROWS,
    )

    assert LIMB_SUM_MAX_ROWS * _LIMB_MASK <= 2**63 - 1 + _LIMB_MASK
    assert LIMB_SUM_MAX_ROWS * _LIMB_MASK >= 2**63 - _LIMB_MASK
    assert LIMB_SUM_MAX_ROWS > 4e12  # ~7x margin over 100 TB lineitem


def test_limb_guard_raises_past_envelope(spark):
    """The assert_true guard must publish the value unchanged inside
    the envelope and RAISE (not wrap) past it."""
    import pytest

    from etl_addresses_spark.operators.sketches import (
        LIMB_SUM_MAX_ROWS,
        limb_guard,
    )

    ok = spark.createDataFrame([(100,)], "n long").selectExpr(
        limb_guard("1.5d") + " as v"
    )
    assert ok.collect()[0].v == 1.5
    bad = spark.createDataFrame(
        [(LIMB_SUM_MAX_ROWS + 1,)], "n long"
    ).selectExpr(limb_guard("1.5d") + " as v")
    with pytest.raises(Exception, match="limb sums exact only"):
        bad.collect()
