from __future__ import annotations

from conftest import SF_ORACLE, assert_frames_match

from etl_addresses_spark.plans import flagship


def test_flagship_matches_oracle_grid(spark, ddb):
    sdf = flagship.spatiotemporal_join(spark, SF_ORACLE, strategy="grid")
    assert_frames_match(sdf, ddb.sql(flagship.ORACLE_SQL))


def test_flagship_matches_oracle_reference_knn(spark, ddb):
    sdf = flagship.spatiotemporal_join_knn(spark, SF_ORACLE)
    assert_frames_match(sdf, ddb.sql(flagship.ORACLE_SQL_KNN))


def test_reference_e2e_ndjson_roundtrip_is_identity(spark, ddb):
    """S2 NDJSON sink -> S1 declared-schema scan -> infer must equal
    the direct (no-I/O) flagship result value-for-value: the JSON
    round-trip (null-key dropping, double serialization) is an
    identity."""
    sdf = flagship.reference_e2e_ndjson(spark, SF_ORACLE)
    assert_frames_match(sdf, ddb.sql(flagship.ORACLE_SQL))


def test_knn_grid_equals_cross_join_validation_mode(spark):
    """The grid-prefiltered kNN plan must emit EXACTLY the rows of the
    O(n·m) cross-join validation mode — the completeness bound proof
    (point_neighbor_cells) made executable."""
    grid = flagship.spatiotemporal_join(spark, SF_ORACLE, "reference_knn_grid")
    ref = flagship.spatiotemporal_join(spark, SF_ORACLE, "reference_knn")
    assert grid.exceptAll(ref).count() == 0
    assert ref.exceptAll(grid).count() == 0


def test_flagship_has_matches_and_errors(spark):
    sdf = flagship.spatiotemporal_join(spark, SF_ORACLE).cache()
    try:
        total = sdf.count()
        errors = sdf.filter("error IS NOT NULL").count()
        matched = sdf.filter("streetId IS NOT NULL").count()
        assert total > 0
        assert matched > 0, "fixtures should produce matched addresses"
        assert errors > 0, "fixtures should exercise the no-match error branch"
        assert matched + errors == total
    finally:
        # a leaked cache of this exact logical plan would be silently
        # substituted into every LATER test that builds the flagship,
        # freezing its physical plan at today's conf (found the hard
        # way by the broadcast-flip plan test)
        sdf.unpersist()


def test_observed_infer_metrics(spark):
    from etl_addresses_spark.operators.spatial_join import infer_addresses_observed
    from etl_addresses_spark.sources.fixtures import house_numbers_df, streets_df

    df, obs = infer_addresses_observed(
        house_numbers_df(spark, SF_ORACLE), streets_df(spark, SF_ORACLE)
    )
    total = df.count()  # action populates the observation
    m = obs.get
    assert m["processed"] == total
    assert m["matched"] + m["unmatched"] == total
    assert m["matched"] > 0 and m["unmatched"] > 0
