"""The plan catalogue's rows not checked under a test id of their own
(conftest.ORACLE_ROWS_BY_TEST_FILE, and the operator and plan modules whose
test files parametrize over their QUERIES), each against its DuckDB oracle;
and the registry loop's refusal of a name registered twice."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from conftest import ORACLE_ROWS_BY_TEST_FILE, assert_oracle

from etl_addresses_spark import registry
from etl_addresses_spark.operators import fuzzy
from etl_addresses_spark.plans import aggregates, setops, timeseries, tpch

# checked against the oracle inside their recompute tests (test_timeseries,
# test_aggregates, test_fuzzy) or under a test id of their own
CHECKED_ELSEWHERE = {
    "sessions_path_topk",
    "stats_regression_group",
    "fuzzy_title_match_passjoin",
}.union(*ORACLE_ROWS_BY_TEST_FILE.values())
ROWS = sorted(
    name
    for module in (tpch, timeseries, setops, aggregates, fuzzy)
    for name in module.QUERIES
    if name not in CHECKED_ELSEWHERE
)


@pytest.mark.parametrize("name", ROWS)
def test_oracle(name, spark, ddb):
    assert_oracle(name, spark, ddb)


def test_catalogue_rejects_a_name_registered_twice():
    def row(spark, sf_dir):
        return None

    a = SimpleNamespace(__name__="a", QUERIES={"x": (row, "SELECT 1"), "y": (row, "")})
    b = SimpleNamespace(__name__="b", QUERIES={"y": (row, "SELECT 2")})
    assert list(registry.catalogue((a,))) == ["x", "y"]
    with pytest.raises(KeyError, match="'y' registered twice, again by b"):
        registry.catalogue((a, b))
