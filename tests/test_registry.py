"""The plan catalogue's rows not checked under a test id of their own
(conftest.ORACLE_ROWS_BY_TEST_FILE, and the operator and plan modules whose
test files parametrize over their QUERIES), each against its DuckDB oracle;
the registry loop's refusal of a name registered twice; and nested oracle
CTE names that stay disjoint from the names around them."""

from __future__ import annotations

import json
import re
from types import SimpleNamespace

import duckdb
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


def _shadowed_cte_names(con, sql: str) -> set[str]:
    """Names of CTEs defined inside a CTE body or subquery that reuse a
    name of an enclosing scope, read from DuckDB's own parse tree."""
    (tree,) = con.execute(
        "SELECT json_serialize_sql(?::VARCHAR)", [sql]
    ).fetchone()
    tree = json.loads(tree)
    assert not tree["error"], tree
    hits: set[str] = set()

    def walk(node, scope: frozenset, repeated: frozenset) -> None:
        if isinstance(node, list):
            for child in node:
                walk(child, scope, repeated)
            return
        if not isinstance(node, dict):
            return
        defined = frozenset(
            e["key"] for e in node.get("cte_map", {}).get("map", [])
        )
        # the serializer repeats a node's map on its `child` (the same
        # query level): those names are copies, not new definitions
        own = defined - repeated
        hits.update(own & scope)
        for key, child in node.items():
            walk(child, scope | own, defined if key == "child" else frozenset())

    walk(tree["statements"], frozenset(), frozenset())
    return hits


def test_nested_oracle_cte_names_are_disjoint():
    # DuckDB has bound a nested query's CTE reference to an enclosing
    # MATERIALIZED CTE of the same name, so composed oracles keep every
    # nested CTE name distinct from the names around it
    con = duckdb.connect()
    shadowing = (
        "WITH scored AS MATERIALIZED (SELECT 1 AS x), "
        "ev AS (WITH scored AS (SELECT 2 AS x) SELECT x FROM scored) "
        "SELECT * FROM ev, scored"
    )
    assert _shadowed_cte_names(con, shadowing) == {"scored"}
    disjoint = shadowing.replace("WITH scored AS (", "WITH inner_scored AS (")
    assert _shadowed_cte_names(con, disjoint) == set()
    # a materialization hint changes no name, and without hints each WITH
    # list is serialized once (with them, one CTE node per materialized
    # CTE repeats the whole map: 146 MB of JSON for bpe_merge_table_k64)
    hint = re.compile(r"\bAS\s+(NOT\s+)?MATERIALIZED\s*\(", re.IGNORECASE)
    shadowed = {
        name: hits
        for name, sql in registry.oracle_sql().items()
        if (hits := _shadowed_cte_names(con, hint.sub("AS (", sql)))
    }
    assert shadowed == {}
