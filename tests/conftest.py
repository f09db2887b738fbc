from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_addresses_spark.session import get_spark  # noqa: E402
from etl_addresses_spark.sources.tables import TABLES  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("etl_addresses_spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()


def assert_frames_match(spark_df, duck_rel, sort_cols=None):
    """Order-insensitive comparison mirroring the driver's check:
    same row count, same column names, same values."""
    import math

    sdf = spark_df.toPandas()
    ddf = duck_rel.df()
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"columns differ: {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    )
    cols = sorted(sdf.columns)
    sdf = sdf[cols]
    ddf = ddf[cols]
    assert len(sdf) == len(ddf), f"row counts differ: {len(sdf)} vs {len(ddf)}"

    import numpy as np
    import pandas as pd

    def norm(v):
        if v is None:
            return None
        try:
            if pd.isna(v):
                return None
        except (TypeError, ValueError):
            pass
        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, (float, np.floating)):
            f = round(float(v), 9)
            if math.isnan(f):
                return None
            return int(f) if f.is_integer() else f
        return v

    srows = sorted(
        [tuple(norm(v) for v in row) for row in sdf.itertuples(index=False)],
        key=repr,
    )
    drows = sorted(
        [tuple(norm(v) for v in row) for row in ddf.itertuples(index=False)],
        key=repr,
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b
    ]
    assert not mismatches, f"first mismatching rows: {mismatches[:5]}"


def assert_oracle(name, spark, ddb):
    """One catalogue row's Spark plan against its DuckDB oracle."""
    from etl_addresses_spark.registry import REGISTRY

    entry = REGISTRY[name]
    assert_frames_match(entry.query(spark, SF_ORACLE), ddb.sql(entry.oracle))


# Plan-catalogue rows whose oracle check keeps the test id it had before
# the plan modules were regrouped by domain (test_relational.py,
# test_relational4.py, test_relational5.py); test_registry checks the rest.
ORACLE_ROWS_BY_TEST_FILE = {
    "test_relational": (
        "agg_distinct_counts", "agg_pivot_case", "agg_pricing_summary",
        "agg_rollup", "events_sessionize", "events_window_agg",
        "join_anti_customers", "join_outer_order_counts", "join_region_volume",
        "join_semi_orders", "join_topk_order_revenue", "scalar_json_extract",
        "scalar_string_date", "set_except_buyers", "set_intersect_buyers",
        "set_union_buyers", "sort_limit_global", "window_lag_delta",
        "window_running_total", "window_topk_per_group",
    ),
    "test_relational4": (
        "q10_returned_revenue", "q14_promo_share", "q18_large_orders",
        "q19_disjunctive_revenue", "q3_shipping_priority", "q4_late_shipments",
        "q5_local_supplier_volume", "q6_forecast_revenue", "q7_nation_volume",
        "q9_profit_by_nation_year",
    ),
    "test_relational5": (
        "q11_important_parts", "q12_priority_by_status", "q13_order_distribution",
        "q15_top_supplier", "q16_supplier_variety", "q17_small_quantity_revenue",
        "q21_sole_late_supplier", "q22_idle_customers", "q2_min_cost_part",
        "q8_market_share",
    ),
}
