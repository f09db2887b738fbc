from __future__ import annotations

from conftest import SF_ORACLE, assert_frames_match

from pyspark.sql import functions as F

from etl_addresses_spark.plans.aggregates import (
    STATS_REGRESSION_GROUP_SQL,
    skew_salted_distinct,
    stats_regression_group,
)
from etl_addresses_spark.sources.tables import load_table


def test_salted_distinct_equals_plain(spark):
    got = {
        r.l_returnflag: r.distinct_parts
        for r in skew_salted_distinct(spark, SF_ORACLE).collect()
    }
    plain = {
        r.l_returnflag: r.d
        for r in load_table(spark, SF_ORACLE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("d"))
        .collect()
    }
    assert got == plain


def test_salted_distinct_two_stage_plan(spark):
    # the whole point: the per-group key set never converges on a
    # single reducer — sets build per (group, salt) with map-side
    # partials, and only tiny partial sizes cross the second exchange
    plan = (
        skew_salted_distinct(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_collect_set" in plan
    assert "partial_sum" in plan
    assert plan.count("+- Exchange") == 2


def test_stats_regression_matches_numpy(spark, ddb):
    import numpy as np

    out = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in stats_regression_group(spark, SF_ORACLE).collect()
    }
    data = ddb.sql(
        "SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice "
        "FROM lineitem"
    ).fetchall()
    groups: dict[tuple, list] = {}
    for rf, ls, x, y in data:
        groups.setdefault((rf, ls), []).append((x, y))
    assert set(out) == set(groups)
    for key, pts in groups.items():
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        slope, intercept = np.polyfit(x, y, 1)
        assert out[key]["n"] == len(pts)
        assert abs(out[key]["slope"] - slope) < 1e-5
        assert abs(out[key]["intercept"] - intercept) < 1e-3
    assert_frames_match(
        stats_regression_group(spark, SF_ORACLE),
        ddb.sql(STATS_REGRESSION_GROUP_SQL),
    )


def test_stats_first_moments_are_limb_split(spark):
    """Plan pin: stats_correlation / stats_regression_group aggregate
    ONLY limb partials (plus the count).  The limb split of the first
    moments raises the partial_sum count (corr 35 -> 38 measure sums,
    regression 8 -> 10); a regression to plain first-moment long sums
    drops below these floors."""
    from etl_addresses_spark.operators.sketches import stats_correlation
    from etl_addresses_spark.plans.aggregates import stats_regression_group

    for fn, n_measure_sums in (
        (stats_correlation, 38),
        (stats_regression_group, 10),
    ):
        df = fn(spark, SF_ORACLE)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert plan.count("partial_sum") >= n_measure_sums, (
            fn.__name__,
            plan.count("partial_sum"),
        )
