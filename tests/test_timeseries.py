from __future__ import annotations

from collections import Counter

from conftest import SF_ORACLE, assert_frames_match

from etl_addresses_spark.plans.timeseries import (
    PATH_MAX_STEPS,
    PATH_TOPK,
    SESSIONS_PATH_TOPK_SQL,
    sessions_path_topk,
)


def test_sessions_path_topk_matches_python_recompute(spark, ddb):
    rows = ddb.sql(
        "SELECT user_id, event_id, epoch_us(ts), event_type "
        "FROM events ORDER BY user_id, 3, event_id"
    ).fetchall()
    sessions: list[list[str]] = []
    prev_user, prev_us = None, None
    for user, _eid, us, etype in rows:
        if user != prev_user or us - prev_us > 1_800_000_000:
            sessions.append([])
        if len(sessions[-1]) < PATH_MAX_STEPS:
            sessions[-1].append(etype)
        prev_user, prev_us = user, us
    counts = Counter("->".join(s) for s in sessions)
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:PATH_TOPK]
    got = [
        (r["path"], r["n_sessions"])
        for r in sessions_path_topk(spark, SF_ORACLE).collect()
    ]
    assert got == expect
    assert_frames_match(
        sessions_path_topk(spark, SF_ORACLE), ddb.sql(SESSIONS_PATH_TOPK_SQL)
    )


def test_cohort_retention_day_zero_is_total(spark):
    from etl_addresses_spark.plans.timeseries import cohort_retention

    rows = cohort_retention(spark, SF_ORACLE).collect()
    assert rows
    day0 = [r for r in rows if r.age_days == 0]
    # every user is active on their first day, so age-0 retention == 1
    assert day0 and all(r.retention == 1.0 and r.n_active == r.cohort_size for r in day0)
    assert all(0.0 < r.retention <= 1.0 for r in rows)
