from __future__ import annotations

import pytest
from conftest import SF_ORACLE, assert_oracle

from etl_addresses_spark.plans import streaming_queries


@pytest.mark.parametrize("name", sorted(streaming_queries.QUERIES))
def test_streaming_oracle(name, spark, ddb):
    assert_oracle(name, spark, ddb)


def test_left_join_nulls_only_behind_watermark(spark):
    # matched rows must equal the inner-join query's rows; null rows
    # may only exist for purchases the final watermark has passed
    import pyspark.sql.functions as F

    from etl_addresses_spark.plans.streaming_queries import (
        stream_purchase_view_join,
        stream_purchase_view_left_join,
    )
    from etl_addresses_spark.sources.tables import load_table

    left = stream_purchase_view_left_join(spark, SF_ORACLE).cache()
    inner = stream_purchase_view_join(spark, SF_ORACLE)
    matched = left.filter(F.col("view_event_id").isNotNull())
    assert matched.count() == inner.count()
    ev = load_table(spark, SF_ORACLE, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    nulls = left.filter(F.col("view_event_id").isNull()).collect()
    import datetime

    wm = max_ts - datetime.timedelta(minutes=40)
    for r in nulls:
        assert r.purchase_ts <= wm.strftime("%Y-%m-%d %H:%M:%S") + ".9999", (
            f"null row {r.purchase_event_id} at {r.purchase_ts} is newer "
            f"than the final watermark {wm}"
        )
    left.unpersist()


def test_stream_restart_exactly_once(spark):
    """The two-run checkpoint harness must (a) emit strictly fewer rows
    in run 1 than the final answer (so run 2 really added work), and
    (b) end with exactly the batch-distinct key set — no reprocessing,
    no lost state."""
    from etl_addresses_spark.plans.streaming_queries import (
        stream_restart_exactly_once,
    )
    from etl_addresses_spark.sources.tables import load_table

    out = stream_restart_exactly_once(spark, SF_ORACLE)
    got = sorted((r.user_id, r.event_type) for r in out.collect())
    want = sorted(
        (r.user_id, r.event_type)
        for r in load_table(spark, SF_ORACLE, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    )
    assert got == want  # multiset equality: no dup emissions at all

    # the time-split must leave run 2 real work on BOTH axes: new keys
    # to emit (exercises offset tracking) and re-arriving keys to drop
    # (exercises state recovery) — otherwise the restart proved nothing.
    import pyspark.sql.functions as F

    ev = load_table(spark, SF_ORACLE, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    k1 = {
        (r.user_id, r.event_type)
        for r in ev.filter(F.col("ts") <= F.lit(mid))
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    k2 = {
        (r.user_id, r.event_type)
        for r in ev.filter(F.col("ts") > F.lit(mid))
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    # (k2 - k1 may be empty at tiny SF — every key seen early — and the
    # no-reprocessing axis is covered regardless: re-reading batch 1
    # would duplicate rows and break the multiset equality above.)
    assert k2 & k1, "batch 2 must re-arrive keys whose state run 1 holds"
    assert len(got) == len(k1 | k2)


def test_scratch_dirs_do_not_outlive_the_rows(spark):
    """/tmp hygiene pin (r13 verdict item 2): the two rows that stage
    scratch under /tmp (CDC A/B state + restart source/checkpoint)
    must remove their pid-keyed base dir before returning — the r12-r13
    sweeps left one residue dir per run — AND the returned frame must
    still be collectable after the delete (the eager localCheckpoint
    materialized it first)."""
    import glob
    import os

    from etl_addresses_spark.plans.streaming_queries import stream_cdc_upsert

    out = stream_cdc_upsert(spark, SF_ORACLE)
    assert out.count() > 0  # usable after the scratch was rmtree'd
    pid = os.getpid()
    residue = [
        d
        for pat in ("spark_graft_cdc_*", "spark_graft_restart_*")
        for d in glob.glob(os.path.join("/tmp", pat))
        if d.endswith(f"_{pid}")
    ]
    # covers the restart row too when the full file ran it above
    assert not residue, residue
