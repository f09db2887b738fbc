"""The tools' measurement wiring, pinned: `tools/shuffle_triage.py`'s
per-row measurement on the session fixture, web UI off.  Its stage
counters come from Spark's live status store through
`perfbench/probe.JobWatch` (the same path `tools/stress_scale.py`
uses), so a broken import path or an empty store fails here instead
of in a scale run.  The scale ladder's replica builder and the
grid-kNN residue census run here too, at sf0.001."""

from __future__ import annotations

import os
import sys

from conftest import SF_SMALL
from pyspark.sql import functions as F

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from knn_residue import residue  # noqa: E402
from shuffle_triage import measure  # noqa: E402
from stress_scale import COPY, KEYS, build_scaled  # noqa: E402

from etl_addresses_spark.sources.tables import load_table  # noqa: E402
from perfbench.probe import JobWatch  # noqa: E402


def test_measure_reads_stage_counters_with_ui_off(spark):
    assert spark.sparkContext.uiWebUrl is None
    row = measure(spark, JobWatch(spark), "dedup_exact", SF_SMALL)
    assert row["sec"] > 0
    assert row["shuffle_write_mb"] > 0
    assert row["input_mb"] > 0


def test_build_scaled_is_a_key_disjoint_replica(spark, tmp_path):
    out = str(tmp_path / "x2")
    build_scaled(spark, SF_SMALL, out, 2)
    for t in COPY:
        assert load_table(spark, out, t).count() == load_table(spark, SF_SMALL, t).count()
    for t, keys in KEYS.items():
        src, rep = load_table(spark, SF_SMALL, t), load_table(spark, out, t)
        assert rep.count() == 2 * src.count(), t
        for k in keys:
            assert rep.select(k).distinct().count() == 2 * src.select(k).distinct().count(), k
        # replica r offsets every key by r * (max + 1), so replica 0 is
        # the rows whose first key lies in the source's range
        lo, hi = src.agg(F.min(keys[0]), F.max(keys[0])).first()
        assert lo >= 0, t
        r0 = rep.filter(F.col(keys[0]) <= hi)
        assert r0.exceptAll(src).count() == 0, t
        assert src.exceptAll(r0).count() == 0, t
    hi = load_table(spark, SF_SMALL, "documents").agg(F.max("doc_id")).first()[0]
    shared = (
        load_table(spark, out, "documents")
        .select(
            (F.col("doc_id") > hi).alias("r"),
            F.explode(F.split("text", " ")).alias("w"),
        )
        .groupBy("w")
        .agg(F.countDistinct("r").alias("n"))
        .filter("n > 1")
    )
    assert shared.count() == 0

    watch = JobWatch(spark)
    base = measure(spark, watch, "dedup_exact", SF_SMALL)
    scaled = measure(spark, watch, "dedup_exact", out)
    assert base["sec"] > 0 and scaled["sec"] > 0
    assert scaled["shuffle_write_mb"] > base["shuffle_write_mb"]


def test_knn_residue_census(spark):
    r = residue(spark, SF_SMALL)
    assert r["points"] > 0
    assert r["segments"] > 0
    assert 0 <= r["escalated_points"] <= r["points"]
