"""The tools' measurement wiring, pinned: `tools/shuffle_triage.py`'s
per-row measurement on the session fixture, web UI off.  Its stage
counters come from Spark's live status store through
`perfbench/probe.JobWatch` (the same path `tools/stress_scale.py`
uses), so a broken import path or an empty store fails here instead
of in a scale run."""

from __future__ import annotations

import os
import sys

from conftest import SF_SMALL

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from shuffle_triage import measure  # noqa: E402

from perfbench.probe import JobWatch  # noqa: E402


def test_measure_reads_stage_counters_with_ui_off(spark):
    assert spark.sparkContext.uiWebUrl is None
    row = measure(spark, JobWatch(spark), "dedup_exact", SF_SMALL)
    assert row["sec"] > 0
    assert row["shuffle_write_mb"] > 0
    assert row["input_mb"] > 0
