"""The bench-ledger tool's evidence extraction, pinned: both artifact
shapes (driver `parsed` summaries and local headline_detail emissions)
must contribute rows, later rounds must win, and the repo's committed
evidence must cover the whole registry."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from bench_ledger import _query_times, load_evidence  # noqa: E402


def test_query_times_handles_both_shapes():
    assert _query_times({"queries": {"a": 1.5, "b": 2}}) == {
        "a": 1.5,
        "b": 2.0,
    }
    assert _query_times(
        {"queries": {"a": [3.0, 1.0, 2.0]}, "repeats": {"c": [0.4, 0.2]}}
    ) == {"a": 1.0, "c": 0.2}
    assert _query_times(None) == {}
    assert _query_times({"queries": "garbage"}) == {}


def test_committed_evidence_covers_registry():
    from etl_addresses_spark.registry import REGISTRY

    history = load_evidence()
    missing = sorted(set(REGISTRY) - set(history))
    assert not missing, f"entries with no bench row anywhere: {missing}"
    # full per-round history: every recorded round is a positive int,
    # every source one of the two harness tags, every timing
    # non-negative (r9 shape: {query: {round: {source: sec}}})
    assert all(
        rnd >= 1 and src in ("driver", "local") and sec >= 0
        for rounds in history.values()
        for rnd, by_src in rounds.items()
        for src, sec in by_src.items()
    )
    # both harnesses actually contribute somewhere (source tagging is
    # load-bearing for the delta column)
    sources = {
        src
        for rounds in history.values()
        for by_src in rounds.values()
        for src in by_src
    }
    assert sources == {"driver", "local"}, sources
