"""Shuffle-weighted triage of never-laddered registry rows (r12
verdict item 4).

The coverage ledger can say WHICH rows have no scale-ladder evidence
but not which of them carry enough shuffle to be worth laddering —
and the r10 tail-ladder found real superlinear defects hiding in
exactly such rows.  This tool runs every never-laddered row ONCE at
sf0.1, captures its Spark counters from the live status store
(perfbench/probe.JobWatch: shuffle read/write and input MB, tasks,
executor time; wall too), and emits a ranking by total shuffle MB.
Shuffle BYTES are deterministic plan properties (unlike wall time),
so the ranking is host-noise-free; wall is recorded for context only.

Usage:
    python tools/shuffle_triage.py               # all never-laddered rows
    ONLY=a,b,c python tools/shuffle_triage.py    # subset
Writes tools/evidence/r13_shuffle_triage.json (override with OUT).
"""

from __future__ import annotations

import json
import os
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))
sys.path.insert(0, TOOLS)

from bench import hygiene, timed_noop  # noqa: E402
from coverage_ledger import load_ladder_evidence  # noqa: E402
from perfbench.probe import JobWatch  # noqa: E402

from etl_addresses_spark.registry import REGISTRY  # noqa: E402
from etl_addresses_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def measure(spark, watch: JobWatch, name: str, sf_dir: str) -> dict:
    """One noop-sink run of registry row ``name``: wall seconds plus the
    Spark counters (JobWatch.counters) of the jobs the run started."""
    watch.new_jobs()
    sec = timed_noop(lambda: REGISTRY[name].query(spark, sf_dir))
    return {"sec": sec, **watch.counters()}


def main() -> None:
    ladder = load_ladder_evidence()
    if os.environ.get("ONLY"):
        names = [n.strip() for n in os.environ["ONLY"].split(",")]
    else:
        names = [n for n in REGISTRY if n not in ladder]
    spark = get_spark("shuffle-triage")
    spark.sparkContext.setLogLevel("ERROR")
    watch = JobWatch(spark)
    rows: dict[str, dict] = {}
    for name in names:
        hygiene(spark)
        try:
            rows[name] = {**measure(spark, watch, name, SF_DIR), "err": None}
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            err = f"{type(exc).__name__}: {exc}"[:200]
            rows[name] = {"sec": None, **watch.counters(), "err": err}
        r = rows[name]
        print(
            f"{name}: {r['sec']}s shuffle_w={r['shuffle_write_mb']:.3f}MB"
            f" shuffle_r={r['shuffle_read_mb']:.3f}MB",
            file=sys.stderr,
        )
    ranked = sorted(
        rows.items(),
        key=lambda kv: kv[1]["shuffle_read_mb"] + kv[1]["shuffle_write_mb"],
        reverse=True,
    )
    out = {
        "sf_dir": SF_DIR,
        "n_triaged": len(rows),
        "ranking": [
            {
                "name": n,
                **r,
                "shuffle_total_mb": r["shuffle_read_mb"] + r["shuffle_write_mb"],
            }
            for n, r in ranked
        ],
    }
    path = os.environ.get(
        "OUT", os.path.join(TOOLS, "evidence", "r13_shuffle_triage.json")
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"top10": [n for n, _ in ranked[:10]]}))


if __name__ == "__main__":
    main()
