"""Per-layer metrics of a traced run.

Layers are the package's modules.  Every metric is a per-pass value,
the median over the run's traced passes; a layer a workload does not
reach reads 0 there.  What each should move (see NOTES.md):

- ``session``: setup_s.  ``process.peak_rss_mb``: the run's memory
  footprint, reported but not gated (NOTES.md).
- ``engine``, ``operators.spatial_join`` (the infer step's jobs),
  ``sources`` (NDJSON/parquet scans and sinks): addresses/pass_s.
- ``plans`` (query-function call vs its sink), ``operators.dedup``:
  near_dup/pass_s.
- ``operators.graph``, ``ckpt``: iterative/pass_s and peak RSS.
"""

from __future__ import annotations

import statistics

from probe import SPARK_COUNTERS
from workloads import ITERATIVE, NEAR_DUP

COUNTER_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
}
DEDUP_COUNTERS = ("jobs", "stages", "shuffle_write_mb", "spill_mb")
LOOP_COUNTERS = ("jobs", "tasks")


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    m = {
        "session.get_spark_s": "s",
        "process.peak_rss_mb": "MB",
        "engine.infer_s": "s",
        "engine.transform_s": "s",
        "engine.infer.jobs": "count",
        "engine.transform.jobs": "count",
        "spatial_join.executor_run_s": "s",
        "spatial_join.shuffle_write_mb": "MB",
        "spatial_join.gc_s": "s",
        "sources.input_mb": "MB",
        "sources.output_mb": "MB",
        "sources.output_records": "count",
    }
    for op in NEAR_DUP.ops:
        m[f"{op}.build_s"] = "s"
        m[f"{op}.exec_s"] = "s"
        for c in DEDUP_COUNTERS:
            m[f"{op}.{c}"] = COUNTER_UNITS[c]
    m["ngram_jaccard_pairs.join_rows"] = "count"
    m["ngram_jaccard_pairs.pair_yield"] = "ratio"
    for op in ITERATIVE.ops:
        m[f"{op}.build_s"] = "s"
        m[f"{op}.exec_s"] = "s"
        for c in LOOP_COUNTERS:
            m[f"{op}.{c}"] = COUNTER_UNITS[c]
        m[f"{op}.s_per_job"] = "s"
    m["ckpt.rdds_freed"] = "count"
    m["ckpt.storage_mb"] = "MB"
    m["ckpt.free_s"] = "s"
    for c, unit in COUNTER_UNITS.items():
        m[f"spark.{c}"] = unit
    m["warmup.first_pass_s"] = "s"
    m["trace.overhead_pct"] = "%"
    return m


def op_counters(o: dict) -> dict:
    """Call and sink counters of one op, summed."""
    return {
        c: sum(o[p][c] for p in ("call", "sink") if p in o) for c in SPARK_COUNTERS
    }


def pass_values(rec: dict) -> dict[str, float]:
    """The per-layer values of one traced pass."""
    v: dict[str, float] = {}
    ops = {op: o for op, o in rec["ops"].items() if "op_s" in o}
    total = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for op, o in ops.items():
        c = op_counters(o)
        for k in SPARK_COUNTERS:
            total[k] += c[k]
        if op.startswith("engine."):
            step = op.split(".", 1)[1]
            v[f"engine.{step}_s"] = o["build_s"]
            v[f"engine.{step}.jobs"] = c["jobs"]
            if step == "infer":
                v["spatial_join.executor_run_s"] = c["executor_run_s"]
                v["spatial_join.shuffle_write_mb"] = c["shuffle_write_mb"]
                v["spatial_join.gc_s"] = c["gc_s"]
            continue
        v[f"{op}.build_s"] = o["build_s"]
        v[f"{op}.exec_s"] = o["exec_s"]
        for k in DEDUP_COUNTERS if op in NEAR_DUP.ops else LOOP_COUNTERS:
            v[f"{op}.{k}"] = c[k]
        if op in ITERATIVE.ops:
            v[f"{op}.s_per_job"] = (o["build_s"] + o["exec_s"]) / max(c["jobs"], 1)
        if op == "ngram_jaccard_pairs":
            v[f"{op}.join_rows"] = o["join_rows"]
            v[f"{op}.pair_yield"] = c["output_records"] / max(o["join_rows"], 1)
    v["sources.input_mb"] = total["input_mb"]
    v["sources.output_mb"] = total["output_mb"]
    v["sources.output_records"] = total["output_records"]
    v["ckpt.rdds_freed"] = sum(o["rdds_freed"] for o in rec["ops"].values())
    v["ckpt.storage_mb"] = max(o["storage_mb"] for o in rec["ops"].values())
    v["ckpt.free_s"] = sum(o["free_s"] for o in rec["ops"].values())
    for k in COUNTER_UNITS:
        v[f"spark.{k}"] = total[k]
    return v


def per_layer(traced, untraced_pass_s, warmup_first_s, session_s, rss_mb):
    """All per-layer metrics as {name: (value, unit)}."""
    units = metric_units()
    per_pass = [pass_values(p) for p in traced]
    out = {}
    for name, unit in units.items():
        vals = [pv.get(name, 0.0) for pv in per_pass]
        out[name] = (float(statistics.median(vals)) if vals else 0.0, unit)
    traced_s = statistics.median(p["pass_s"] for p in traced)
    untraced_s = statistics.median(untraced_pass_s)
    out["session.get_spark_s"] = (session_s, "s")
    out["process.peak_rss_mb"] = (rss_mb, "MB")
    out["warmup.first_pass_s"] = (warmup_first_s, "s")
    out["trace.overhead_pct"] = (100.0 * (traced_s / untraced_s - 1.0), "%")
    return out
