"""Steadiness report: run one workload on several seeds and print, for
every metric, the median and the interquartile spread as a share of
the median, next to the bound BENCHMARK.json gives it.

    python3 perfbench/steadiness.py --workload near_dup --runs 10
    python3 perfbench/steadiness.py --workload near_dup --runs 10 --sets 2

Each run's pass times and plan signatures (jobs/stages per pass) are
printed too, so an outlier pass can be traced to an adaptive re-plan.
With ``--sets 2`` the runs are repeated on the same seeds and the two
medians compared, the check that two sets of runs of the same code
agree within the bounds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {out.returncode})")
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def report(runs, bench) -> dict[str, float]:
    """Print one set's table; return each metric's median."""
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    names = list(runs[0][1]["metrics"])
    medians = {}
    print(f"{'metric':34} {'unit':6} {'median':>12} {'IQR/med':>8} {'bound':>6}")
    for name in names:
        vals = [r[1]["metrics"][name]["value"] for r in runs]
        unit = runs[0][1]["metrics"][name]["unit"]
        medians[name] = statistics.median(vals)
        sp = spread(vals) if len(vals) > 1 else 0.0
        b = bounds.get(name)
        print(
            f"{name:34} {unit:6} {medians[name]:12.4f} {sp:8.4f} "
            f"{'' if b is None else f'{b:6.2f}'}"
        )
    return medians


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--sets", type=int, default=1)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seeds = range(args.first_seed, args.first_seed + args.runs)
    set_medians = []
    for k in range(args.sets):
        runs = []
        for seed in seeds:
            detail, result = run_once(args.workload, seed, bench["run_seconds"])
            runs.append((detail, result))
            shapes = " ".join(f"{s['jobs']}/{s['stages']}" for s in detail["pass_shapes"])
            times = " ".join(
                f"{t:.2f}" for t in detail["warmup_pass_s"] + detail["timed_pass_s"]
            )
            print(
                f"set {k + 1} seed {seed}: run {detail['run_s']:.1f}s "
                f"passes [{times}] jobs/stages [{shapes}] "
                f"ok {result['attempted'] - result['failed']}/{result['attempted']} "
                f"peak_rss_mb={detail['peak_rss_mb']:.0f} "
                + " ".join(
                    f"{m}={v['value']:.4g}" for m, v in result["metrics"].items()
                    if m != "ok_op_share"
                ),
                flush=True,
            )
        print(f"--- {args.workload}, set {k + 1}, {len(runs)} runs")
        set_medians.append(report(runs, bench))
    if args.sets > 1:
        print("--- second median vs first")
        for name, m1 in set_medians[0].items():
            m2 = set_medians[1][name]
            print(f"{name:34} {m1:12.4f} {m2:12.4f} {(m2 - m1) / m1 if m1 else 0.0:+8.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
