"""Benchmark entry point.

    python3 perfbench/run.py --workload addresses --seed 1 --seconds 8 --trace 0

Runs one workload on ``local[nproc]`` from one driver thread (closed
loop, one client) and prints, as the last line of stdout, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones (pass_s, setup_s,
ok_op_share); with ``--trace 1`` they are the per-layer ones, from
passes that alternate traced and untraced (the untraced ones give the
tracing overhead).  The line before it holds the run's detail: seed,
every pass time, every pass's plan signature and the peak RSS of the
process tree.

A run: import the package and start the session (``setup_s``),
generate the seeded inputs, warm up, time a fixed number of passes
sized from ``--seconds``, read peak memory, then check every output of
every pass against the DuckDB oracles.  Exit code 1 when any op failed
or mismatched.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import layers  # noqa: E402
import probe  # noqa: E402
from workloads import (  # noqa: E402
    ADDRESSES,
    WORKLOADS,
    address_steps,
    oracle_digests,
    output_sql,
    prepare_addresses,
)

MIN_PASSES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    (the checkout), and size the session to the cores this process
    may use.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs passes of one workload and records what each op did."""

    def __init__(self, spark, workload, tables_dir, base_dir, tracer):
        self.spark = spark
        self.workload = workload
        self.tables_dir = tables_dir
        self.base_dir = base_dir
        self.tracer = tracer
        self.watch = probe.JobWatch(spark)
        if workload.ops:
            from etl_addresses_spark import registry

            self.queries = registry.queries()

    def _steps(self, pass_dir):
        """(op, call, sink) triples: ``call`` returns the result,
        ``sink`` writes it.  The CLI steps write inside the call."""
        if self.workload is ADDRESSES:
            for op, thunk in address_steps(self.spark, self.base_dir, pass_dir):
                yield op, thunk, None
            return
        for op in self.workload.ops:
            fn = self.queries[op]
            out = os.path.join(pass_dir, op)
            yield (
                op,
                lambda fn=fn: fn(self.spark, self.tables_dir),
                lambda df, out=out: df.write.mode("overwrite").parquet(out),
            )

    def run_pass(self, index: int, pass_dir: str, traced: bool) -> dict:
        from etl_addresses_spark.ckpt import free_all_persistent_rdds

        tracer = self.tracer if traced else None

        def span(name, **kw):
            return tracer.span(name, **kw) if tracer else contextlib.nullcontext()

        rec = {"index": index, "traced": traced, "pass_s": 0.0, "ops": {}, "failed": []}
        sc = self.spark.sparkContext
        if traced:  # untraced passes leave the SQL mark behind
            self.watch.new_sql_ids()
        with span("pass", index=index):
            for op, call, sink in self._steps(pass_dir):
                o = rec["ops"][op] = {}
                # a label in Spark's stores; counters are attributed by
                # job id (probe.JobWatch)
                sc.setJobGroup(f"perfbench-{index}-{op}", op)
                t0 = time.perf_counter()
                try:
                    with span(op):
                        with span(f"{op}.call"):
                            df = call()
                        t1 = time.perf_counter()
                        if traced:
                            o["call"] = self.watch.counters()
                        t2 = time.perf_counter()
                        if sink is not None:
                            with span(f"{op}.sink"):
                                sink(df)
                        t3 = time.perf_counter()
                        if traced:
                            o["sink"] = self.watch.counters()
                            o["join_rows"] = self.watch.join_rows(
                                self.watch.new_sql_ids(), "shingle"
                            )
                    t4 = time.perf_counter()
                    o.update(build_s=t1 - t0, exec_s=t3 - t2, op_s=t4 - t0)
                    rec["pass_s"] += t4 - t0
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    rec["failed"].append(op)
                # hygiene: nothing this op cached or checkpointed may
                # serve a later op or pass (outside the timed region)
                with span(f"{op}.free"):
                    t5 = time.perf_counter()
                    if traced:
                        o["storage_mb"] = probe.storage_mb(self.spark)
                    self.spark.catalog.clearCache()
                    o["rdds_freed"] = free_all_persistent_rdds(self.spark)
                    o["free_s"] = time.perf_counter() - t5
        if not traced:
            rec["shape"] = self.watch.shape()
        else:
            counts = [layers.op_counters(o) for o in rec["ops"].values()]
            rec["shape"] = {k: int(sum(c[k] for c in counts)) for k in ("jobs", "stages")}
        return rec


def check_outputs(workload, con, expected, pass_dirs) -> dict[tuple[int, str], str]:
    """Compare every output of every pass with the oracle digests.
    Returns the mismatches as {(pass, op): reason}."""
    import oracle

    bad = {}
    for index, pass_dir in pass_dirs:
        for op, outputs in expected.items():
            for output, want in outputs.items():
                try:
                    got = oracle.digest(con, output_sql(workload, pass_dir, op, output))
                except Exception as exc:  # unreadable output = failed op
                    got = f"unreadable: {type(exc).__name__}: {exc}"
                if got != want:
                    bad[(index, op)] = f"{output}: got {got}, want {want}"
    return bad


def timed_passes(workload, seconds: float) -> int:
    """Untraced timed passes that fill ``seconds`` at the workload's
    estimated pass time, and at least MIN_PASSES."""
    return max(MIN_PASSES, math.ceil(seconds / workload.pass_estimate_s))


def tally(passes: list[dict], bad: dict) -> tuple[int, set]:
    """Ops attempted, and the (pass, op) pairs that raised or whose
    output did not match the oracle."""
    attempted = sum(len(p["ops"]) for p in passes)
    failed = {(p["index"], op) for p in passes for op in p["failed"]} | set(bad)
    return attempted, failed


def end_to_end(untraced_pass_s, setup_s, attempted, failed) -> dict:
    return {
        "pass_s": (statistics.median(untraced_pass_s), "s"),
        "setup_s": (setup_s, "s"),
        "ok_op_share": ((attempted - failed) / attempted, "ratio"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    run_id = f"{workload.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    configure_env(work)
    try:
        return run(args, workload, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, workload, run_id: str, work: str) -> int:
    # set-up, part 1: the imports a user of the package pays
    sys.path.insert(0, ROOT)
    from etl_addresses_spark.session import get_spark

    if workload.ops:
        import etl_addresses_spark.registry  # noqa: F401
    else:
        import etl_addresses_spark.engine  # noqa: F401
    import_s = time.perf_counter() - T0

    # untimed: seeded inputs and the oracle digests over them
    import generate
    import oracle

    phase = {}
    t = time.perf_counter()
    tables_dir = os.path.join(work, "tables")
    generate.write_tables(tables_dir, args.seed, workload.tables)
    phase["generate_s"] = time.perf_counter() - t

    # set-up, part 2: session ready = session built and a first job run
    t = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t
    setup_s = import_s + session_s

    # The oracle queries run in DuckDB on a side thread while the
    # session warms up; they finish before the first timed pass.
    con = oracle.connect(tables_dir)
    pool = ThreadPoolExecutor(1)
    oracle_job = pool.submit(oracle_digests, workload, con)

    tracer = probe.Tracer(run_id)
    passes, pass_dirs = [], []
    try:
        base_dir = os.path.join(work, "base")
        t = time.perf_counter()
        if workload is ADDRESSES:
            prepare_addresses(spark, tables_dir, base_dir)
        phase["prepare_s"] = time.perf_counter() - t
        runner = Runner(spark, workload, tables_dir, base_dir, tracer)
        tree = probe.process_tree()

        def one_pass(traced):
            index = len(passes)
            pass_dir = os.path.join(work, "out", f"pass-{index}")
            pass_dirs.append((index, pass_dir))
            passes.append(runner.run_pass(index, pass_dir, traced))
            return passes[-1]

        for _ in range(workload.warmup):
            one_pass(traced=False)
        expected = oracle_job.result()
        timed = []
        # a fixed count per workload, not a deadline: a deadline would
        # time more, and later (faster), passes on a faster host
        n = timed_passes(workload, args.seconds)
        ticks0 = probe.cpu_ticks()
        for i in range(n + (n - 1 if args.trace else 0)):
            timed.append(one_pass(traced=bool(args.trace) and i % 2 == 1))
        ticks1 = probe.cpu_ticks()
        phase["steal_share"] = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
        rss_mb = probe.peak_rss_mb(tree)
    finally:
        pool.shutdown(wait=True)
        stop_spark(spark)

    t = time.perf_counter()
    bad = check_outputs(workload, con, expected, pass_dirs)
    phase["check_s"] = time.perf_counter() - t
    con.close()
    attempted, failed_ops = tally(passes, bad)
    failed = len(failed_ops)
    for (index, op), reason in sorted(bad.items()):
        print(f"MISMATCH pass {index} {op}: {reason}", file=sys.stderr)

    untraced = [p["pass_s"] for p in timed if not p["traced"]]
    if args.trace:
        metrics = layers.per_layer(
            [p for p in timed if p["traced"]],
            untraced,
            warmup_first_s=passes[0]["pass_s"],
            session_s=session_s,
            rss_mb=rss_mb,
        )
    else:
        metrics = end_to_end(untraced, setup_s, attempted, failed)
    detail = {
        "run_id": run_id,
        "workload": workload.name,
        "why": workload.why,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
        "import_s": import_s,
        "session_s": session_s,
        "warmup_pass_s": [p["pass_s"] for p in passes[: workload.warmup]],
        "timed_pass_s": [p["pass_s"] for p in timed],
        "timed_traced": [p["traced"] for p in timed],
        "samples": len(untraced),
        "peak_rss_mb": rss_mb,
        "pass_shapes": [p["shape"] for p in passes],
        "failed": sorted(f"{i}:{op}" for i, op in failed_ops),
        **phase,
        "run_s": time.perf_counter() - T0,
    }
    report_dir = os.path.join(WORK_ROOT, "reports")
    if args.trace:
        tracer.write(os.path.join(report_dir, f"{run_id}.spans.json"))
    os.makedirs(report_dir, exist_ok=True)
    with open(os.path.join(report_dir, f"{run_id}.json"), "w") as f:
        json.dump({"detail": detail, "passes": passes}, f, indent=1)

    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
