"""Measurement helpers: Spark counters per call, process-tree memory,
and in-memory trace spans.

Everything here observes the package from outside.  Spark counters
come from the live status stores (``spark.ui.enabled=false`` keeps
them populated).  Each call is attributed by job id: a call owns every
job started after the previous watermark.  The benchmark drives Spark
from one thread in a closed loop, so nothing else runs in between.
Job groups would miss the micro-batch jobs of a streaming query,
which run under the query's own group.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
    "output_records",
)


class JobWatch:
    """Attributes Spark jobs (and SQL executions) to calls by id."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self.job_mark = self.sql_mark = -1
        self.new_jobs()  # everything before now belongs to no call
        self.new_sql_ids()

    def new_jobs(self) -> list:
        """JobData of every job since the last call; moves the mark."""
        jobs = self._store.jobsList(None)
        out = [jobs.apply(i) for i in range(jobs.size())]
        out = [j for j in out if j.jobId() > self.job_mark]
        if out:
            self.job_mark = max(j.jobId() for j in out)
        return out

    def new_sql_ids(self) -> list[int]:
        ex = self._sql_store.executionsList()
        ids = [ex.apply(i).executionId() for i in range(ex.size())]
        ids = [i for i in ids if i > self.sql_mark]
        if ids:
            self.sql_mark = max(ids)
        return ids

    def shape(self) -> dict:
        """Job and stage counts since the last call: the plan signature
        of a pass.  Cheap (no per-stage reads)."""
        jobs = self.new_jobs()
        return {
            "jobs": len(jobs),
            "stages": sum(j.numCompletedStages() for j in jobs),
        }

    def counters(self) -> dict:
        """Every SPARK_COUNTERS value summed over the jobs since the
        last call.  Skipped stages (reused shuffle output) ran no work
        and are left out."""
        c = dict.fromkeys(SPARK_COUNTERS, 0.0)
        jobs = self.new_jobs()
        c["jobs"] = float(len(jobs))
        stage_ids = set()
        for j in jobs:
            ids = j.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        for sid in sorted(stage_ids):
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks()
            c["executor_run_s"] += s.executorRunTime() / 1000.0
            c["gc_s"] += s.jvmGcTime() / 1000.0
            c["shuffle_read_mb"] += (
                s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()
            ) / MB
            c["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            c["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
            c["input_mb"] += s.inputBytes() / MB
            c["output_mb"] += s.outputBytes() / MB
            c["output_records"] += s.outputRecords()
        return c

    def join_rows(self, sql_ids: list[int], key: str) -> int:
        """Output rows of the join operators keyed on ``key`` in the
        given SQL executions, read from the executed plans' SQL
        metrics (the final adaptive plan)."""
        total = 0
        for eid in sql_ids:
            graph = self._sql_store.planGraph(eid)
            values = self._sql_store.executionMetrics(eid)
            nodes = graph.allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not node.name().endswith("Join") or f"[{key}#" not in node.desc():
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(v.get().split("\n")[0].replace(",", ""))
        return total


def storage_mb(spark) -> float:
    """Block-manager memory and disk held by persisted RDDs (caches
    and localCheckpoint blocks)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) CPU ticks of the host so far, from /proc/stat.
    Steal is time the hypervisor ran something else on this machine's
    CPUs: a diagnostic for runs slowed by a busy host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _children(pid: int) -> list[int]:
    kids = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(k) for k in f.read().split()]
        except OSError:
            pass
    return kids


def process_tree(pid: int | None = None) -> list[int]:
    """This process and all its descendants (the PySpark driver's JVM
    is a child of the Python process)."""
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        try:
            todo += _children(p)
        except OSError:
            pass
    return seen


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


@dataclass
class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once, when the run ends."""

    run_id: str
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
