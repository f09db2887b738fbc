"""SparkSession factory.

Local-mode defaults sized for the test harness (local[32], single JVM)
but every knob here is the one you would set on a real cluster too:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
UTC session timezone (oracle comparison against DuckDB's UTC-naive
timestamps), Arrow enabled for the Pandas-UDF slow path, no web UI.
Join-strategy and coalescing preferences stay at Spark's defaults.
Python workers import the package from this checkout, whatever the
process's working directory.

Rows that stage files put them under `scratch_dir`, which lives in the
application's own SparkFiles root.  Nothing writes to the SQL
warehouse; it points at one fixed directory under the system temp dir
rather than Spark's default `./spark-warehouse`, which every session
would otherwise create in its caller's working directory.

Environment: SPARK_GRAFT_CPUS (local[N], default 32),
SPARK_GRAFT_SHUFFLE_PARTITIONS (default: the CPU count) and
SPARK_GRAFT_DRIVER_MEM (default 48g).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark import SparkFiles
from pyspark.sql import SparkSession

_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WAREHOUSE = os.path.join(tempfile.gettempdir(), "spark-graft-warehouse")


def get_spark(app_name: str = "etl_addresses_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # No web UI (bench noise).  The live status store stays
        # populated without it; perfbench and the tools read per-stage
        # counters from there, so keep enough stages for a whole run.
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedStages", "2000")
        # ~128 MB parquet split targets; on a real cluster this keeps
        # task counts proportional to input bytes at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw nanos and normalize in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the Python workers of the UDF rows import etl_addresses_spark;
        # Spark merges this with its own and the process's PYTHONPATH
        .config("spark.executorEnv.PYTHONPATH", _CHECKOUT)
        .config("spark.sql.warehouse.dir", _WAREHOUSE)
    )
    return builder.getOrCreate()


def scratch_dir(name: str, sf_dir: str | None = None) -> str:
    """Scratch directory for a row that stages files: `name` under the
    running application's SparkFiles root, plus one subdirectory per
    dataset (the sf dir's leaf name and a hash of its absolute path, so
    datasets sharing a leaf name cannot collide).  The root is unique
    per application and lives under SPARK_LOCAL_DIRS, so concurrent
    sessions never share a path, and Spark deletes it when the context
    stops or the JVM exits.  Rows whose result is materialized (eager
    localCheckpoint) delete their directory as soon as they return."""
    path = os.path.join(SparkFiles.getRootDirectory(), "scratch", name)
    if sf_dir is None:
        return path
    full = os.path.abspath(sf_dir)
    tag = os.path.basename(full) + "_" + hashlib.sha1(full.encode()).hexdigest()[:12]
    return os.path.join(path, tag)


class scoped_shuffle_partitions:
    """Scoped spark.sql.shuffle.partitions override for operators that
    size a shuffle from measured data (streaming state stores, the BPE
    trainer's vocab-sized pair counts).  The value only needs to hold
    while the scoped plan is CREATED/STARTED; the session default is
    restored for whatever runs next.  n=None is a no-op.

    SINGLE-THREADED-DRIVER rule (r10 advice): the override mutates
    the session-global conf, so any query PLANNED concurrently on the
    same SparkSession (parallel driver threads, a streaming query
    started inside another scope) silently inherits the scoped width.
    Nested scopes must exit in LIFO order; `__exit__` raises if the
    conf no longer holds the width this scope set, which is what
    interleaved scopes leave behind.  Every caller in this repo plans
    queries from one driver thread (the harness contract); a
    multi-threaded driver would need per-query overrides (e.g. a
    writeStream option) instead.  Note that EXECUTION may overlap
    freely — the width is baked into the physical plan at creation,
    which is all the scope protects."""

    _KEY = "spark.sql.shuffle.partitions"
    # A scoped width is a COUNT-DERIVED decision (loop state rows,
    # vocab size, stream volume); letting AQE's byte heuristic coalesce
    # below it re-introduces the serialization hazard the floor-4 rule
    # measured (r11: labelprop 1.9x when its loop rounds collapsed to
    # one partition under parallelismFirst=false).  So inside a scope
    # the chosen width is authoritative: parallelismFirst pins to true
    # for the scope's actions and the session default returns on exit.
    _KEY_PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"

    def __init__(self, spark: SparkSession, n: int | None):
        self._spark, self._n = spark, n

    def __enter__(self):
        if self._n is not None:
            self._old = self._spark.conf.get(self._KEY)
            self._old_pf = self._spark.conf.get(self._KEY_PF)
            self._spark.conf.set(self._KEY, str(self._n))
            self._spark.conf.set(self._KEY_PF, "true")
        return self

    def __exit__(self, *exc):
        if self._n is not None:
            now = self._spark.conf.get(self._KEY)
            if now != str(self._n):
                raise RuntimeError(
                    f"scoped_shuffle_partitions: {self._KEY} is {now} at"
                    f" exit, not the {self._n} this scope set; scopes"
                    " must nest in LIFO order on one driver thread"
                )
            self._spark.conf.set(self._KEY, self._old)
            self._spark.conf.set(self._KEY_PF, self._old_pf)
        return False
