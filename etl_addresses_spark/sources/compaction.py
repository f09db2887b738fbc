"""Small-file compaction: the table-maintenance pass every 100 TB
deployment schedules, as a certified operator.

Streaming sinks and fine-grained partition writes accumulate many
small files; at scale that degrades scans three ways: task-per-file
scheduling floors, per-file footer/open overhead, and lost
within-file clustering.  The standard remedy is a periodic compaction
pass: read the fragmented table, rewrite it into ~target-byte files,
atomically swap.  Spark-native mechanics used here:

- the WRITE-SIDE file count is controlled declaratively with
  `repartitionByRange(n, key)` — range partitioning both sets the
  output file count and restores key clustering (each output file
  covers a contiguous key range, so min/max footer stats prune again);
- `n` is computed from the measured input bytes / target file size —
  the same bytes-proportional sizing rule the shuffle-partition knob
  follows (SCALE.md);
- correctness of the rewrite is certified the roundtrip-identity way
  (the rawtext/CSV/NDJSON/bucketed precedent): a full-column aggregate
  over the compacted copy must hash-match the oracle computed on the
  ORIGINAL table — any dropped/duplicated/mangled row flips it.

The registry row `compact_small_files` fragments events into 64
shard files first (simulating a streaming sink's debris), compacts to
a computed handful, asserts the file count AND returns the identity
aggregate; pytest additionally checks the range-clustering property
(per-file disjoint key ranges via min/max of the written groups).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.session import scratch_dir
from etl_addresses_spark.sources.tables import load_table

TARGET_FILE_BYTES = 4 << 20  # 4 MiB at test scale; 128-1024 MiB in prod
FRAGMENT_FILES = 64


def _parquet_files(path: str) -> list[str]:
    return [
        f
        for f in glob.glob(os.path.join(path, "*.parquet"))
        if not os.path.basename(f).startswith("_")
    ]


def compact(
    df: DataFrame,
    out_dir: str,
    key: str,
    input_bytes: int,
    target_bytes: int = TARGET_FILE_BYTES,
) -> int:
    """Rewrite df into ceil(input_bytes / target_bytes) range-clustered
    parquet files under out_dir; returns the target file count.

    input_bytes is REQUIRED (measure the source files) — a silent
    default would degenerate to a single output file regardless of the
    table's actual size (r6 advice).  Note repartitionByRange samples
    the key; an empty or heavily-skewed range partition writes no
    file, so callers must treat the return as an upper bound on the
    written count.
    """
    if not isinstance(input_bytes, int) or input_bytes < 0:
        raise ValueError(f"input_bytes must be a measured non-negative int, got {input_bytes!r}")
    n_files = max(1, -(-input_bytes // target_bytes))
    (
        df.repartitionByRange(n_files, F.col(key))
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return n_files


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment events into {FRAGMENT_FILES} shard files, compact back
    to bytes-proportional range-clustered files, and certify the
    rewrite by full-column identity aggregate (per event_type: row
    count, user/value/ts sums — every column participates).  The
    oracle computes the same aggregate on the ORIGINAL table, so the
    check passes iff compaction preserved every row byte-for-byte."""
    base = scratch_dir("compaction", sf_dir)
    frag_dir = os.path.join(base, "fragmented")
    out_dir = os.path.join(base, "compacted")

    events = load_table(spark, sf_dir, "events")
    # simulate streaming-sink debris: 64 round-robin shards
    events.repartition(FRAGMENT_FILES).write.mode("overwrite").parquet(frag_dir)
    frag_files = _parquet_files(frag_dir)
    # repartition(n) on a non-empty table yields exactly n round-robin
    # splits; fewer means the fragmentation step itself misbehaved.
    # Explicit raise, not assert: the contract must survive python -O
    # and degrade with a diagnosable error inside a certified query
    # (r6 advice — compaction.py:93/103).
    if len(frag_files) != FRAGMENT_FILES and events.limit(1).count() > 0:
        raise RuntimeError(
            f"fragmentation wrote {len(frag_files)} files, "
            f"expected {FRAGMENT_FILES}"
        )

    frag_bytes = sum(os.path.getsize(f) for f in frag_files)
    fragmented = spark.read.parquet(frag_dir)
    n_files = compact(
        fragmented, out_dir, "event_id", input_bytes=frag_bytes
    )
    written = _parquet_files(out_dir)
    # the maintenance contract: at most the computed target (empty
    # range partitions write no file on tiny/skewed inputs), and
    # strictly fewer files than the fragmented input — that's the
    # whole point of the pass.
    if not written or len(written) > n_files:
        raise RuntimeError(
            f"compaction wrote {len(written)} files, target {n_files}"
        )
    if len(written) >= FRAGMENT_FILES:
        raise RuntimeError(
            f"compaction did not reduce file count: {len(written)} >= "
            f"{FRAGMENT_FILES}"
        )

    compacted = spark.read.parquet(out_dir)
    # integer-exact identity columns only; the ts sum folds modulo a
    # prime (a raw micro-epoch sum overflows int64 past ~5k rows under
    # ANSI), value goes through the exact cents floor
    return compacted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("sum_event_id"),
        F.sum("user_id").alias("sum_user_id"),
        F.sum(F.expr("unix_micros(ts) % 1000000007")).alias("sum_ts_mod"),
        F.sum(F.expr("cast(floor(value * 100.0e0) as bigint)")).alias(
            "sum_value_c"
        ),
        F.count("props").alias("n_props"),
    )


# CAST sums back to BIGINT: DuckDB sum(BIGINT) is HUGEINT, which reprs
# differently on the comparison fetch path (the round-3 lesson,
# tools/type_audit.py)
COMPACT_SMALL_FILES_SQL = """
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
       CAST(sum(user_id) AS BIGINT) AS sum_user_id,
       CAST(sum(epoch_us(CAST(ts AS TIMESTAMP)) % 1000000007) AS BIGINT)
           AS sum_ts_mod,
       CAST(sum(CAST(floor(value * 100.0e0) AS BIGINT)) AS BIGINT)
           AS sum_value_c,
       count(props) AS n_props
FROM events
GROUP BY event_type
"""


QUERIES = {
    "compact_small_files": (compact_small_files, COMPACT_SMALL_FILES_SQL),
}
