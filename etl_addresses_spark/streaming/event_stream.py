"""Structured Streaming surface over the events table.

The reference has no event-time streaming (SURVEY.md §2.9 — its
Highland streams are bounded-file iterators), so this module is pure
extension surface: watermarked window aggregation (tumbling or
sliding), session windows, the stream-stream interval join in every
join mode, and a custom stateful operator via applyInPandasWithState.

Every query is started in ONE place, `drain` (availableNow trigger,
synchronous drain of all available input, stop), which also holds the
state-store width scope; `run_to_memory` and `run_with_checkpoint` are
its two sinks.  Tests drive the operators with the file source over
the driver's events parquet and assert stream/batch equivalence where
the semantics overlap.  On a real cluster the source becomes Kafka and
the sink a transactional table — the query shapes are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from etl_addresses_spark.session import scoped_shuffle_partitions
from etl_addresses_spark.sources.tables import events_file_schema, normalize_events_ts


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet.

    readStream requires an explicit schema, so we take the one Spark
    itself derives from the parquet footer (a cheap metadata-only batch
    read) and then run the SAME ts normalizer as the batch loader
    (`sources.tables.normalize_events_ts`) — ts units are defined in
    exactly one place, whatever the testdata's physical type
    (TIMESTAMP(NANOS)-as-long vs timestamp[us]).

    Path handling covers BOTH physical layouts of the events table:
    a directory of part files (every real deployment — streamed
    directly) and a single bare file (the driver testdata — streamed
    via parent dir + pathGlobFilter, because the file source requires
    its basePath to be a directory).  The original code used only the
    glob form, and pathGlobFilter matches FILE names: against a
    directory-shaped table it listed ZERO files and silently streamed
    nothing — caught by the r6 10x scale run, where the topk row
    returned instantly on an empty stream.  (Layout detection is a
    driver-side local-fs stat, which is what the test harness uses;
    an object-store deployment is always the directory branch.)"""
    import os

    schema = events_file_schema(spark, sf_dir)
    table_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(table_path):
        raw = spark.readStream.schema(schema).parquet(table_path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_events_ts(raw)


def windowed_counts(
    events: DataFrame, length: str = "5 minutes", slide: str | None = None
) -> DataFrame:
    """Watermarked windows per event type: tumbling `length` windows by
    default, sliding ones when `slide` is given (a 10-minute window
    every 5 minutes puts every event in exactly two windows).  The
    watermark bounds state: late rows beyond 10 minutes are dropped and
    closed windows are evicted — the knob that keeps state finite on an
    unbounded 100 TB/day stream; a sliding window holds one extra
    generation of open windows per slide, still O(windows x types)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", length, slide).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Native session windows (30-minute gap) per user — the streaming
    twin of the batch `events_sessionize` query."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("sess"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count + value
    total across micro-batches via applyInPandasWithState (the
    arbitrary-state API a reference-style custom accumulator maps to)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    horizon: str = "10 minutes",
) -> DataFrame:
    """Streaming deduplication with watermark-bounded state
    (`dropDuplicatesWithinWatermark`): the first arrival per key is
    emitted, re-arrivals within the watermark horizon are dropped, and
    key state is evicted once the watermark passes — so state size is
    O(keys per horizon), not O(all keys ever), the property that makes
    dedup feasible on an unbounded stream.  Contrast with plain
    `dropDuplicates` on a stream, whose state grows without bound."""
    keys = keys or ["user_id", "event_type"]
    return events.withWatermark("ts", horizon).dropDuplicatesWithinWatermark(
        keys
    )


ROCKSDB_STATE_CONF = {
    # Off-heap, disk-backed state store: state no longer bounded by
    # executor heap — required for 100 TB-scale streaming state
    # (large dedup horizons, wide session windows).  Changelog
    # checkpointing ships deltas instead of full SST snapshots.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


# --- state-store partition sizing -----------------------------------------
#
# A streaming query's stateful operators get one state store per
# shuffle partition, and EVERY micro-batch pays per-partition store
# open/commit/checkpoint overhead — a fixed cost that dominates when
# the per-partition data is small.  Measured on
# stream_purchase_view_join at sf0.1 (2 MB events): 5.1 s at 32
# partitions -> 2.1 s at 8 -> 1.9 s at 4; the state machinery, not the
# join, was 60% of the row.  So size state partitions from the SOURCE
# VOLUME (the fuzzy-gate/SRP/bloom count-gate precedent): one
# partition per ~64 MiB of input, floor 4.  At 100 TB/day this yields
# thousands of stores (the parallelism you want); at test scale it
# stops paying 32 store commits to shuffle 2 MB.  The partition count
# is pinned into the query's checkpoint on first start (Spark refuses
# to re-plan state layout), which is why the knob matters at CREATION
# time.  `drain` takes it explicitly and sets it as the session default
# only while the query starts and drains (session.
# scoped_shuffle_partitions), restoring the previous value afterwards.
STREAM_STATE_BYTES_PER_PARTITION = 64 << 20
STREAM_STATE_MIN_PARTITIONS = 4


def state_partitions_for(source_path: str) -> int:
    """Volume-derived shuffle-partition count for a NEW streaming
    query reading `source_path` — the SOURCE TABLE the stream reads
    (a part-file directory or a single flat file, the same two
    layouts read_events_stream handles), NOT the whole sf dir (r10
    review: sizing from the dataset directory counted every table's
    bytes, oversizing the store count ~8x at sf0.1).  Local-fs stat —
    the harness layout; an object-store deployment would take the
    size from its catalog stats."""
    import math
    import os

    if os.path.isfile(source_path):
        # flat-file table: os.walk on a regular file yields NOTHING,
        # which silently returned the floor for any volume (r10 review)
        total = os.path.getsize(source_path)
    else:
        total = 0
        for root, _dirs, files in os.walk(source_path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    if total == 0:
        # r10 advice: a typo'd table name / missing events.parquet
        # reached the same silent-floor failure mode the flat-file fix
        # removed — os.walk on a nonexistent dir yields nothing.  The
        # partition count gets PINNED into the checkpoint on first
        # start, so an undersized layout from a mis-resolved path is
        # permanent; fail loudly instead.  r11 advice: the two ways to
        # measure zero are different operator errors — a missing path
        # is a mis-resolved source (FileNotFoundError), while an
        # existing directory of only zero-byte files is a real-but-
        # empty source (ValueError) whose "does not exist" wording
        # would mislead.
        if not os.path.exists(source_path):
            raise FileNotFoundError(
                f"state_partitions_for: source path {source_path!r} does"
                " not exist — cannot size state-store partitions from"
                " zero measured volume"
            )
        raise ValueError(
            f"state_partitions_for: source path {source_path!r} exists"
            " but zero bytes were measured (empty directory or only"
            " zero-byte files) — cannot size state-store partitions"
            " from zero measured volume"
        )
    return max(
        STREAM_STATE_MIN_PARTITIONS,
        math.ceil(total / STREAM_STATE_BYTES_PER_PARTITION),
    )


def events_state_partitions(sf_dir: str) -> int:
    """state_partitions_for over the EVENTS table of an sf dir,
    resolving the same dir-vs-flat-file layout rule as
    read_events_stream — the helper every events-sourced registry row
    uses, so the stream is sized from what it actually reads (one
    table stat, not a full-dataset walk)."""
    import os

    return state_partitions_for(os.path.join(sf_dir, "events.parquet"))


def drain(writer: DataStreamWriter, shuffle_partitions: int | None) -> None:
    """Run a configured stream writer to completion: start it with an
    availableNow trigger, process all available input synchronously,
    and stop the query even if the drain fails.  `shuffle_partitions`
    (see state_partitions_for; None keeps the session default) is the
    query's shuffle and state-store width; it is scoped around the
    start, where Spark pins it into the query."""
    with scoped_shuffle_partitions(writer._spark, shuffle_partitions):
        q = writer.trigger(availableNow=True).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Drain all available input into a memory sink and return the
    result as a batch DataFrame (test/smoke harness).

    `complete` for windowed aggregations (append would withhold windows
    the watermark hasn't passed yet); `update` for stateful operators.
    Results are partitioning-invariant — the stateful operators are
    keyed, and the drained table is compared order-insensitively."""
    drain(
        stream_df.writeStream.outputMode(mode).format("memory").queryName(name),
        shuffle_partitions,
    )
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def run_with_checkpoint(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Run append-mode into a parquet file sink with a checkpoint
    location (offset tracking + state store + exactly-once file
    commits) — the restartable production sink contract.  A restart
    against the same checkpoint reprocesses nothing.  A RESTART reuses
    the checkpoint's pinned state layout, so `shuffle_partitions` must
    not change between runs against one checkpoint (callers pass the
    same volume-derived value)."""
    drain(
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir),
        shuffle_partitions,
    )
    return stream_df.sparkSession.read.parquet(out_dir)


def purchase_view_join(events: DataFrame, how: str) -> DataFrame:
    """Stream-stream interval join of purchases to same-user views
    within the preceding 30 minutes; `how` is "inner", "leftOuter" or
    "fullOuter".  Both sides carry watermarks so the join state is
    bounded: a view can be dropped once it is older than the maximum
    lookback relative to the purchase watermark — the knob that makes
    an unbounded two-stream join feasible.

    Matched pairs emit eagerly.  The outer modes' null-padded rows emit
    only once the watermark proves no match can still arrive (both
    rules pinned with boundary fixtures at wm == bound and
    wm == bound ± 1 ms, like the OHLC predicate):

      * unmatched PURCHASE: purchase_ts < global_wm (strict);
      * unmatched VIEW (full only): view_ts + 30 minutes < global_wm
        (strict) — the instant no purchase can still arrive inside the
        view's forward join window,

    where global_wm = min(ms-truncated max view_ts - 40 min,
    ms-truncated max purchase_ts - 10 min) over each side's filtered
    rows.  Rows inside the final watermark horizon stay in state,
    emitted by a later batch on a live stream — exactly the rows the
    oracles' watermark predicates exclude.  user_id is coalesced across
    sides so every full-join row carries it (for inner and left joins
    it is the purchase's user)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_event_id"),
        )
        .withWatermark("view_ts", "40 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
    )
    return purchases.join(views, cond, how).select(
        "purchase_event_id",
        F.coalesce(F.col("p_user"), F.col("v_user")).alias("user_id"),
        "purchase_ts",
        "view_event_id",
        "view_ts",
    )


def ohlc_bars(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch `events_ohlc_bars` resampler:
    watermarked 1-hour tumbling windows emit per-(type, hour) OHLC bars
    with open/close picked by min_by/max_by on the same collision-free
    decimal (epoch-micros, event_id) key — drained in APPEND mode, so a
    bar emits exactly when the watermark passes its window end
    (empirically pinned: window.end <= ms-truncated max event time
    minus the 10-minute delay; boundary-tested at wm == end and
    wm == end ± 1 ms) and the state store then evicts it.  State is
    O(open windows x types) regardless of stream length — a claim that
    holds ONLY in append/update mode; complete mode would retain every
    window for the life of the query (round-3 ADVICE.md fix).  The
    drained output is value-identical to the batch resampler for every
    emitted bar; bars the final watermark has not closed stay in
    state, which the oracle's watermark predicate models."""
    key = F.expr("CAST(unix_micros(ts) AS DECIMAL(38,0)) * 1000000") + F.col(
        "event_id"
    ).cast("decimal(38,0)")
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max_by("value", key).alias("close"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("volume"),
        )
        .select(
            F.col("event_type"),
            F.expr("unix_micros(win.start)").alias("hour_us"),
            "open",
            "close",
            "high",
            "low",
            "n_events",
            "volume",
        )
    )
