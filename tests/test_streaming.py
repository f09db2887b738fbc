from __future__ import annotations

from conftest import SF_ORACLE

from pyspark.sql import functions as F

from etl_addresses_spark.sources.tables import load_table
from etl_addresses_spark.streaming import event_stream


def test_windowed_counts_stream_equals_batch(spark):
    stream = event_stream.read_events_stream(spark, SF_ORACLE)
    out = event_stream.run_to_memory(
        event_stream.windowed_counts(stream), "win_counts"
    )
    batch = (
        load_table(spark, SF_ORACLE, "events")
        .groupBy(
            F.window("ts", "5 minutes").start.alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
    )
    s = {tuple(r) for r in out.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_session_windows_counts(spark):
    stream = event_stream.read_events_stream(spark, SF_ORACLE)
    out = event_stream.run_to_memory(
        event_stream.session_windows(stream), "sess_win"
    )
    rows = out.collect()
    assert rows
    # every event lands in exactly one session
    total = sum(r.n_events for r in rows)
    assert total == load_table(spark, SF_ORACLE, "events").count()


def test_stateful_user_totals(spark):
    stream = event_stream.read_events_stream(spark, SF_ORACLE)
    out = event_stream.run_to_memory(
        event_stream.stateful_user_totals(stream), "stateful_totals", mode="update"
    )
    # last update per user == full batch aggregate
    got = {r.user_id: r.n_events for r in out.collect()}
    batch = {
        r.user_id: r.n
        for r in load_table(spark, SF_ORACLE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch


def test_stream_stream_join_matches_batch(spark):
    stream = event_stream.read_events_stream(spark, SF_ORACLE)
    out = event_stream.run_to_memory(
        event_stream.purchase_view_join(stream, "inner"), "ss_join", mode="append"
    )
    e = load_table(spark, SF_ORACLE, "events")
    views = e.filter("event_type = 'view'").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    purchases = e.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_event_id"),
    )
    batch = purchases.join(
        views,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    assert out.count() == batch.count()
    assert out.count() > 0


def test_dedup_stream_first_arrival_per_key(spark):
    stream = event_stream.read_events_stream(spark, SF_ORACLE)
    out = event_stream.run_to_memory(
        event_stream.dedup_stream(stream), "dedup_stream", mode="append"
    )
    # one surviving row per (user_id, event_type) pair, matching batch distinct
    got = {(r.user_id, r.event_type) for r in out.collect()}
    batch = {
        (r.user_id, r.event_type)
        for r in load_table(spark, SF_ORACLE, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == batch
    assert out.count() == len(batch), "exactly one row per key must survive"


def test_stateful_totals_on_rocksdb_state_store(spark):
    # Same stateful query, RocksDB state store provider: results must be
    # identical to the default HDFS-backed provider.
    old = {
        k: spark.conf.get(k, None) for k in event_stream.ROCKSDB_STATE_CONF
    }
    for k, v in event_stream.ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        stream = event_stream.read_events_stream(spark, SF_ORACLE)
        out = event_stream.run_to_memory(
            event_stream.stateful_user_totals(stream),
            "stateful_totals_rocksdb",
            mode="update",
        )
        got = {r.user_id: r.n_events for r in out.collect()}
        batch = {
            r.user_id: r.n
            for r in load_table(spark, SF_ORACLE, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == batch
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    stream = event_stream.read_events_stream(spark, SF_ORACLE)
    counts = event_stream.windowed_counts(stream)
    first = event_stream.run_with_checkpoint(counts, out, ckpt).count()
    # restart against the same checkpoint: no new input -> no new rows
    stream2 = event_stream.read_events_stream(spark, SF_ORACLE)
    counts2 = event_stream.windowed_counts(stream2)
    second = event_stream.run_with_checkpoint(counts2, out, ckpt).count()
    assert first > 0
    assert second == first, "restart must not duplicate checkpointed output"


def test_watermark_drops_late_row(spark, tmp_path):
    """Pin actual late-data EVICTION, not just stream==batch equality.

    Timeline (5-min windows, 10-min watermark delay, one file per
    micro-batch):

    * batch 0 (b1): on-time rows in window [10:00, 10:05) + a row at
      11:00 that will advance the watermark to 10:50.
    * batch 1 (b2): fresh row — during this batch the watermark (10:50)
      passes window [10:00, 10:05), which is EMITTED (n=2) and evicted.
    * batch 2 (b3): a late row for the already-evicted window.  The
      engine must DROP it (numRowsDroppedByWatermark) — merging it
      would resurrect a closed window and emit a duplicate in append
      mode.  A row late-but-not-yet-evicted (arriving one batch
      earlier) would still merge; eviction is the boundary.

    Batch SQL over the same three files counts the late row (n=3).
    """
    import json
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    b1 = [
        {"event_id": 1, "ts": "2024-01-01T10:00:30.000Z", "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T10:01:00.000Z", "event_type": "view", "value": 1.0},
        # advances the watermark to 10:50 for the NEXT batch
        {"event_id": 3, "ts": "2024-01-01T11:00:00.000Z", "event_type": "view", "value": 1.0},
    ]
    b2 = [
        # fresh row; window [10:00, 10:05) is emitted+evicted this batch
        {"event_id": 4, "ts": "2024-01-01T11:05:00.000Z", "event_type": "view", "value": 1.0},
    ]
    b3 = [
        # LATE: its window was evicted in the previous batch -> dropped
        {"event_id": 5, "ts": "2024-01-01T10:02:00.000Z", "event_type": "view", "value": 1.0},
    ]
    now = time.time()
    write("b1.json", b1, now - 100)  # mtime order = micro-batch order
    write("b2.json", b2, now - 50)
    write("b3.json", b3, now)

    schema = "event_id long, ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        event_stream.windowed_counts(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_eviction")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
        dropped = sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM wm_eviction").collect()
    streamed = {r.window_start.isoformat(): r.n for r in rows}
    batch = {
        r.window_start.isoformat(): r.n
        for r in spark.read.schema(schema)
        .json(str(src))
        .groupBy(F.window("ts", "5 minutes").start.alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    first_window = "2024-01-01T10:00:00"
    assert batch[first_window] == 3, "batch SQL counts the late row"
    assert streamed[first_window] == 2, (
        "watermark must drop the late row for the evicted window"
    )
    assert dropped == 1, "engine must report exactly one watermark-dropped row"
    assert len(rows) == len(streamed), "no duplicate window emissions"


def test_foreach_batch_overwrite_sink(spark, tmp_path):
    """foreachBatch upsert sink over two micro-batches: the final sink
    state must equal the batch aggregate over ALL input (each complete-
    mode batch overwrites, so the last overwrite wins and re-delivery
    is idempotent)."""
    import json
    import os
    import time

    src = tmp_path / "src"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    b1 = [{"user_id": 1, "value": 1.0}, {"user_id": 2, "value": 2.0}]
    b2 = [{"user_id": 1, "value": 3.0}, {"user_id": 3, "value": 4.0}]
    now = time.time()
    write("b1.json", b1, now - 50)
    write("b2.json", b2, now)

    schema = "user_id long, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
    )
    sink = str(tmp_path / "sink")
    event_stream.drain(
        agg.writeStream.outputMode("complete")
        .foreachBatch(
            lambda batch_df, _batch_id: batch_df.write.mode("overwrite").parquet(sink)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt")),
        None,
    )
    out = spark.read.parquet(sink)
    got = {(r.user_id): (r.n, r.total) for r in out.collect()}
    assert got == {1: (2, 4.0), 2: (1, 2.0), 3: (1, 4.0)}
