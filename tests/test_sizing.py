"""The data-derived shuffle-width rules (functions/sizing.py, streaming
state sizing, scoped conf override) — the r10 fixed-cost batch."""

from __future__ import annotations

import pytest

from etl_addresses_spark.functions.sizing import (
    CPU_STAGE_BYTES_PER_PARTITION,
    LOOP_MIN_PARTITIONS,
    LOOP_ROWS_PER_PARTITION,
    cpu_partitions,
    loop_partitions,
    plan_size_bytes,
)
from etl_addresses_spark.session import scoped_shuffle_partitions
from etl_addresses_spark.streaming.event_stream import (
    STREAM_STATE_BYTES_PER_PARTITION,
    STREAM_STATE_MIN_PARTITIONS,
    events_state_partitions,
    state_partitions_for,
)


def test_loop_partitions_floor_and_quantum():
    assert loop_partitions(0) == LOOP_MIN_PARTITIONS
    assert loop_partitions(1) == LOOP_MIN_PARTITIONS
    assert loop_partitions(LOOP_ROWS_PER_PARTITION) == LOOP_MIN_PARTITIONS
    # above the floor region: one partition per quantum, rounded up
    big = 100 * LOOP_ROWS_PER_PARTITION
    assert loop_partitions(big) == 100
    assert loop_partitions(big + 1) == 101
    # monotone
    widths = [loop_partitions(n) for n in range(0, big, big // 57)]
    assert widths == sorted(widths)


def test_cpu_partitions_floor_and_bytes(spark):
    """cpu_partitions never drops below cluster default parallelism
    (the CPU-coverage guarantee AQE's byte heuristic cannot give) and
    grows bytes-proportionally past it."""
    par = spark.sparkContext.defaultParallelism
    small = spark.range(10)
    assert cpu_partitions(small) == par
    # plan stats exist and are sane for a trivial range
    assert 0 <= plan_size_bytes(small) < CPU_STAGE_BYTES_PER_PARTITION
    # a frame whose stats call fails raises instead of silently
    # falling back to parallelism-only
    class _Fake:
        sparkSession = spark
        class _J:
            def queryExecution(self):
                raise RuntimeError("no stats")
        _jdf = _J()
    with pytest.raises(RuntimeError, match="no stats"):
        cpu_partitions(_Fake())


def _sparse(path, nbytes):
    """Apparent-size file without writing data: getsize reports the
    truncated length, so multi-hundred-MB sizing cases cost nothing
    (r10 review: the literal-bytes version wrote ~700 MB per run)."""
    with open(path, "wb") as f:
        f.truncate(nbytes)


def test_state_partitions_flat_file_and_dir(tmp_path):
    # flat file: os.walk on a regular file yields nothing — the r10
    # review bug was silently returning the floor for ANY volume
    f = tmp_path / "t.parquet"
    _sparse(f, 6 * STREAM_STATE_BYTES_PER_PARTITION)
    assert state_partitions_for(str(f)) == 6
    # directory of part files sums the parts
    d = tmp_path / "dir.parquet"
    d.mkdir()
    for i in range(5):
        _sparse(d / f"part-{i}", STREAM_STATE_BYTES_PER_PARTITION)
    assert state_partitions_for(str(d)) == 5
    # floor for tiny sources
    tiny = tmp_path / "tiny.parquet"
    tiny.write_bytes(b"x")
    assert state_partitions_for(str(tiny)) == STREAM_STATE_MIN_PARTITIONS


def test_state_partitions_missing_or_empty_path_raises(tmp_path):
    """r10 advice: a typo'd table name or missing events.parquet used
    to silently return the floor — the same failure mode the flat-file
    fix removed, and worse here because the undersized count gets
    pinned into the streaming checkpoint.  Must fail loudly."""
    with pytest.raises(FileNotFoundError, match="does not exist"):
        state_partitions_for(str(tmp_path / "no_such_table.parquet"))
    # r11 advice: an EXISTING path measuring zero bytes is a different
    # operator error (real-but-empty source) and must not claim the
    # path "does not exist" — ValueError with a zero-bytes message.
    empty = tmp_path / "empty.parquet"
    empty.mkdir()
    with pytest.raises(ValueError, match="zero bytes"):
        state_partitions_for(str(empty))
    zb = tmp_path / "zerobyte.parquet"
    zb.mkdir()
    (zb / "part-00000.parquet").touch()
    with pytest.raises(ValueError, match="zero bytes"):
        state_partitions_for(str(zb))


def test_events_state_partitions_uses_only_events_table(tmp_path):
    """Regression test for the r10 review finding with a fixture that
    actually DISCRIMINATES: an sf dir whose events table is above the
    floor and whose sibling tables dwarf it — sizing from the whole
    dir would return a much larger count than sizing from events."""
    _sparse(tmp_path / "events.parquet", 6 * STREAM_STATE_BYTES_PER_PARTITION)
    _sparse(
        tmp_path / "lineitem.parquet", 40 * STREAM_STATE_BYTES_PER_PARTITION
    )
    _sparse(tmp_path / "orders.parquet", 20 * STREAM_STATE_BYTES_PER_PARTITION)
    assert events_state_partitions(str(tmp_path)) == 6
    assert state_partitions_for(str(tmp_path)) == 66  # the wrong answer


def test_scoped_shuffle_partitions_restores(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with scoped_shuffle_partitions(spark, 7):
        assert spark.conf.get(key) == "7"
    assert spark.conf.get(key) == before
    # restores on exception too
    with pytest.raises(RuntimeError):
        with scoped_shuffle_partitions(spark, 9):
            assert spark.conf.get(key) == "9"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before
    # None is a no-op
    with scoped_shuffle_partitions(spark, None):
        assert spark.conf.get(key) == before
    # nested LIFO scopes restore each level
    with scoped_shuffle_partitions(spark, 7):
        with scoped_shuffle_partitions(spark, 9):
            assert spark.conf.get(key) == "9"
        assert spark.conf.get(key) == "7"
    assert spark.conf.get(key) == before
    # interleaved scopes (outer exits while the inner one still holds
    # the conf) raise instead of restoring the wrong width
    outer = scoped_shuffle_partitions(spark, 7)
    inner = scoped_shuffle_partitions(spark, 9)
    outer.__enter__()
    inner.__enter__()
    with pytest.raises(RuntimeError, match="LIFO"):
        outer.__exit__(None, None, None)
    inner.__exit__(None, None, None)  # restores the outer width, 7
    outer.__exit__(None, None, None)
    assert spark.conf.get(key) == before
