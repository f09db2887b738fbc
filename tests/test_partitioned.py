from __future__ import annotations

from conftest import SF_SMALL

from etl_addresses_spark.sources.partitioned import read_partition, write_partitioned
from etl_addresses_spark.sources.tables import load_table


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    out = str(tmp_path / "events_by_type")
    events = load_table(spark, SF_SMALL, "events")
    write_partitioned(events, out, "event_type")
    pruned = read_partition(spark, out, "event_type", "purchase")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200]
    want = events.filter("event_type = 'purchase'").count()
    assert pruned.count() == want
    # directory layout: one subdir per partition value
    import os

    subdirs = [d for d in os.listdir(out) if d.startswith("event_type=")]
    assert "event_type=purchase" in subdirs and len(subdirs) == 5


def test_partitioned_sink_prune_oracle(spark, ddb):
    from conftest import SF_ORACLE, assert_frames_match

    from etl_addresses_spark.sources.partitioned import (
        PARTITIONED_PRUNE_SQL,
        partitioned_sink_prune,
    )

    assert_frames_match(
        partitioned_sink_prune(spark, SF_ORACLE),
        ddb.sql(PARTITIONED_PRUNE_SQL),
    )


def test_rawtext_log_roundtrip_oracle(spark, ddb):
    from conftest import SF_ORACLE, assert_frames_match

    from etl_addresses_spark.sources.rawtext import (
        RAWTEXT_LOG_SQL,
        rawtext_log_roundtrip,
    )

    assert_frames_match(
        rawtext_log_roundtrip(spark, SF_ORACLE), ddb.sql(RAWTEXT_LOG_SQL)
    )


def test_compaction_range_clustering(spark):
    """Compacted files must each cover a DISJOINT event_id range
    (repartitionByRange's clustering contract — what re-enables
    min/max footer pruning after compaction) and the file count must
    match the bytes-proportional computation."""
    import os

    from etl_addresses_spark.sources.compaction import (
        compact_small_files,
        _parquet_files,
    )
    from conftest import SF_SMALL

    from etl_addresses_spark.session import scratch_dir

    compact_small_files(spark, SF_SMALL).collect()
    base = scratch_dir("compaction", SF_SMALL)
    files = _parquet_files(os.path.join(base, "compacted"))
    assert files
    ranges = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg({"event_id": "min"})
            .collect()[0][0],
            spark.read.parquet(f).agg({"event_id": "max"}).collect()[0][0],
        )
        ranges.append(r)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"
