"""Flagship spatio-temporal join as a driver-checkable query.

`spatiotemporal_join(spark, sf_dir)` runs the full reference pipeline
(/root/reference/addresses.js `infer`) over the deterministic geo
fixtures derived from supplier/customer (sources/fixtures.py) and
returns the flat inferred output; `ORACLE_SQL` computes the identical
result in DuckDB over the same parquet tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_addresses_spark.config import KNN_FANOUT, MAX_DISTANCE_M, MS_THRESHOLD
from etl_addresses_spark.functions.dates import DUCKDB_EARLIEST_MS, DUCKDB_LATEST_MS
from etl_addresses_spark.functions.geo import duckdb_crosstrack_m
from etl_addresses_spark.operators.spatial_join import infer_addresses, inferred_flat
from etl_addresses_spark.sources.fixtures import (
    DUCKDB_FIXTURE_CTES,
    house_numbers_df,
    streets_df,
)


def spatiotemporal_join(
    spark: SparkSession, sf_dir: str, strategy: str = "grid"
) -> DataFrame:
    inferred = infer_addresses(
        house_numbers_df(spark, sf_dir), streets_df(spark, sf_dir), strategy=strategy
    )
    return inferred_flat(inferred)


_SEG_SINCE = DUCKDB_EARLIEST_MS.format(c="validSince")
_SEG_UNTIL = DUCKDB_LATEST_MS.format(c="validUntil")
_HN_SINCE = DUCKDB_EARLIEST_MS.format(c="validSince")
_HN_UNTIL = DUCKDB_LATEST_MS.format(c="validUntil")
_DIST = duckdb_crosstrack_m("s.y1", "s.x1", "s.y2", "s.x2", "h.pt_lat", "h.pt_lon")

# CTE prefix shared by both candidate strategies: fixtures + prepared
# segment/house-number sides.
_PREFIX_CTES = f"""
WITH {DUCKDB_FIXTURE_CTES.strip()},
seg AS (
  SELECT
    CASE WHEN contains(id, '/') THEN id ELSE 'nyc-streets/' || id END AS streetId,
    name AS streetName,
    seg_index, x1, y1, x2, y2,
    ({_SEG_SINCE}) - {MS_THRESHOLD} AS seg_since_ms,
    ({_SEG_UNTIL}) + {MS_THRESHOLD} AS seg_until_ms
  FROM fx_segments
),
hn AS (
  SELECT
    CASE WHEN contains(id, '/') THEN split_part(id, '/', 2) ELSE id END AS hn_internal_id,
    CASE WHEN contains(id, '/') THEN id ELSE 'building-inspector/' || id END AS houseNumberId,
    validSince, validUntil, sheetId, layerId, mapId, number, borough,
    pt_lat, pt_lon,
    ({_HN_SINCE}) AS addr_since_ms,
    ({_HN_UNTIL}) AS addr_until_ms
  FROM fx_hn
  WHERE type = 'st:Address' AND NOT geom_is_null
)"""

# Default (grid/broadcast) candidate semantics: ε-expanded bbox + temporal
# containment in the join condition.
_CAND_DEFAULT = f""",
cand AS (
  SELECT h.houseNumberId, s.streetId, s.streetName, s.seg_index,
         {_DIST} AS distance
  FROM hn h JOIN seg s
    ON h.pt_lon >= least(s.x1, s.x2) - 0.0005e0
   AND h.pt_lon <= greatest(s.x1, s.x2) + 0.0005e0
   AND h.pt_lat >= least(s.y1, s.y2) - 0.0005e0
   AND h.pt_lat <= greatest(s.y1, s.y2) + 0.0005e0
   AND s.seg_since_ms <= h.addr_since_ms AND s.seg_until_ms >= h.addr_until_ms
)"""

# STRICT reference-parity candidate semantics (operators/spatial_join.py
# _reference_knn_candidates): exact bbox containment (no ε) UNION the
# KNN_FANOUT nearest segments by planar point-to-bbox distance, ranked
# over ALL pairs BEFORE the temporal filter, with the same deterministic
# (boxdist², streetId, seg_index) tie-break.  Both engines compute the
# identical double expression, so the rank order is bit-identical.
_DX = (
    "greatest(least(x1, x2) - pt_lon, pt_lon - greatest(x1, x2), 0.0e0)"
)
_DY = (
    "greatest(least(y1, y2) - pt_lat, pt_lat - greatest(y1, y2), 0.0e0)"
)
_DIST_P = duckdb_crosstrack_m("y1", "x1", "y2", "x2", "pt_lat", "pt_lon")
_CAND_KNN = f""",
pairs AS (
  SELECT h.houseNumberId, s.streetId, s.streetName, s.seg_index,
         s.x1, s.y1, s.x2, s.y2, h.pt_lat, h.pt_lon,
         s.seg_since_ms, s.seg_until_ms, h.addr_since_ms, h.addr_until_ms
  FROM hn h CROSS JOIN seg s
),
ranked AS (
  SELECT *,
    (pt_lon >= least(x1, x2) AND pt_lon <= greatest(x1, x2)
     AND pt_lat >= least(y1, y2) AND pt_lat <= greatest(y1, y2)) AS bbox_hit,
    row_number() OVER (
      PARTITION BY houseNumberId
      ORDER BY {_DX} * {_DX} + {_DY} * {_DY}, streetId, seg_index
    ) AS knn_rank
  FROM pairs
),
cand AS (
  SELECT houseNumberId, streetId, streetName, seg_index,
         {_DIST_P} AS distance
  FROM ranked
  WHERE (bbox_hit OR knn_rank <= {KNN_FANOUT})
    AND seg_since_ms <= addr_since_ms AND seg_until_ms >= addr_until_ms
)"""

_SUFFIX_CTES = f""",
best AS (
  SELECT houseNumberId, distance AS lineLength, streetId, streetName
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY houseNumberId
      ORDER BY distance, streetId, seg_index
    ) AS rn
    FROM cand
    WHERE distance < {MAX_DISTANCE_M}
  )
  WHERE rn = 1
),
inferred AS (
  SELECT
    CASE WHEN b.streetId IS NOT NULL THEN h.hn_internal_id END AS id,
    CASE WHEN b.streetId IS NOT NULL THEN h.number || ' ' || b.streetName END AS name,
    h.houseNumberId AS houseNumberId,
    b.streetId AS streetId,
    CASE WHEN b.streetId IS NOT NULL THEN h.validSince END AS validSince,
    CASE WHEN b.streetId IS NOT NULL THEN h.validUntil END AS validUntil,
    b.streetName AS streetName,
    b.lineLength AS lineLength,
    CASE WHEN b.streetId IS NULL
         THEN 'Can''t find street within {MAX_DISTANCE_M} meters and 15 years'
    END AS error,
    h.sheetId AS sheetId,
    h.layerId AS layerId,
    h.mapId AS mapId,
    h.number AS number,
    h.borough AS borough
  FROM hn h
  LEFT JOIN best b USING (houseNumberId)
)
"""

# All CTEs up to and including `inferred` — reused by the transform-step
# oracles (plans/transform.py) so every downstream record type is checked
# against the same join result.
INFERRED_CTES = _PREFIX_CTES + _CAND_DEFAULT + _SUFFIX_CTES
INFERRED_KNN_CTES = _PREFIX_CTES + _CAND_KNN + _SUFFIX_CTES

ORACLE_SQL = INFERRED_CTES + "\nSELECT * FROM inferred"
ORACLE_SQL_KNN = INFERRED_KNN_CTES + "\nSELECT * FROM inferred"


def spatiotemporal_join_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship join under the strict reference-parity candidate
    semantics (R-tree search ∪ nearest(10) reproduction,
    addresses.js:61-63) on the SCALE-SAFE physical plan: grid-block
    prefilter with provable local-top-k completeness, broadcast
    cross-join only for the escalation residue
    (spatial_join._reference_knn_candidates_grid).  The plain
    `reference_knn` cross-join strategy remains available as the
    validation mode this plan is equivalence-tested against."""
    return spatiotemporal_join(spark, sf_dir, strategy="reference_knn_grid")


def reference_e2e_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL I/O contract, end-to-end: the fixture
    object streams are written through the S2 NDJSON sink into the
    reference directory layout (`<base>/<dataset>/transform/
    <dataset>.objects.ndjson`, addresses.js:36-42), scanned back via
    the S1 declared-schema FAILFAST reader, and only then fed to the
    flagship infer — so a driver row now certifies the whole
    scan→join→flatten path including JSON serialization (null-key
    dropping on write, schema'd restoration on read, double
    round-tripping through Jackson shortest-repr).

    The oracle is the unchanged flagship ORACLE_SQL: the NDJSON
    round-trip must be a value-level identity, which is exactly the
    property worth a driver check.  Scale note: the sink/scan pair is
    a partition-parallel text write+read with declared schemas (no
    inference scan), the same shape the 100 TB pipeline would use for
    restartable step boundaries.
    """
    from etl_addresses_spark.session import scratch_dir
    from etl_addresses_spark.sources import ndjson

    base = scratch_dir("e2e_ndjson", sf_dir)
    ndjson.write_ndjson(
        streets_df(spark, sf_dir),
        ndjson.objects_path(base, "nyc-streets", "transform"),
    )
    ndjson.write_ndjson(
        house_numbers_df(spark, sf_dir),
        ndjson.objects_path(base, "building-inspector", "transform"),
    )
    streets = ndjson.load_objects(
        spark, base, "nyc-streets", "transform", ndjson.STREETS_SCHEMA
    )
    house_numbers = ndjson.load_objects(
        spark,
        base,
        "building-inspector",
        "transform",
        ndjson.HOUSE_NUMBERS_SCHEMA,
    )
    return inferred_flat(infer_addresses(house_numbers, streets))


def infer_addresses_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1 progress counter (addresses.js:49-59) promoted to DATA:
    run the flagship infer under an `Observation`, force one full
    noop-sink pass (executor-side metric collection, no driver
    collect of the data path), and return the observed
    processed/matched/unmatched counts as a 1-row DataFrame.

    This certifies the observability contract itself — the counts the
    operator reports are hash-checked against the counts the oracle
    derives from the inferred output (count(*) / count(streetId) /
    count(error)), so a drifting metric definition fails the driver,
    not just a pytest assertion.  Cost: one extra flagship pass; the
    metrics ride the job for free (the Spark replacement for the
    reference's per-10k-rows console logging)."""
    from etl_addresses_spark.operators.spatial_join import (
        infer_addresses_observed,
    )

    observed, obs = infer_addresses_observed(
        house_numbers_df(spark, sf_dir), streets_df(spark, sf_dir)
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["processed"], m["matched"], m["unmatched"])],
        "processed bigint, matched bigint, unmatched bigint",
    )


INFER_METRICS_SQL = INFERRED_CTES + """
SELECT CAST(count(*) AS BIGINT) AS processed,
       CAST(count(streetId) AS BIGINT) AS matched,
       CAST(count(error) AS BIGINT) AS unmatched
FROM inferred
"""


QUERIES = {
    "spatiotemporal_join": (spatiotemporal_join, ORACLE_SQL),
    # the A1 observability counter as a driver-checked row —
    # executor-collected Observation metrics hash-checked against the
    # oracle's own counts over the inferred output.
    "infer_addresses_metrics": (infer_addresses_metrics, INFER_METRICS_SQL),
    "spatiotemporal_join_knn": (spatiotemporal_join_knn, ORACLE_SQL_KNN),
    # the reference's NDJSON I/O contract exercised end-to-end (S2
    # sink -> S1 declared-schema scan -> flagship infer); the oracle is
    # the unchanged flagship SQL because the round-trip must be a
    # value-level identity.
    "reference_e2e_ndjson": (reference_e2e_ndjson, ORACLE_SQL),
}
