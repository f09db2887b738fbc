"""Reference-domain golden tests (FIXTURES.md §A5 edge cases).

Hand-crafted streets/house numbers with hand-computable outcomes:
distance threshold boundaries, the ±15-flat-year temporal boundary,
argmin across segments, id qualification, and the error branch.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from etl_addresses_spark.config import EARTH_RADIUS_KM, MS_THRESHOLD
from etl_addresses_spark.operators.spatial_join import ERROR_MESSAGE, infer_addresses

DEG_PER_M = 1.0 / (EARTH_RADIUS_KM * 1000 * math.pi / 180)

STREET_SCHEMA = (
    "id string, type string, name string, validSince string, validUntil string, "
    "geometry struct<type:string, coordinates:array<array<double>>>"
)
HN_SCHEMA = (
    "id string, type string, validSince string, validUntil string, "
    "data struct<sheetId:int, layerId:int, mapId:int, number:string, borough:string>, "
    "geometry struct<type:string, coordinates:array<double>>"
)


def _street(sid, name, since, until, coords):
    return (sid, "st:Street", name, since, until,
            {"type": "LineString", "coordinates": coords})


def _hn(hid, since, until, lon, lat, number="1"):
    return (
        hid,
        "st:Address",
        since,
        until,
        {"sheetId": 1, "layerId": 1, "mapId": 1, "number": number, "borough": "B"},
        {"type": "Point", "coordinates": [lon, lat]},
    )


@pytest.fixture(scope="module")
def golden(spark):
    # main street on the equator, lon 0..0.01, valid 1850-1860
    streets = [
        _street("main", "Main St", "1850", "1860", [[0.0, 0.0], [0.01, 0.0]]),
        # two-segment street: first segment far (lat 0.003), second near
        # (lat 0.003 -> 0.0) — nearest segment is NOT the first
        _street(
            "bent",
            "Bent St",
            "1850",
            "1860",
            [[0.2, 0.003], [0.21, 0.003], [0.21, 0.0001], [0.22, 0.0001]],
        ),
        # pre-qualified id
        _street(
            "nyc-streets/preq",
            "Preq St",
            "1850",
            "1860",
            [[0.4, 0.0], [0.41, 0.0]],
        ),
        # two parallel streets at distinct distances for argmin
        _street("near", "Near St", "1850", "1860", [[0.6, 0.0], [0.61, 0.0]]),
        _street(
            "far", "Far St", "1850", "1860",
            [[0.6, 20 * DEG_PER_M], [0.61, 20 * DEG_PER_M]],
        ),
        # equal-distance tie on one id: the match on segment 0 ("Zeta")
        # beats the one on segment 2 ("Alpha") — seg_index before name
        _street("dup", "Zeta St", "1850", "1860", [[0.7, 0.0], [0.71, 0.0]]),
        _street(
            "dup", "Alpha St", "1850", "1860",
            [[0.69, 0.001], [0.69, 0.0], [0.7, 0.0], [0.71, 0.0]],
        ),
        # identical geometry, different ids: streetId decides, not name
        _street("tie_b", "Aa St", "1850", "1860", [[0.8, 0.0], [0.81, 0.0]]),
        _street("tie_a", "Zz St", "1850", "1860", [[0.8, 0.0], [0.81, 0.0]]),
    ]
    seg_since = dt.datetime(1850, 1, 1, tzinfo=dt.timezone.utc)
    boundary = seg_since - dt.timedelta(milliseconds=MS_THRESHOLD)
    boundary_str = boundary.date().isoformat()  # exactly at seg_since - 15y
    too_early = (boundary - dt.timedelta(days=1)).date().isoformat()
    hns = [
        _hn("hn_24m", "1855", "1855", 0.005, 24 * DEG_PER_M),
        _hn("hn_25m", "1855", "1855", 0.005, 25 * DEG_PER_M),
        _hn("hn_26m", "1855", "1855", 0.005, 26 * DEG_PER_M),
        _hn("hn_boundary", boundary_str, "1855", 0.005, 0.0),
        _hn("hn_too_early", too_early, "1855", 0.005, 0.0),
        _hn("building-inspector/hn_preq", "1855", "1855", 0.405, 0.0),
        _hn("hn_bent", "1855", "1855", 0.215, 0.0),
        _hn("hn_argmin", "1855", "1855", 0.605, 8 * DEG_PER_M),
        _hn("hn_nowhere", "1855", "1855", 0.9, 0.0),
        _hn("hn_tie_index", "1855", "1855", 0.705, 8 * DEG_PER_M),
        _hn("hn_tie_id", "1855", "1855", 0.805, 8 * DEG_PER_M),
        # NULL id right on Main St: houseNumberId is NULL
        _hn(None, "1855", "1855", 0.005, 0.0),
    ]

    def _run(spark):
        sdf = spark.createDataFrame(streets, STREET_SCHEMA)
        hdf = spark.createDataFrame(hns, HN_SCHEMA)
        out = infer_addresses(hdf, sdf, strategy="grid")
        return {r["houseNumberId"]: r.asDict() for r in out.collect()}

    return _run(spark)


def test_distance_threshold_strict(golden):
    # strict < 25 on the rounded integer distance (addresses.js:82)
    assert golden["building-inspector/hn_24m"]["streetId"] == "nyc-streets/main"
    assert golden["building-inspector/hn_24m"]["lineLength"] == 24
    assert golden["building-inspector/hn_25m"]["error"] == ERROR_MESSAGE
    assert golden["building-inspector/hn_26m"]["error"] == ERROR_MESSAGE


def test_temporal_boundary_inclusive(golden):
    # segmentSince - 15y <= addressSince is inclusive (addresses.js:73)
    assert golden["building-inspector/hn_boundary"]["streetId"] == "nyc-streets/main"
    # one day before the widened boundary: no temporal match
    assert golden["building-inspector/hn_too_early"]["error"] == ERROR_MESSAGE


def test_argmin_picks_nearer_street(golden):
    r = golden["building-inspector/hn_argmin"]
    assert r["streetId"] == "nyc-streets/near"
    assert r["lineLength"] == 8


def test_multi_segment_nearest_not_first(golden):
    r = golden["building-inspector/hn_bent"]
    assert r["streetId"] == "nyc-streets/bent"
    # nearest segment is the third (index 2), ~11 m away, not the first
    assert r["lineLength"] == round(0.0001 / DEG_PER_M)


def test_prequalified_ids_not_double_prefixed(golden):
    r = golden["building-inspector/hn_preq"]
    assert r["streetId"] == "nyc-streets/preq"  # not nyc-streets/nyc-streets/preq
    assert r["houseNumberId"] == "building-inspector/hn_preq"
    assert r["id"] == "hn_preq"  # internal id stripped


def test_no_candidate_error_branch(golden):
    # no segment is indexed in this point's grid cell
    r = golden["building-inspector/hn_nowhere"]
    assert r["error"] == ERROR_MESSAGE
    assert r["streetId"] is None and r["lineLength"] is None
    # error rows keep the data payload (addresses.js:108-114)
    assert r["addressData"]["number"] == "1"


def test_argmin_tie_breaks_by_street_id_then_segment(golden):
    r = golden["building-inspector/hn_tie_id"]
    assert (r["streetId"], r["streetName"]) == ("nyc-streets/tie_a", "Zz St")
    r = golden["building-inspector/hn_tie_index"]
    assert (r["streetId"], r["streetName"]) == ("nyc-streets/dup", "Zeta St")
    assert r["lineLength"] == 8


def test_null_house_number_id_is_error_row(golden):
    # the oracle's LEFT JOIN ... USING (houseNumberId) never matches a
    # NULL id, even though a street passes right under the point
    r = golden[None]
    assert r["error"] == ERROR_MESSAGE
    assert r["streetId"] is None and r["lineLength"] is None


def test_matched_record_shape(golden):
    r = golden["building-inspector/hn_24m"]
    assert r["name"] == "1 Main St"
    assert r["validSince"] == "1855" and r["validUntil"] == "1855"
    assert r["streetName"] == "Main St"
    assert r["error"] is None


def test_reference_knn_dominates_grid(spark):
    """reference_knn candidates are a strict superset of the default
    bbox candidates, so every grid match must also match under
    reference_knn with an equal-or-closer segment, and its match count
    can only be larger (the extra matches are the great-circle
    artifacts the default semantics deliberately exclude)."""
    from conftest import SF_ORACLE

    from etl_addresses_spark.plans.flagship import spatiotemporal_join

    grid = {
        r["houseNumberId"]: r["lineLength"]
        for r in spatiotemporal_join(spark, SF_ORACLE, "grid").collect()
    }
    knn = {
        r["houseNumberId"]: r["lineLength"]
        for r in spatiotemporal_join(spark, SF_ORACLE, "reference_knn").collect()
    }
    assert set(grid) == set(knn)  # same universe of house numbers
    for hn_id, grid_len in grid.items():
        if grid_len is not None:
            assert knn[hn_id] is not None, f"{hn_id} lost its match"
            assert knn[hn_id] <= grid_len, f"{hn_id} got a worse match"
    n_grid = sum(1 for v in grid.values() if v is not None)
    n_knn = sum(1 for v in knn.values() if v is not None)
    assert n_knn >= n_grid


def test_reference_knn_matches_far_collinear_segment(spark):
    """The reference's kNN fallback matches a segment 50+ km away when
    the point lies within 25 m of its infinite great circle (equator
    here).  The default bbox semantics deliberately exclude this; the
    reference_knn strategy reproduces it."""
    streets = [
        _street("far", "Far St", "1850", "1860", [[0.5, 0.0], [0.51, 0.0]]),
    ]
    hns = [
        # ~11 m north of the equator, ~55 km west of the segment
        _hn("hn_x", "1855", "1855", 0.005, 0.0001),
    ]
    sdf = spark.createDataFrame(streets, STREET_SCHEMA)
    hdf = spark.createDataFrame(hns, HN_SCHEMA)
    grid = infer_addresses(hdf, sdf, strategy="grid").collect()[0]
    knn = infer_addresses(hdf, sdf, strategy="reference_knn").collect()[0]
    assert grid["error"] == ERROR_MESSAGE  # spatial semantics: no match
    assert knn["streetId"] == "nyc-streets/far"  # reference semantics: match
    assert knn["lineLength"] == 11
