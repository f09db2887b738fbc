"""Spherical geometry as native Catalyst column expressions.

Replaces the reference's turf dependencies (/root/reference/addresses.js:5-8):

* `turf.lineSegment` (addresses.js:128-135) -> `explode_segments`, a
  higher-order-function explode of a GeoJSON LineString into 2-vertex
  segments — no UDF, no UDTF.
* `turf.crosstrack` (addresses.js:75-81) -> `crosstrack_km`, the
  great-circle cross-track distance of a point from the great circle
  through a segment's endpoints:

      d_xt = asin( sin(d13) * sin(theta13 - theta12) ) * R

  with d13 the haversine angular distance start->point, theta13/theta12
  the initial bearings start->point / start->end, R = 6371 km.  Pure
  trig built-ins, so the whole filter cascade stays inside whole-stage
  codegen.

Grid-cell helpers implement the scale-tier spatial candidate join
(SURVEY.md §4.3): each segment is assigned every cell its
ε-expanded bbox touches, each point its single containing cell, and an
equi-join on cell id replaces the reference's in-memory R-tree probe
(addresses.js:61-63,151-153).  Because ε ≥ the match cutoff, any
segment within MAX_DISTANCE_M of a point shares that point's cell, so
the candidate set is exact for the final (filtered, argmin) answer.

GeoJSON coordinate order is [lon, lat].
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_addresses_spark.config import EARTH_RADIUS_KM, GRID_CELL_DEG

# ε-expansion of segment bboxes in degrees.  25 m is ~0.000225° of
# latitude and ~0.0003° of longitude at NYC latitudes; 0.0005° covers
# both with margin.
BBOX_EPS_DEG = 0.0005


def _bearing(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Initial great-circle bearing between two points, radians."""
    dlon = F.radians(lon2) - F.radians(lon1)
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    return F.atan2(
        F.sin(dlon) * F.cos(p2),
        F.cos(p1) * F.sin(p2) - F.sin(p1) * F.cos(p2) * F.cos(dlon),
    )


def haversine_rad(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle angular distance in radians (haversine)."""
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    dphi = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = F.sin(dphi / 2) * F.sin(dphi / 2) + F.cos(p1) * F.cos(p2) * F.sin(
        dlon / 2
    ) * F.sin(dlon / 2)
    return 2 * F.asin(F.sqrt(a))


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    return haversine_rad(lat1, lon1, lat2, lon2) * F.lit(EARTH_RADIUS_KM)


def crosstrack_km(
    seg_lat1: Column,
    seg_lon1: Column,
    seg_lat2: Column,
    seg_lon2: Column,
    pt_lat: Column,
    pt_lon: Column,
) -> Column:
    """|cross-track| distance (km) of a point from a segment's great circle.

    Parity target: turf-crosstrack used at addresses.js:76 (km in,
    caller rounds km*1000 to integer meters).
    """
    d13 = haversine_rad(seg_lat1, seg_lon1, pt_lat, pt_lon)
    b13 = _bearing(seg_lat1, seg_lon1, pt_lat, pt_lon)
    b12 = _bearing(seg_lat1, seg_lon1, seg_lat2, seg_lon2)
    return F.abs(F.asin(F.sin(d13) * F.sin(b13 - b12)) * F.lit(EARTH_RADIUS_KM))


def crosstrack_m_rounded(
    seg_lat1: Column,
    seg_lon1: Column,
    seg_lat2: Column,
    seg_lon2: Column,
    pt_lat: Column,
    pt_lon: Column,
) -> Column:
    """Math.round(km * 1000) parity (addresses.js:76) as IntegerType."""
    km = crosstrack_km(seg_lat1, seg_lon1, seg_lat2, seg_lon2, pt_lat, pt_lon)
    return F.round(km * 1000).cast("int")


def explode_segments(streets: DataFrame, geometry_col: str = "geometry") -> DataFrame:
    """LineString -> one row per consecutive-vertex segment (F9).

    Adds `seg_index` plus endpoint columns (seg_lon1/seg_lat1/
    seg_lon2/seg_lat2); keeps all other columns (segment "properties",
    the R.omit('geometry') projection of addresses.js:130 is the
    caller's drop of the geometry column afterwards).
    """
    coords = F.col(geometry_col).getField("coordinates")
    c = f"{geometry_col}.coordinates"
    segments = F.expr(
        f"transform(sequence(0, size({c}) - 2), "
        f"i -> struct(i as seg_index, "
        f"{c}[i][0] as seg_lon1, {c}[i][1] as seg_lat1, "
        f"{c}[i + 1][0] as seg_lon2, {c}[i + 1][1] as seg_lat2))"
    )
    # inline() explodes the struct array straight into the five
    # columns: one projection, no intermediate struct column to drop.
    return streets.where(coords.isNotNull() & (F.size(coords) >= 2)).select(
        "*", F.inline(segments)
    )


def point_cell(lat: Column, lon: Column, cell_deg: float = GRID_CELL_DEG) -> Column:
    """Single grid-cell id for a point: struct(cx, cy)."""
    return F.struct(
        F.floor(lon / F.lit(cell_deg)).alias("cx"),
        F.floor(lat / F.lit(cell_deg)).alias("cy"),
    )


def point_neighbor_cells(
    lat: Column,
    lon: Column,
    cell_deg: float = GRID_CELL_DEG,
    ring: int = 2,
) -> Column:
    """The (2·ring+1)² grid-cell block centered on a point's cell
    (array<struct<cx,cy>>) — the probe fan-out of the grid-prefiltered
    kNN: any segment NOT indexed in this block has planar bbox distance
    ≥ ring·cell_deg from every point inside the center cell, the bound
    that makes block-local top-k provably equal to global top-k when
    enough candidates sit strictly inside it."""
    cx = F.floor(lon / F.lit(cell_deg))
    cy = F.floor(lat / F.lit(cell_deg))
    return F.flatten(
        F.transform(
            F.sequence(cx - ring, cx + ring),
            lambda x: F.transform(
                F.sequence(cy - ring, cy + ring),
                lambda y: F.struct(x.alias("cx"), y.alias("cy")),
            ),
        )
    )


def segment_cells(
    seg_lat1: Column,
    seg_lon1: Column,
    seg_lat2: Column,
    seg_lon2: Column,
    cell_deg: float = GRID_CELL_DEG,
    eps_deg: float = BBOX_EPS_DEG,
) -> Column:
    """All grid-cell ids covered by the ε-expanded bbox of a segment.

    Returns array<struct<cx,cy>> to explode on the build side of the
    candidate equi-join.  A segment spans few cells (bbox << cell size
    in this domain), so the explode fan-out is small and bounded.
    """
    minx = F.least(seg_lon1, seg_lon2) - F.lit(eps_deg)
    maxx = F.greatest(seg_lon1, seg_lon2) + F.lit(eps_deg)
    miny = F.least(seg_lat1, seg_lat2) - F.lit(eps_deg)
    maxy = F.greatest(seg_lat1, seg_lat2) + F.lit(eps_deg)
    cx0 = F.floor(minx / F.lit(cell_deg))
    cx1 = F.floor(maxx / F.lit(cell_deg))
    cy0 = F.floor(miny / F.lit(cell_deg))
    cy1 = F.floor(maxy / F.lit(cell_deg))
    return F.flatten(
        F.transform(
            F.sequence(cx0, cx1),
            lambda cx: F.transform(
                F.sequence(cy0, cy1),
                lambda cy: F.struct(cx.alias("cx"), cy.alias("cy")),
            ),
        )
    )


# --- DuckDB renderings of the same math for oracle SQL -------------------

def duckdb_crosstrack_m(y1: str, x1: str, y2: str, x2: str, py: str, px: str) -> str:
    """Integer-meter cross-track distance, structurally identical to the
    Spark expression so both engines compute the same IEEE doubles."""
    d13 = (
        f"2 * asin(sqrt(sin((radians({py}) - radians({y1})) / 2)"
        f" * sin((radians({py}) - radians({y1})) / 2)"
        f" + cos(radians({y1})) * cos(radians({py}))"
        f" * sin((radians({px}) - radians({x1})) / 2)"
        f" * sin((radians({px}) - radians({x1})) / 2)))"
    )
    b13 = (
        f"atan2(sin(radians({px}) - radians({x1})) * cos(radians({py})),"
        f" cos(radians({y1})) * sin(radians({py}))"
        f" - sin(radians({y1})) * cos(radians({py}))"
        f" * cos(radians({px}) - radians({x1})))"
    )
    b12 = (
        f"atan2(sin(radians({x2}) - radians({x1})) * cos(radians({y2})),"
        f" cos(radians({y1})) * sin(radians({y2}))"
        f" - sin(radians({y1})) * cos(radians({y2}))"
        f" * cos(radians({x2}) - radians({x1})))"
    )
    km = f"abs(asin(sin({d13}) * sin(({b13}) - ({b12}))) * {EARTH_RADIUS_KM})"
    return f"CAST(round(({km}) * 1000, 0) AS INTEGER)"
