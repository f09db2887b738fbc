"""Point-in-polygon (st_contains) join over the geo fixtures.

Polygons are deterministic non-convex 8-vertex stars derived from the
nation table with PURE RATIONAL arithmetic (no trig — cos/sin differ by
ulps across libm implementations, the same rule that bans log() from
oracle-checked outputs), so Spark and DuckDB construct bit-identical
vertices.  Containment is even-odd ray casting: for each directed edge,
a crossing iff the edge straddles the point's latitude and the point is
left of the edge at that latitude.  The division in the crossing test
is guarded by the straddle conjunct; when it would divide by zero both
engines yield NULL and the conjunction collapses to false identically.

Scale shape: the polygon side is tiny (one row per nation) and
broadcast; the point side streams. With a large polygon set the join
key becomes a grid cell exactly like operators/spatial_join.py — the
bbox prefilter here is the same logical predicate, just expressed as a
broadcast-nested-loop condition because 25 polygons never warrant a
shuffle.  The 8-term crossing sum is unrolled into plain codegen
expressions (no explode, no higher-order function, no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.sources.fixtures import DUCKDB_FIXTURE_CTES, house_numbers_df
from etl_addresses_spark.sources.tables import load_table

# unit star template (rational coordinates only)
STAR = [
    (1.0, 0.0),
    (0.35, 0.35),
    (0.0, 1.0),
    (-0.35, 0.35),
    (-1.0, 0.0),
    (-0.35, -0.35),
    (0.0, -1.0),
    (0.35, -0.35),
]
N_V = len(STAR)


def star_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One star polygon per nation, centered on a 5x5 grid over the
    fixture extent, radii varying per key; vertex columns x0..x7/y0..y7
    plus the bbox."""
    n = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    c_lat = F.lit(40.5) + (k % 5) * F.lit(0.1) + F.lit(0.05)
    # centers sit on the fixture street columns (0.01-degree spacing from
    # -74.298) so every SF's point range overlaps some polygons
    c_lon = F.lit(-74.3) + F.lit(0.002) + F.floor(k / F.lit(5.0)) * F.lit(0.01)
    rx = F.lit(0.008) + (k % 3) * F.lit(0.004)
    ry = F.lit(0.04) + (k % 4) * F.lit(0.01)
    cols = [k.alias("poly_id")]
    for i, (ux, uy) in enumerate(STAR):
        cols.append((c_lon + F.lit(ux) * rx).alias(f"x{i}"))
        cols.append((c_lat + F.lit(uy) * ry).alias(f"y{i}"))
    p = n.select(*cols)
    xs = [F.col(f"x{i}") for i in range(N_V)]
    ys = [F.col(f"y{i}") for i in range(N_V)]
    return p.select(
        "*",
        F.least(*xs).alias("xmin"),
        F.greatest(*xs).alias("xmax"),
        F.least(*ys).alias("ymin"),
        F.greatest(*ys).alias("ymax"),
    )


def _crossings(px: Column, py: Column) -> Column:
    total = F.lit(0)
    for i in range(N_V):
        j = (i + 1) % N_V
        x1, y1 = F.col(f"x{i}"), F.col(f"y{i}")
        x2, y2 = F.col(f"x{j}"), F.col(f"y{j}")
        straddles = (y1 > py) != (y2 > py)
        left_of = px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
        total = total + F.when(straddles & left_of, 1).otherwise(0)
    return total


def st_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(point_id, poly_id) for every fixture address point inside a
    star polygon: broadcast bbox prefilter, then exact even-odd test."""
    hn = house_numbers_df(spark, sf_dir).filter(
        (F.col("type") == "st:Address") & F.col("geometry").isNotNull()
    )
    pts = hn.select(
        F.col("id").alias("point_id"),
        F.col("geometry.coordinates").getItem(0).alias("px"),
        F.col("geometry.coordinates").getItem(1).alias("py"),
    )
    polys = star_polygons(spark, sf_dir)
    bbox = (
        (F.col("px") >= F.col("xmin"))
        & (F.col("px") <= F.col("xmax"))
        & (F.col("py") >= F.col("ymin"))
        & (F.col("py") <= F.col("ymax"))
    )
    cand = pts.join(F.broadcast(polys), bbox)
    return (
        cand.filter(_crossings(F.col("px"), F.col("py")) % 2 == 1)
        .select("point_id", "poly_id")
    )


def _sql_edge_terms() -> str:
    terms = []
    for i in range(N_V):
        j = (i + 1) % N_V
        terms.append(
            f"CASE WHEN ((y{i} > py) <> (y{j} > py)) AND "
            f"(px < (x{j} - x{i}) * (py - y{i}) / (y{j} - y{i}) + x{i}) "
            f"THEN 1 ELSE 0 END"
        )
    return " + ".join(terms)


def _sql_vertex_cols() -> str:
    cols = []
    for i, (ux, uy) in enumerate(STAR):
        cols.append(f"c_lon + {ux}e0 * rx AS x{i}")
        cols.append(f"c_lat + {uy}e0 * ry AS y{i}")
    return ",\n    ".join(cols)


_XS = ", ".join(f"x{i}" for i in range(N_V))
_YS = ", ".join(f"y{i}" for i in range(N_V))

ST_CONTAINS_SQL = f"""
WITH {DUCKDB_FIXTURE_CTES.strip()},
centers AS (
  SELECT n_nationkey AS poly_id,
    40.5e0 + (n_nationkey % 5) * 0.1e0 + 0.05e0 AS c_lat,
    -74.3e0 + 0.002e0 + floor(n_nationkey / 5.0e0) * 0.01e0 AS c_lon,
    0.008e0 + (n_nationkey % 3) * 0.004e0 AS rx,
    0.04e0 + (n_nationkey % 4) * 0.01e0 AS ry
  FROM nation
),
poly AS (
  SELECT poly_id,
    {_sql_vertex_cols()}
  FROM centers
),
polyb AS (
  SELECT *, least({_XS}) AS xmin, greatest({_XS}) AS xmax,
            least({_YS}) AS ymin, greatest({_YS}) AS ymax
  FROM poly
),
pts AS (
  SELECT id AS point_id, pt_lon AS px, pt_lat AS py
  FROM fx_hn WHERE type = 'st:Address' AND NOT geom_is_null
)
SELECT point_id, poly_id
FROM pts JOIN polyb
  ON px >= xmin AND px <= xmax AND py >= ymin AND py <= ymax
WHERE ({_sql_edge_terms()}) % 2 = 1
"""


QUERIES = {
    "st_contains_join": (st_contains_join, ST_CONTAINS_SQL),
}
