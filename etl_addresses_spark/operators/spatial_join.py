"""The flagship operator: spatio-temporal nearest-neighbor join.

Semantics (parity with /root/reference/addresses.js `infer`,
lines 44-161): for every house-number Point of type 'st:Address' with
non-null geometry, find the nearest street segment whose cross-track
distance (rounded to integer meters) is < 25 m and whose fuzzy-date
validity interval, widened by ±15 flat years (ms math), contains the
house number's interval; emit a matched address record, or an error
record when no candidate survives (left-outer semantics,
addresses.js:88-114).

Physical strategy — Spark-first, no R-tree (addresses.js:61-63,151-153
replaced):

* **grid** (default, the 100 TB path): every segment is assigned each
  grid cell its ε-expanded bbox touches (ε ≥ the 25 m cutoff) and the
  segments are grouped into a cell-keyed index, one row per cell.
  Every point takes its single containing cell, and ONE left equi-join
  on cell id attaches that cell's segment list to the house-number
  row — Catalyst broadcasts the index when it is small and
  shuffle-joins it otherwise.  Because ε ≥ cutoff, every segment within
  25 m of a point is in that point's cell, so the list is a superset
  of all surviving matches and the argmin is EXACT (SURVEY.md §4.3).
  The house numbers are scanned once and never shuffled in the
  broadcast tier.
* **reference_knn / reference_knn_grid**: STRICT reference-parity
  candidates ranked by windows, so these emit candidate rows and take
  a `min(struct)` groupBy joined back to the house numbers.

The grid argmin (addresses.js:83-90) is computed inside the
house-number row: `array_min` over the structs
(distance, streetId, seg_index, streetName) of the list's segments that
pass the bbox and temporal filter and then the 25 m cutoff.  The trig
runs only on the filter's survivors, and lexicographic struct ordering
gives min-by-(distance, streetId, seg_index) with a DETERMINISTIC
tie-break (the reference's tie-break is index-order-dependent,
SURVEY.md §5).  The argmin is per row where the oracle's is per
houseNumberId; the two agree because house-number ids are unique.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_addresses_spark.config import (
    DATASET_HOUSE_NUMBERS,
    DATASET_STREETS,
    MAX_DISTANCE_M,
    MS_THRESHOLD,
    YEAR_THRESHOLD,
)
from etl_addresses_spark.functions.dates import fuzzy_earliest_ms, fuzzy_latest_ms
from etl_addresses_spark.functions.geo import (
    BBOX_EPS_DEG,
    crosstrack_m_rounded,
    explode_segments,
    point_cell,
    segment_cells,
)
from etl_addresses_spark.functions.ids import full_id, internal_id

ERROR_MESSAGE = (
    f"Can't find street within {MAX_DISTANCE_M} meters and {YEAR_THRESHOLD} years"
)


def _prepare_house_numbers(house_numbers: DataFrame) -> DataFrame:
    """P1/P2 filters + probe-side derived columns (addresses.js:50-52,67-68)."""
    hn = house_numbers.filter(
        (F.col("type") == "st:Address") & F.col("geometry").isNotNull()
    )
    return hn.select(
        internal_id(F.col("id")).alias("hn_internal_id"),
        full_id(DATASET_HOUSE_NUMBERS, F.col("id")).alias("houseNumberId"),
        F.col("validSince").alias("hn_validSince"),
        F.col("validUntil").alias("hn_validUntil"),
        F.col("data").alias("addressData"),
        F.col("geometry").alias("addressGeometry"),
        F.col("geometry.coordinates").getItem(0).alias("pt_lon"),
        F.col("geometry.coordinates").getItem(1).alias("pt_lat"),
        fuzzy_earliest_ms(F.col("validSince")).alias("addr_since_ms"),
        fuzzy_latest_ms(F.col("validUntil")).alias("addr_until_ms"),
    )


def _prepare_segments(streets: DataFrame) -> DataFrame:
    """P3 filter + F9 segment explode + build-side derived columns
    (addresses.js:125-137), properties minus geometry (P6)."""
    segs = explode_segments(streets.filter(F.col("geometry").isNotNull()))
    return segs.select(
        full_id(DATASET_STREETS, F.col("id")).alias("streetId"),
        F.col("name").alias("streetName"),
        F.col("seg_index"),
        F.col("seg_lon1"),
        F.col("seg_lat1"),
        F.col("seg_lon2"),
        F.col("seg_lat2"),
        (fuzzy_earliest_ms(F.col("validSince")) - F.lit(MS_THRESHOLD)).alias(
            "seg_since_ms"
        ),
        (fuzzy_latest_ms(F.col("validUntil")) + F.lit(MS_THRESHOLD)).alias(
            "seg_until_ms"
        ),
    )


def _in_bbox(seg) -> Column:
    """The point lies inside the segment's ε-expanded bbox (the
    reference R-tree's `search` probe, addresses.js:61).  `seg` maps a
    segment field name to its Column, so the same predicate serves
    candidate rows (`F.col`) and the index's lambda structs.

    Deliberate deviation from the reference (documented, SURVEY.md §4.3
    edge note): the reference ALSO feeds the 10 index-nearest segments
    as candidates (addresses.js:62).  Because `turf.crosstrack` measures
    distance to the segment's INFINITE great circle, that fallback can
    "match" a far-away collinear segment (e.g. the same street row one
    grid column over, hundreds of meters away, crosstrack ≈ 0).  We
    exclude those degenerate matches: a candidate must be spatially near
    the point (within ε ≈ 45-55 m), not merely near its great circle.
    """
    eps = F.lit(BBOX_EPS_DEG)
    lon, lat = F.col("pt_lon"), F.col("pt_lat")
    return (
        (lon >= F.least(seg("seg_lon1"), seg("seg_lon2")) - eps)
        & (lon <= F.greatest(seg("seg_lon1"), seg("seg_lon2")) + eps)
        & (lat >= F.least(seg("seg_lat1"), seg("seg_lat2")) - eps)
        & (lat <= F.greatest(seg("seg_lat1"), seg("seg_lat2")) + eps)
    )


def _in_time(seg) -> Column:
    """The ±15-year widened segment interval contains the house
    number's (addresses.js:66-74)."""
    return (seg("seg_since_ms") <= F.col("addr_since_ms")) & (
        seg("seg_until_ms") >= F.col("addr_until_ms")
    )


def _distance(seg) -> Column:
    return crosstrack_m_rounded(
        seg("seg_lat1"),
        seg("seg_lon1"),
        seg("seg_lat2"),
        seg("seg_lon2"),
        F.col("pt_lat"),
        F.col("pt_lon"),
    )


def _ranked(distance: Column, seg) -> Column:
    """The argmin key: lexicographic struct order is min-by-(distance,
    streetId, seg_index), a deterministic tie-break."""
    return F.struct(
        distance.alias("distance"),
        seg("streetId").alias("streetId"),
        seg("seg_index").alias("seg_index"),
        seg("streetName").alias("streetName"),
    )


def _best_columns() -> list[Column]:
    """The output's match columns, unpacked from the `best` key."""
    return [
        F.col("best.distance").alias("lineLength"),
        F.col("best.streetId").alias("streetId"),
        F.col("best.streetName").alias("streetName"),
    ]


def _segment_cells(segs: DataFrame) -> DataFrame:
    """One row per (segment, grid cell its ε-expanded bbox touches)."""
    return segs.withColumn(
        "cell",
        F.explode(
            segment_cells(
                F.col("seg_lat1"),
                F.col("seg_lon1"),
                F.col("seg_lat2"),
                F.col("seg_lon2"),
            )
        ),
    )


def _segment_index(segs: DataFrame) -> DataFrame:
    """The grid index: one row per cell, holding every segment whose
    ε-expanded bbox touches that cell."""
    # Keyed by point_cell's type (nullable fields): with the analyzer's
    # key cast gone, the shuffle join reuses the aggregate's hash
    # partitioning instead of shuffling the whole index a second time.
    return (
        _segment_cells(segs)
        .groupBy(F.col("cell").cast("struct<cx:bigint,cy:bigint>").alias("cell"))
        .agg(F.collect_list(F.struct(*segs.columns)).alias("segs"))
    )


def _match_in_row(hn: DataFrame, segs: DataFrame) -> DataFrame:
    """Every house number, once, with `segs` (the segments of its grid
    cell) and the argmin over them."""
    # Left equi-join on the point's cell: Catalyst picks broadcast-hash
    # when the index is small, shuffle-hash/sort-merge otherwise; AQE
    # splits skewed cells (dense urban areas).
    cells = hn.withColumn("cell", point_cell(F.col("pt_lat"), F.col("pt_lon")))
    probed = cells.join(_segment_index(segs), "cell", "left")
    # Cheap-before-expensive cascade (addresses.js:66-82): the trig
    # runs only on the bbox+temporal survivors of the inner filter.
    near = F.filter("segs", lambda s: _in_bbox(s.getField) & _in_time(s.getField))
    scored = F.transform(near, lambda s: _ranked(_distance(s.getField), s.getField))
    best = F.array_min(F.filter(scored, lambda c: c["distance"] < MAX_DISTANCE_M))
    # The oracle joins the argmin back USING (houseNumberId), which a
    # NULL id never satisfies: such a house number stays unmatched.
    best = F.when(F.col("houseNumberId").isNotNull(), best)
    return probed.withColumn("best", best).select(*hn.columns, *_best_columns())


def _match_by_candidates(hn: DataFrame, segs: DataFrame, strategy: str) -> DataFrame:
    """The kNN strategies rank candidate rows with windows, so their
    argmin is a groupBy over those rows, joined back to the house
    numbers."""
    if strategy == "reference_knn":
        cand = _reference_knn_candidates(hn, segs)
    elif strategy == "reference_knn_grid":
        cand = _reference_knn_candidates_grid(hn, segs)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    # Temporal (long compares) before the trig; the windows below
    # both filters keep Catalyst from pushing either into a join.
    cand = cand.filter(_in_time(F.col))
    cand = cand.withColumn("distance", _distance(F.col)).filter(
        F.col("distance") < MAX_DISTANCE_M
    )
    best = (
        cand.groupBy("houseNumberId")
        .agg(F.min(_ranked(F.col("distance"), F.col)).alias("best"))
        .select("houseNumberId", *_best_columns())
    )
    return hn.join(best, "houseNumberId", "left")


def _reference_knn_candidates(hn: DataFrame, segs: DataFrame) -> DataFrame:
    """STRICT reference-parity candidate semantics (addresses.js:61-63):
    `search` (exact bbox containment, no ε) ∪ `nearest(10)` (the 10
    nearest segments by planar point-to-bbox distance — what an R-tree
    kNN compares).  Unlike the default bbox semantics this can match a
    FAR-AWAY collinear segment whose infinite great circle passes within
    25 m of the point, exactly as the reference does.

    Physical shape is a ranked broadcast cross join — a validation mode,
    deliberately not the scale path (the rank is O(points x segments));
    the deterministic (boxdist, streetId, seg_index) tie-break stands in
    for the reference's index-insertion order."""
    from pyspark.sql import Window as W

    from etl_addresses_spark.config import KNN_FANOUT

    pairs = hn.crossJoin(F.broadcast(segs))
    boxdist2, bbox_hit = _knn_pair_metrics(pairs)
    w = W.partitionBy("houseNumberId").orderBy(
        boxdist2.asc(), F.col("streetId").asc(), F.col("seg_index").asc()
    )
    return (
        pairs.withColumn("_knn_rank", F.row_number().over(w))
        .filter(bbox_hit | (F.col("_knn_rank") <= KNN_FANOUT))
        .drop("_knn_rank")
    )


def _knn_pair_metrics(pairs: DataFrame):
    """(boxdist², exact-bbox-hit) shared by both kNN strategies —
    identical expressions so the grid variant provably computes the
    same ordering the cross-join validation mode does."""
    minx = F.least(F.col("seg_lon1"), F.col("seg_lon2"))
    maxx = F.greatest(F.col("seg_lon1"), F.col("seg_lon2"))
    miny = F.least(F.col("seg_lat1"), F.col("seg_lat2"))
    maxy = F.greatest(F.col("seg_lat1"), F.col("seg_lat2"))
    dx = F.greatest(minx - F.col("pt_lon"), F.col("pt_lon") - maxx, F.lit(0.0))
    dy = F.greatest(miny - F.col("pt_lat"), F.col("pt_lat") - maxy, F.lit(0.0))
    boxdist2 = dx * dx + dy * dy
    bbox_hit = (
        (F.col("pt_lon") >= minx)
        & (F.col("pt_lon") <= maxx)
        & (F.col("pt_lat") >= miny)
        & (F.col("pt_lat") <= maxy)
    )
    return boxdist2, bbox_hit


def _grid_knn_local(hn: DataFrame, segs: DataFrame) -> DataFrame:
    """The grid-kNN's deduped block-local candidate set — ONE row per
    (point, segment) whose segment is indexed in the point's 5x5 cell
    neighborhood.  Shared by `_reference_knn_candidates_grid` and the
    escalation-residue census (tools/knn_residue.py) so the census
    always measures exactly the production candidate pipeline.

    The repartition on houseNumberId makes ONE exchange serve both
    the dedup (HashPartitioning on a subset satisfies the 3-key
    ClusteredDistribution) and the per-point rank/nsafe windows
    downstream — without it the plan shuffles the wide candidate rows
    twice (measured 8.9 -> 5.3 s alone at sf0.1; 48.6 -> 27.2 s at
    10x).  Skew bound: one partition key = one point's candidates,
    capped by its 25-cell neighborhood's segment count."""
    from etl_addresses_spark.functions.geo import point_neighbor_cells

    probes = hn.withColumn(
        "cell", F.explode(point_neighbor_cells(F.col("pt_lat"), F.col("pt_lon")))
    )
    # A segment indexed in several block cells would appear per cell:
    # dedup to one candidate row per (point, segment) before ranking.
    return (
        probes.join(_segment_cells(segs), "cell")
        .drop("cell")
        .repartition("houseNumberId")
        .dropDuplicates(["houseNumberId", "streetId", "seg_index"])
    )


def _reference_knn_candidates_grid(hn: DataFrame, segs: DataFrame) -> DataFrame:
    """Grid-prefiltered STRICT reference-parity kNN — same output as
    `_reference_knn_candidates`, scale-safe physical plan.

    Each point probes its 5x5 grid-cell neighborhood (equi-join on cell
    id, 25x probe fan-out — no cross join).  A segment NOT indexed in
    that block has planar bbox distance >= 2·GRID_CELL_DEG from the
    point (geo.point_neighbor_cells), so when a point sees >= KNN_FANOUT
    local candidates STRICTLY inside that radius, its block-local
    (boxdist, streetId, seg_index) top-k is provably the global top-k —
    and exact bbox-containment hits are always block-local (a containing
    bbox overlaps the point's own cell).  The rare points that don't
    reach the bound (sparse regions, block edges) fall back to the
    ranked broadcast cross join — but only for that residue, so the
    O(points x segments) term is bounded by a small escalation set
    instead of the whole input."""
    from pyspark.sql import Window as W

    from etl_addresses_spark.config import GRID_CELL_DEG, KNN_FANOUT

    local = _grid_knn_local(hn, segs)
    boxdist2, bbox_hit = _knn_pair_metrics(local)
    w = W.partitionBy("houseNumberId")
    worder = w.orderBy(
        boxdist2.asc(), F.col("streetId").asc(), F.col("seg_index").asc()
    )
    safe2 = F.lit((2.0 * GRID_CELL_DEG) ** 2)
    ranked = (
        local.withColumn("_bbox_hit", bbox_hit)
        .withColumn("_boxdist2", boxdist2)
        .withColumn("_rank", F.row_number().over(worder))
        .withColumn(
            "_nsafe",
            F.sum(F.when(F.col("_boxdist2") < safe2, 1).otherwise(0)).over(w),
        )
    )
    safe_rows = ranked.filter(F.col("_nsafe") >= KNN_FANOUT)
    out_local = safe_rows.filter(
        F.col("_bbox_hit") | (F.col("_rank") <= KNN_FANOUT)
    ).drop("_bbox_hit", "_boxdist2", "_rank", "_nsafe")
    # Escalation residue: points without KNN_FANOUT provably-complete
    # local candidates (includes points with zero local candidates).
    escalated = hn.join(
        safe_rows.select("houseNumberId").distinct(), "houseNumberId", "left_anti"
    )
    return out_local.unionByName(_reference_knn_candidates(escalated, segs))


def infer_addresses(
    house_numbers: DataFrame,
    streets: DataFrame,
    strategy: str = "grid",
) -> DataFrame:
    """Full infer step: returns the `inferred` DataFrame — one row per
    surviving house number, matched columns or `error` populated
    (schema parity with FIXTURES.md §A3, addresses.js:95-114)."""
    hn = _prepare_house_numbers(house_numbers)
    segs = _prepare_segments(streets)

    if strategy == "grid":
        joined = _match_in_row(hn, segs)
    else:
        joined = _match_by_candidates(hn, segs, strategy)

    # Unmatched house numbers become error records
    # (addresses.js:88,107-114).
    matched = F.col("streetId").isNotNull()
    return joined.select(
        F.when(matched, F.col("hn_internal_id")).alias("id"),
        # concat (not concat_ws): propagates NULL like the oracle's
        # `number || ' ' || streetName`.  A NULL house number yields a
        # NULL name on both sides — chosen over the reference's literal
        # "undefined <street>" rendering of a JS undefined.
        F.when(
            matched,
            F.concat(
                F.col("addressData.number"), F.lit(" "), F.col("streetName")
            ),
        ).alias("name"),
        F.col("houseNumberId"),
        F.col("streetId"),
        F.when(matched, F.col("hn_validSince")).alias("validSince"),
        F.when(matched, F.col("hn_validUntil")).alias("validUntil"),
        F.col("streetName"),
        F.col("addressData"),
        F.col("lineLength"),
        F.col("addressGeometry"),
        F.when(~matched, F.lit(ERROR_MESSAGE)).alias("error"),
    )


def infer_addresses_observed(
    house_numbers: DataFrame,
    streets: DataFrame,
    strategy: str = "grid",
):
    """infer_addresses plus an Observation — the A1 progress counter
    (addresses.js:49-59) done the Spark way: metrics collected by the
    executors during the job, no side-effect logging in the data path.

    Returns (inferred_df, observation); after an action,
    `observation.get` holds processed/matched/unmatched counts."""
    from pyspark.sql import Observation

    obs = Observation("infer_addresses")
    inferred = infer_addresses(house_numbers, streets, strategy=strategy)
    observed = inferred.observe(
        obs,
        F.count(F.lit(1)).alias("processed"),
        F.count("streetId").alias("matched"),
        F.count("error").alias("unmatched"),
    )
    return observed, obs


def inferred_flat(inferred: DataFrame) -> DataFrame:
    """Flat projection of the inferred output for the DuckDB oracle
    (nested structs/geometry unfolded into scalar columns)."""
    return inferred.select(
        "id",
        "name",
        "houseNumberId",
        "streetId",
        "validSince",
        "validUntil",
        "streetName",
        "lineLength",
        "error",
        F.col("addressData.sheetId").alias("sheetId"),
        F.col("addressData.layerId").alias("layerId"),
        F.col("addressData.mapId").alias("mapId"),
        F.col("addressData.number").alias("number"),
        F.col("addressData.borough").alias("borough"),
    )
