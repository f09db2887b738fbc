"""Property-based tests (hypothesis) for the scalar function layer.

Examples are generated in batches and evaluated through one Spark job
per property (per-example Spark jobs would be prohibitively slow), with
plain-Python reference implementations as the oracle.
"""

from __future__ import annotations

import calendar
import datetime as dt

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_addresses_spark.functions.dates import fuzzy_earliest_ms, fuzzy_latest_ms
from etl_addresses_spark.functions.ids import full_id, internal_id

YEARS = st.integers(min_value=1700, max_value=2100)
MONTHS = st.integers(min_value=1, max_value=12)


@st.composite
def fuzzy_dates(draw):
    y = draw(YEARS)
    kind = draw(st.integers(0, 2))
    if kind == 0:
        return f"{y:04d}"
    m = draw(MONTHS)
    if kind == 1:
        return f"{y:04d}-{m:02d}"
    d = draw(st.integers(1, calendar.monthrange(y, m)[1]))
    return f"{y:04d}-{m:02d}-{d:02d}"


def _py_earliest_ms(s: str) -> int:
    if len(s) == 4:
        d = dt.date(int(s), 1, 1)
    elif len(s) == 7:
        d = dt.date(int(s[:4]), int(s[5:7]), 1)
    else:
        d = dt.date.fromisoformat(s)
    epoch = dt.date(1970, 1, 1)
    return (d - epoch).days * 86400000


def _py_latest_ms(s: str) -> int:
    if len(s) == 4:
        d = dt.date(int(s), 12, 31)
    elif len(s) == 7:
        y, m = int(s[:4]), int(s[5:7])
        d = dt.date(y, m, calendar.monthrange(y, m)[1])
    else:
        d = dt.date.fromisoformat(s)
    epoch = dt.date(1970, 1, 1)
    return (d - epoch).days * 86400000


@settings(max_examples=10, deadline=None)
@given(st.lists(fuzzy_dates(), min_size=1, max_size=50))
def test_fuzzy_date_ms_matches_python_reference(spark, dates):
    df = spark.createDataFrame([(d,) for d in dates], ["d"])
    rows = df.select(
        "d",
        fuzzy_earliest_ms(F.col("d")).alias("lo"),
        fuzzy_latest_ms(F.col("d")).alias("hi"),
    ).collect()
    for r in rows:
        assert r.lo == _py_earliest_ms(r.d), r.d
        assert r.hi == _py_latest_ms(r.d), r.d
        assert r.lo <= r.hi


IDS = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd")), min_size=1, max_size=12
)


@settings(max_examples=10, deadline=None)
@given(st.lists(IDS, min_size=1, max_size=50), IDS)
def test_id_qualify_roundtrip(spark, ids, dataset):
    df = spark.createDataFrame([(i,) for i in ids], ["id"])
    rows = df.select(
        "id",
        full_id(dataset, F.col("id")).alias("full"),
        internal_id(full_id(dataset, F.col("id"))).alias("back"),
    ).collect()
    for r in rows:
        # qualify is idempotent-prefixing; internal_id inverts it
        assert r.full == f"{dataset}/{r.id}"
        assert r.back == r.id


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(-179.0, 179.0),  # seg lon1
            st.floats(-80.0, 80.0),  # seg lat1
            st.floats(-0.05, 0.05),  # dlon to seg end
            st.floats(-0.05, 0.05),  # dlat to seg end
            st.floats(-0.01, 0.01),  # point offset lon
            st.floats(-0.01, 0.01),  # point offset lat
        ),
        min_size=1,
        max_size=30,
    )
)
def test_crosstrack_matches_python_reference(spark, cases):
    import math

    from etl_addresses_spark.config import EARTH_RADIUS_KM
    from etl_addresses_spark.functions.geo import crosstrack_km

    def py_crosstrack(y1, x1, y2, x2, py, px):
        def rad(v):
            return math.radians(v)

        def bearing(aY, aX, bY, bX):
            dlon = rad(bX) - rad(aX)
            return math.atan2(
                math.sin(dlon) * math.cos(rad(bY)),
                math.cos(rad(aY)) * math.sin(rad(bY))
                - math.sin(rad(aY)) * math.cos(rad(bY)) * math.cos(dlon),
            )

        dphi = rad(py) - rad(y1)
        dlon = rad(px) - rad(x1)
        a = (
            math.sin(dphi / 2) ** 2
            + math.cos(rad(y1)) * math.cos(rad(py)) * math.sin(dlon / 2) ** 2
        )
        d13 = 2 * math.asin(math.sqrt(a))
        b13 = bearing(y1, x1, py, px)
        b12 = bearing(y1, x1, y2, x2)
        return abs(math.asin(math.sin(d13) * math.sin(b13 - b12)) * EARTH_RADIUS_KM)

    rows = [
        (x1, y1, x1 + dx, y2i, x1 + ox, y1 + oy)
        for (x1, y1, dx, dy, ox, oy) in cases
        for y2i in [y1 + dy]
        if abs(dx) + abs(dy) > 1e-9  # degenerate zero-length segments excluded
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "x1 double, y1 double, x2 double, y2 double, px double, py double"
    )
    from pyspark.sql import functions as F

    got = df.select(
        "*",
        crosstrack_km(
            F.col("y1"), F.col("x1"), F.col("y2"), F.col("x2"), F.col("py"), F.col("px")
        ).alias("km"),
    ).collect()
    for r in got:
        want = py_crosstrack(r.y1, r.x1, r.y2, r.x2, r.py, r.px)
        assert abs(r.km - want) <= max(1e-9, 1e-9 * abs(want)), (
            r.y1, r.x1, r.y2, r.x2, r.py, r.px
        )


# --- blocked fuzzy match losslessness --------------------------------------

NAME_ALPHA = "abcde"


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=14), min_size=1,
             max_size=8, unique=True),
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=14), min_size=1,
             max_size=12, unique=True),
)
@settings(max_examples=12, deadline=None)
def test_fuzzy_blocked_matches_bruteforce_reference(spark, s_names, c_names):
    """Losslessness of the length-band blocking on names of VARYING
    length (where the band genuinely prunes): the blocked Spark plan
    must return exactly the brute-force threshold-argmin, computed by
    a plain-Python levenshtein over all pairs."""
    from etl_addresses_spark.operators.fuzzy import (
        FUZZY_MAX_DIST,
        fuzzy_match_blocked_for,
    )

    s_df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(s_names)], "s_suppkey long, s_name string"
    )
    c_df = spark.createDataFrame(
        [(j, n) for j, n in enumerate(c_names)], "c_custkey long, c_name string"
    )
    got = {
        r.s_suppkey: (r.c_custkey, r.c_name, r.dist)
        for r in fuzzy_match_blocked_for(s_df, c_df).collect()
    }
    for i, sn in enumerate(s_names):
        cands = sorted(
            (_py_levenshtein(sn, cn), j, cn) for j, cn in enumerate(c_names)
        )
        dist, j, cn = cands[0]
        if dist <= FUZZY_MAX_DIST:
            assert got[i] == (j, cn, dist), (sn, cands[:3], got.get(i))
        else:
            assert i not in got, (sn, cands[:3], got.get(i))


@given(
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=14), min_size=1,
             max_size=8, unique=True),
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=14), min_size=1,
             max_size=12, unique=True),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=12, deadline=None)
def test_fuzzy_passjoin_matches_bruteforce_reference(
    spark, s_names, c_names, d
):
    """Losslessness of the PassJoin segment pigeonhole at several
    thresholds: whatever segment windows the probe generates, the
    final answer must be exactly the brute-force threshold-argmin —
    the tiny 5-letter alphabet maximizes both collisions (stress on
    the verify) and near-matches (stress on losslessness)."""
    from etl_addresses_spark.operators.fuzzy import fuzzy_match_passjoin_for

    s_df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(s_names)], "s_suppkey long, s_name string"
    )
    c_df = spark.createDataFrame(
        [(j, n) for j, n in enumerate(c_names)], "c_custkey long, c_name string"
    )
    got = {
        r.s_suppkey: (r.c_custkey, r.c_name, r.dist)
        for r in fuzzy_match_passjoin_for(s_df, c_df, d=d).collect()
    }
    for i, sn in enumerate(s_names):
        cands = sorted(
            (_py_levenshtein(sn, cn), j, cn) for j, cn in enumerate(c_names)
        )
        dist, j, cn = cands[0]
        if dist <= d:
            assert got[i] == (j, cn, dist), (d, sn, cands[:3], got.get(i))
        else:
            assert i not in got, (d, sn, cands[:3], got.get(i))


@given(
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=14), min_size=1,
             max_size=8, unique=True),
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=14), min_size=1,
             max_size=12, unique=True),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=12, deadline=None)
def test_fuzzy_dense_matches_bruteforce_reference(spark, s_names, c_names, d):
    """Losslessness of the dense tier's charset-mask prefilter and
    packed-long argmin fold: the mask bound (a unit edit changes
    character presence by <= 2) must never prune a true match, and the
    bit-packing must preserve the (dist, key, name) tie-break — so the
    answer must equal the brute-force threshold-argmin exactly."""
    from etl_addresses_spark.operators.fuzzy import fuzzy_match_dense_for

    s_df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(s_names)], "s_suppkey long, s_name string"
    )
    c_df = spark.createDataFrame(
        [(j, n) for j, n in enumerate(c_names)], "c_custkey long, c_name string"
    )
    got = {
        r.s_suppkey: (r.c_custkey, r.c_name, r.dist)
        for r in fuzzy_match_dense_for(s_df, c_df, d=d).collect()
    }
    for i, sn in enumerate(s_names):
        cands = sorted(
            (_py_levenshtein(sn, cn), j, cn) for j, cn in enumerate(c_names)
        )
        dist, j, cn = cands[0]
        if dist <= d:
            assert got[i] == (j, cn, dist), (d, sn, cands[:3], got.get(i))
        else:
            assert i not in got, (d, sn, cands[:3], got.get(i))


@given(
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=14), min_size=1,
             max_size=6, unique=True),
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=14), min_size=1,
             max_size=10, unique=True),
    st.integers(min_value=7, max_value=9),
)
@settings(max_examples=6, deadline=None)
def test_fuzzy_dense_guard_beyond_pack_range(spark, s_names, c_names, d):
    """r8 guard (r7 advice item 1): d > DENSE_MAX_DIST cannot use the
    3-bit packed dist field (-1 sentinel aliases 7; d > 7 truncates
    mod 8), so `fuzzy_match_dense_for` must STILL return the exact
    brute-force threshold-argmin via the band-tier fallback — the
    regime the old property tests (capped at d=6) never reached."""
    from etl_addresses_spark.operators.fuzzy import fuzzy_match_dense_for

    s_df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(s_names)], "s_suppkey long, s_name string"
    )
    c_df = spark.createDataFrame(
        [(j, n) for j, n in enumerate(c_names)], "c_custkey long, c_name string"
    )
    got = {
        r.s_suppkey: (r.c_custkey, r.c_name, r.dist)
        for r in fuzzy_match_dense_for(s_df, c_df, d=d).collect()
    }
    for i, sn in enumerate(s_names):
        cands = sorted(
            (_py_levenshtein(sn, cn), j, cn) for j, cn in enumerate(c_names)
        )
        dist, j, cn = cands[0]
        if dist <= d:
            assert got[i] == (j, cn, dist), (d, sn, cands[:3], got.get(i))
        else:
            assert i not in got, (d, sn, cands[:3], got.get(i))


@given(
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=10), min_size=1,
             max_size=5, unique=True),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.text(NAME_ALPHA, min_size=1, max_size=10),
        ),
        min_size=1, max_size=10,
        unique_by=lambda t: t[1],
    ),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=8, deadline=None)
def test_fuzzy_dense_duplicate_keys_keep_band_tie_break(
    spark, s_names, c_pairs, d
):
    """r8 fix (r7 advice item 2): with DUPLICATE c_custkey values the
    dense tier's name recovery must verify the recovered pair's
    distance before the min(c_name) tie-break, so its answer stays
    identical to the band tier's min(struct(dist, key, name)) — keys
    here are drawn from {0,1,2} so collisions are the common case."""
    from etl_addresses_spark.operators.fuzzy import (
        fuzzy_match_blocked_for,
        fuzzy_match_dense_for,
    )

    s_df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(s_names)], "s_suppkey long, s_name string"
    )
    c_df = spark.createDataFrame(
        list(c_pairs), "c_custkey long, c_name string"
    )
    dense = {
        r.s_suppkey: (r.c_custkey, r.c_name, r.dist)
        for r in fuzzy_match_dense_for(s_df, c_df, d=d).collect()
    }
    band = {
        r.s_suppkey: (r.c_custkey, r.c_name, r.dist)
        for r in fuzzy_match_blocked_for(s_df, c_df, d=d).collect()
    }
    assert dense == band, (d, dense, band)


@given(
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=30), min_size=1,
             max_size=6, unique=True),
    st.lists(st.text(NAME_ALPHA, min_size=1, max_size=30), min_size=1,
             max_size=10, unique=True),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=8, deadline=None)
def test_fuzzy_auto_dispatcher_matches_bruteforce_reference(
    spark, s_names, c_names, d
):
    """End-to-end seam check of the PRODUCT dispatcher: whatever tier
    `fuzzy_match_auto_for` picks (the estimator jobs + tier rule +
    chosen plan, together), the answer must be exactly the brute-force
    threshold-argmin — name lengths up to 30 chars make different
    examples land in different tiers."""
    from etl_addresses_spark.operators.fuzzy import fuzzy_match_auto_for

    s_df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(s_names)], "s_suppkey long, s_name string"
    )
    c_df = spark.createDataFrame(
        [(j, n) for j, n in enumerate(c_names)], "c_custkey long, c_name string"
    )
    got = {
        r.s_suppkey: (r.c_custkey, r.c_name, r.dist)
        for r in fuzzy_match_auto_for(s_df, c_df, d=d).collect()
    }
    for i, sn in enumerate(s_names):
        cands = sorted(
            (_py_levenshtein(sn, cn), j, cn) for j, cn in enumerate(c_names)
        )
        dist, j, cn = cands[0]
        if dist <= d:
            assert got[i] == (j, cn, dist), (d, sn, cands[:3], got.get(i))
        else:
            assert i not in got, (d, sn, cands[:3], got.get(i))


@given(
    st.text("abcXY012", min_size=0, max_size=12),
    st.text("abcXY012", min_size=0, max_size=12),
)
@settings(max_examples=300, deadline=None)
def test_charset_mask_bound_is_a_valid_levenshtein_lower_bound(a, b):
    """The dense fuzzy tier's prefilter math, pinned as pure algebra:
    a unit edit changes the character-presence set by at most 2, so
    |presence(a) XOR presence(b)| <= 2 * lev(a, b) — the Spark-side
    popcount filter can therefore never prune a true match, for ANY
    char->bit mapping (collisions only shrink the left side)."""
    lev = _py_levenshtein(a, b)
    diff = len(set(a) ^ set(b))
    assert diff <= 2 * lev, (a, b, lev, diff)
    # and under a lossy 8-bucket mapping (collision regime)
    diff_lossy = len({ord(c) % 8 for c in a} ^ {ord(c) % 8 for c in b})
    assert diff_lossy <= 2 * lev, (a, b, lev, diff_lossy)
