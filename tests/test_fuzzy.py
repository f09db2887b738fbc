"""Edit-distance join tiers checked against the all-pairs baseline and
an independent Python levenshtein."""

from __future__ import annotations

from conftest import SF_ORACLE, assert_frames_match

from etl_addresses_spark.operators.fuzzy import (
    TITLE_MAX_DIST,
    TITLE_WORDS,
    FUZZY_TITLE_PASSJOIN_SQL,
    fuzzy_title_match_passjoin,
)


def test_fuzzy_blocked_agrees_with_all_pairs_within_threshold(spark):
    """Losslessness of the tiered dispatcher vs the definitional
    all-pairs argmin ON THE SAME (hash-sampled) frames: wherever the
    global argmin lies within FUZZY_MAX_DIST, the dispatcher must
    return exactly the all-pairs row (on this fixture every supplier's
    min distance is 5 <= 6, so the two results are identical).  Both
    sides consume the `fuzzy_name_match` sample so the property holds
    on exactly the subset the registered validation row checks."""
    from etl_addresses_spark.operators.fuzzy import (
        FUZZY_ALLPAIRS_C_CAP,
        FUZZY_ALLPAIRS_S_CAP,
        FUZZY_MAX_DIST,
        _hash_sample,
        fuzzy_match_allpairs_for,
        fuzzy_match_auto_for,
    )
    from etl_addresses_spark.sources.tables import load_table

    s = _hash_sample(
        load_table(spark, SF_ORACLE, "supplier").select("s_suppkey", "s_name"),
        "s_suppkey",
        FUZZY_ALLPAIRS_S_CAP,
    )
    c = _hash_sample(
        load_table(spark, SF_ORACLE, "customer").select("c_custkey", "c_name"),
        "c_custkey",
        FUZZY_ALLPAIRS_C_CAP,
    )
    full = {
        r.s_suppkey: tuple(r)
        for r in fuzzy_match_allpairs_for(s, c).collect()
    }
    assert full  # the sample must not be empty
    blocked = {
        r.s_suppkey: tuple(r)
        for r in fuzzy_match_auto_for(s, c).collect()
    }
    assert blocked
    for k, row in blocked.items():
        assert row == full[k]
    # every all-pairs winner within the threshold must appear
    for k, row in full.items():
        if row[4] <= FUZZY_MAX_DIST:
            assert k in blocked


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fuzzy_title_passjoin_matches_brute_force(spark, ddb):
    docs = ddb.sql(
        "SELECT doc_id, array_to_string("
        f"list_slice(string_split(text, ' '), 1, {TITLE_WORDS}), ' ') "
        "FROM documents"
    ).fetchall()
    evens = [(i, t) for i, t in docs if i % 2 == 0]
    odds = [(i, t) for i, t in docs if i % 2 == 1]
    expect = {}
    for ei, et in evens:
        best = None
        for oi, ot in odds:
            d = _lev(et, ot)
            if d <= TITLE_MAX_DIST and (best is None or (d, oi) < best[:2]):
                best = (d, oi, ot)
        if best is not None:
            expect[ei] = (et, best[1], best[2], best[0])
    got = {
        r["even_doc"]: (r["even_title"], r["odd_doc"], r["odd_title"], r["dist"])
        for r in fuzzy_title_match_passjoin(spark, SF_ORACLE).collect()
    }
    assert got == expect and len(expect) > 0
    assert_frames_match(
        fuzzy_title_match_passjoin(spark, SF_ORACLE),
        ddb.sql(FUZZY_TITLE_PASSJOIN_SQL),
    )
