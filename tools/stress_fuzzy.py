"""Stress the blocked fuzzy match where blocking actually PRUNES.

The sf fixtures' names are uniform-length (18 chars), so the length
band keeps every pair and the bench shows the plan shape but not the
pruning (r4 verdict item 6).  This tool generates supplier/customer
names with a REALISTIC skewed length distribution (5..34 chars,
quadratic-skewed toward short — the shape of person/org name lengths),
then measures:

  - candidate pairs surviving the length-band equi-join vs all-pairs
    (the pruning ratio the band buys on heterogeneous lengths), and
  - wall time of the blocked tier vs the naive cross-join tier on the
    same frames.

    python tools/stress_fuzzy.py [n_suppliers [n_customers [max_dist]]]

Results land in SCALE.md (round-5 section), mirroring stress_spatial.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import timed_noop
from etl_addresses_spark.functions.hashing import KNUTH
from etl_addresses_spark.operators.fuzzy import (
    TITLE_MAX_DIST,
    TITLE_WORDS,
    _length_histogram,
    choose_fuzzy_tier,
    fuzzy_match_auto_for,
    fuzzy_match_blocked_for,
    fuzzy_match_passjoin_for,
    passjoin_candidates,
    segment_collision_estimate,
)
from etl_addresses_spark.session import get_spark


def synth_names(spark, n: int, prefix: str, key: str, name: str):
    """Deterministic names with skewed lengths: u = hash-uniform in
    [0,1), len = 5 + floor(29 * u^2) — median ~12, tail to 34."""
    i = F.col("id")
    u = (i * F.lit(KNUTH) % F.lit(1000003)) / F.lit(1000003.0)
    ln = (F.lit(5) + F.floor(F.lit(29) * u * u)).cast("int")
    body = F.substring(
        F.repeat(F.md5(F.concat(F.lit(prefix), i.cast("string"))), 2), 1, 64
    )
    return spark.range(n).select(
        i.alias(key),
        F.concat(F.lit(prefix), F.substring(body, 1, ln)).alias(name),
    )


def main() -> None:
    n_s = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    n_c = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    d = int(sys.argv[3]) if len(sys.argv) > 3 else 6

    spark = get_spark("stress-fuzzy")
    spark.sparkContext.setLogLevel("ERROR")

    sup = synth_names(spark, n_s, "S", "s_suppkey", "s_name").cache()
    cus = synth_names(spark, n_c, "C", "c_custkey", "c_name").cache()
    sup.count(), cus.count()

    # pruning ratio: pairs surviving the length band (pre-levenshtein)
    s_len = sup.groupBy(F.length("s_name").alias("ls")).count()
    c_len = cus.groupBy(F.length("c_name").alias("lc")).count()
    cand = (
        s_len.join(c_len, F.abs(F.col("ls") - F.col("lc")) <= d)
        .agg(F.sum(s_len["count"] * c_len["count"]))
        .first()[0]
    )
    allp = n_s * n_c
    print(
        f"n={n_s}x{n_c} d={d}: band candidates={cand:,} all-pairs={allp:,} "
        f"ratio={cand / allp:.3f}"
    )

    # content blocking: PassJoin segment-pigeonhole candidates
    pj_cand = passjoin_candidates(sup, cus, d=d)
    n_pj = pj_cand.count()
    n_pj_pairs = pj_cand.select("s_suppkey", "c_custkey").distinct().count()
    print(
        f"passjoin candidates: rows={n_pj:,} distinct pairs={n_pj_pairs:,} "
        f"pair-ratio={n_pj_pairs / allp:.6f}"
    )

    t_pj = timed_noop(lambda: fuzzy_match_passjoin_for(sup, cus, d=d))
    print(f"passjoin tier: {t_pj:.2f}s")

    t_blocked = timed_noop(lambda: fuzzy_match_blocked_for(sup, cus, d=d))
    print(f"blocked tier: {t_blocked:.2f}s")

    # naive tier (threshold-banded levenshtein but cartesian candidates)
    t_naive = timed_noop(
        lambda: sup.crossJoin(F.broadcast(cus))
        .withColumn("dist", F.expr(f"levenshtein(s_name, c_name, {d})"))
        .filter(F.col("dist") >= 0)
        .groupBy("s_suppkey", "s_name")
        .agg(F.min(F.struct("dist", "c_custkey", "c_name")).alias("m"))
    )
    print(f"naive cross-join tier: {t_naive:.2f}s  speedup={t_naive / t_blocked:.1f}x")


def titles_main() -> None:
    """In-regime evidence for `fuzzy_title_match_passjoin`: candidate
    volume + wall time on the REAL document-title distribution
    (14-28 chars, d=2 -> ~7-char segments), where content blocking is
    inside its selectivity regime, vs the naive cross join.

        python tools/stress_fuzzy.py --titles [sf_dir]
    """
    from etl_addresses_spark.sources.tables import load_table

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("stress-fuzzy-titles")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents")
    title = F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, TITLE_WORDS), " "
    )
    evens = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("s_suppkey"), title.alias("s_name")
    ).cache()
    odds = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("c_custkey"), title.alias("c_name")
    ).cache()
    n_e, n_o = evens.count(), odds.count()
    allp = n_e * n_o

    d = TITLE_MAX_DIST
    pj_cand = passjoin_candidates(evens, odds, d=d)
    n_pj = pj_cand.count()
    n_pj_pairs = pj_cand.select("s_suppkey", "c_custkey").distinct().count()
    print(
        f"titles n={n_e}x{n_o} d={d}: passjoin candidate rows={n_pj:,} "
        f"distinct pairs={n_pj_pairs:,} all-pairs={allp:,} "
        f"pair-ratio={n_pj_pairs / allp:.6f} "
        f"cut={allp / max(n_pj_pairs, 1):.0f}x"
    )

    t_pj = timed_noop(lambda: fuzzy_match_passjoin_for(evens, odds, d=d))
    print(f"passjoin tier: {t_pj:.2f}s")

    t_naive = timed_noop(
        lambda: evens.crossJoin(F.broadcast(odds))
        .withColumn("dist", F.expr(f"levenshtein(s_name, c_name, {d})"))
        .filter(F.col("dist") >= 0)
        .groupBy("s_suppkey", "s_name")
        .agg(F.min(F.struct("dist", "c_custkey", "c_name")).alias("m"))
    )
    print(f"naive cross-join tier: {t_naive:.2f}s  speedup={t_naive / t_pj:.1f}x")


def auto_main() -> None:
    """r7 dispatcher scaling evidence: run `fuzzy_match_auto_for` on
    an IN-REGIME fixture (skewed-length md5-body names, d=2 — segment
    entropy present, so the dispatcher must pick passjoin) at base and
    10x the base size, and record tier choice + wall ratio.  With
    content entropy, segment collisions stay O(1) per key, so
    candidates — and wall — grow ~linearly; this is the contrast row
    for tools/evidence/r7_scale_fuzzy_dispatch.json, where the
    zero-entropy registered fixture is intrinsically all-pairs.

        python tools/stress_fuzzy.py --auto [n_base [d]]
    """
    import json

    n_base = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    d = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = get_spark("stress-fuzzy-auto")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"d": d, "n_base": n_base, "scales": {}}
    for factor in (1, 10):
        n = n_base * factor
        sup = synth_names(spark, n, "S", "s_suppkey", "s_name").cache()
        cus = synth_names(spark, n, "C", "c_custkey", "c_name").cache()
        sup.count(), cus.count()
        s_hist = _length_histogram(sup, "s_name")
        c_hist = _length_histogram(cus, "c_name")
        coll = segment_collision_estimate(cus, "c_name", d)
        tier = choose_fuzzy_tier(s_hist, c_hist, d, coll)
        wall = timed_noop(lambda: fuzzy_match_auto_for(sup, cus, d=d))
        out["scales"][f"{factor}x"] = {
            "n_per_side": n,
            "tier": tier,
            "seg_collision": round(coll, 8),
            "sec": wall,
        }
        print(f"{factor}x (n={n}): tier={tier} collision={coll:.2e} {wall}s")
        sup.unpersist(), cus.unpersist()
    out["ratio_sec"] = round(
        out["scales"]["10x"]["sec"] / out["scales"]["1x"]["sec"], 2
    )
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "evidence",
        "r7_fuzzy_auto_inregime.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--titles":
        titles_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "--auto":
        auto_main()
    else:
        main()
