"""Measure the strict (no-canonicalization) parity residue per query.

For each query named on the command line (default: the six known
non-bit-identical queries from the round-3 census), runs the Spark
query and its DuckDB oracle at sf0.01, aligns rows on the best
available key columns (exact match of all non-float columns), and
reports per-FLOAT-column: how many values differ bitwise, the max
absolute difference, and the max ulp distance — the evidence behind
SCALE.md's strict-parity residue table.
"""
import math
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb

import __spark_entry__ as mod
from etl_addresses_spark.session import get_spark
from etl_addresses_spark.sources.tables import TABLES

SF = "/root/testdata/sf0.01"

DEFAULT = [
    "pagerank_relations",
    "stream_stateful_user_totals",
    "lm_bigram_logprob",
    "quality_classifier_score",
    "stats_correlation",
    "sample_weighted_k",
]


def ulps(a: float, b: float) -> int:
    if a == b:
        return 0
    ia = struct.unpack("<q", struct.pack("<d", a))[0]
    ib = struct.unpack("<q", struct.pack("<d", b))[0]
    if ia < 0:
        ia = -(ia & 0x7FFFFFFFFFFFFFFF)
    if ib < 0:
        ib = -(ib & 0x7FFFFFFFFFFFFFFF)
    return abs(ia - ib)


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    spark = get_spark("strict-residue")
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = mod.queries(), mod.oracle_sql()
    for name in names:
        sdf = qs[name](spark, SF)
        cols = sdf.columns
        ftypes = {
            f.name for f in sdf.schema.fields
            if f.dataType.simpleString() in ("double", "float")
        }
        keycols = [c for c in cols if c not in ftypes]
        cur = con.execute(osql[name])
        dcols = [d[0] for d in cur.description]
        drows = {tuple(r[dcols.index(k)] for k in keycols): r for r in cur.fetchall()}
        # n_diff, max_abs, max_ulp, max pairwise |a-b|/max(|a|,|b|),
        # column value scale (max |value| seen — for the SCALED
        # relative error that makes near-zero residues legible: a
        # 28334-ulp gap on a correlation of 6e-16 is a scaled error of
        # ~1e-16, not a 5-digit defect; r6 verdict item 7)
        stats = {c: [0, 0.0, 0, 0.0, 0.0] for c in ftypes}
        n = 0
        for r in sdf.collect():
            key = tuple(r[cols.index(k)] for k in keycols)
            d = drows.get(key)
            if d is None:
                print(f"{name}: UNMATCHED KEY {key} (non-float columns differ)")
                continue
            n += 1
            for c in ftypes:
                a, b = r[cols.index(c)], d[dcols.index(c)]
                if a is None or b is None:
                    if a is not b:
                        stats[c][0] += 1
                    continue
                stats[c][4] = max(stats[c][4], abs(a), abs(b))
                if a != b or math.copysign(1, a) != math.copysign(1, b):
                    stats[c][0] += 1
                    stats[c][1] = max(stats[c][1], abs(a - b))
                    stats[c][2] = max(stats[c][2], ulps(a, b))
                    denom = max(abs(a), abs(b))
                    if denom > 0.0:
                        stats[c][3] = max(stats[c][3], abs(a - b) / denom)
        for c in sorted(ftypes):
            nd, ma, mu, mr, scale = stats[c]
            scaled = ma / scale if scale > 0.0 else 0.0
            tag = (
                "BIT-IDENTICAL"
                if nd == 0
                else (
                    f"{nd}/{n} differ, max_abs={ma:.3e}, max_ulp={mu}, "
                    f"max_rel={mr:.3e}, scaled_rel={scaled:.3e} "
                    f"(col_scale={scale:.3e})"
                )
            )
            print(f"{name}.{c}: {tag}")
        if not ftypes:
            print(f"{name}: no float columns (integer-pure)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
