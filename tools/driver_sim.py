"""Simulate the driver: smoke entry() at sf0.001, then run every
queries() entry at sf0.01 against its oracle_sql() in DuckDB.

FRESH_SESSION=1 restarts the SparkSession before every query (window
order preserved) to surface run-order / session-state sensitivity —
if a query is green in the shared-session run but red here (or vice
versa), its result depends on session state left by a neighbor.
WINDOW=1 restricts to the 50-entry DRIVER_WINDOW (what the real
driver scores) instead of the full registry; ONLY=a,b,c to named rows.
STRICT=1 hashes floats bit-for-bit instead of at 9 digits.

Usage: python tools/driver_sim.py [SF_DIR]   (default sf0.01)"""
import hashlib, os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
import __spark_entry__ as mod
from etl_addresses_spark.session import get_spark

FRESH_SESSION = os.environ.get("FRESH_SESSION", "0") == "1"

def _new_spark():
    s = get_spark("driver-sim")
    s.sparkContext.setLogLevel("ERROR")
    return s

spark = _new_spark()

df = mod.entry(spark)
n = df.count()
print(f"SMOKE entry(): rows={n} schema={[f.name for f in df.schema.fields]}")
assert n >= 0

SF = "/root/testdata/sf0.01"
if len(sys.argv) > 1:
    SF = sys.argv[1]
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def value_hash(rows):
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]

import math
STRICT = os.environ.get("STRICT", "0") == "1"
def norm(v):
    if v is None: return None
    if isinstance(v, float):
        if math.isnan(v): return None
        if not STRICT:
            v = round(v, 9)
            return int(v) if v.is_integer() else v
        return v
    return v

qs, os_ = mod.queries(), mod.oracle_sql()
if os.environ.get("WINDOW", "0") == "1":
    from etl_addresses_spark.registry import DRIVER_WINDOW
    qs = {n: qs[n] for n in DRIVER_WINDOW}
if os.environ.get("ONLY"):
    names = os.environ["ONLY"].split(",")
    qs = {n: qs[n] for n in names}
ok = True
report = {}
for name, fn in qs.items():
    try:
        if FRESH_SESSION:
            spark.stop()
            spark = _new_spark()
        sdf = fn(spark, SF)
        spark_rows = [tuple(norm(v) for v in row) for row in sdf.collect()]
        if name in os_:
            res = con.execute(os_[name])
            dcols_raw = [d[0] for d in res.description]
            drows = [tuple(norm(v) for v in row) for row in res.fetchall()]
            scols, dcols = sorted(sdf.columns), sorted(dcols_raw)
            # driver sorts columns by name before hashing
            sidx = [sdf.columns.index(c) for c in scols]
            didx = [dcols_raw.index(c) for c in dcols]
            sh = value_hash([tuple(r[i] for i in sidx) for r in spark_rows])
            dh = value_hash([tuple(r[i] for i in didx) for r in drows])
            status = "MATCH" if (len(spark_rows)==len(drows) and scols==dcols and sh==dh) else "MISMATCH"
            if status != "MATCH": ok = False
            report[name] = {"rows_match": len(spark_rows)==len(drows), "schema_match": scols==dcols,
                            "hash_match": sh==dh, "spark_rows": len(spark_rows),
                            "oracle_rows": len(drows), "err": None}
            print(f"{name}: spark={len(spark_rows)} duck={len(drows)} cols_eq={scols==dcols} hash {sh} vs {dh} -> {status}")
        else:
            report[name] = {"rows_match": None, "schema_match": None, "hash_match": None,
                            "spark_rows": len(spark_rows), "oracle_rows": None, "err": "no_oracle"}
            print(f"{name}: rows-only check, rows={len(spark_rows)}")
    except Exception as exc:  # a crashing query must not hide the rest
        ok = False
        report[name] = {"rows_match": None, "schema_match": None, "hash_match": None,
                        "spark_rows": None, "oracle_rows": None, "err": f"{type(exc).__name__}: {exc}"}
        print(f"{name}: ERROR {type(exc).__name__}: {exc}")

out_path = os.environ.get("OUT")
if out_path:
    import json
    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    print(f"wrote {out_path} ({len(report)} queries)")
print("RESULT:", "ALL MATCH" if ok else "MISMATCH")
sys.exit(0 if ok else 1)
