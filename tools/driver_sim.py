"""Simulate the driver: smoke entry() at sf0.001, then run every
queries() entry at sf0.01 against its oracle_sql() in DuckDB.

FRESH_SESSION=1 restarts the SparkSession before every query (window
order preserved) to surface run-order / session-state sensitivity —
if a query is green in the shared-session run but red here (or vice
versa), its result depends on session state left by a neighbor.
WINDOW=1 restricts to the 50-entry DRIVER_WINDOW (what the real
driver scores) instead of the full registry; ONLY=a,b,c to named rows.
STRICT=1 hashes floats bit-for-bit instead of at 9 digits.  A strict
mismatch whose row count and schema match is a float residue: its rows
are aligned on the non-float columns and each float column prints how
many values differ, max_abs, max_ulp, max_rel (pairwise |a-b|/max(|a|,
|b|)) and scaled_rel (max_abs over the column's largest |value|, which
keeps near-zero residues legible).  OUT=path writes the per-query JSON
report, residues included.

A lost driver JVM (a Py4J connection failure) stops the sweep at the
row where it happened; the rows after it are reported as not run and
the exit code is 2 (1 is a mismatch or a failing row).

Usage: python tools/driver_sim.py [SF_DIR]   (default sf0.01)"""
import hashlib, json, math, os, struct, sys
from collections import defaultdict
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from py4j.protocol import Py4JNetworkError
import __spark_entry__ as mod
from etl_addresses_spark.session import get_spark
from etl_addresses_spark.sources.tables import TABLES

FRESH_SESSION = os.environ.get("FRESH_SESSION", "0") == "1"
STRICT = os.environ.get("STRICT", "0") == "1"

def _new_spark():
    s = get_spark("driver-sim")
    s.sparkContext.setLogLevel("ERROR")
    return s

def value_hash(rows):
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:16]

def norm(v):
    if v is None: return None
    if isinstance(v, float):
        if math.isnan(v): return None
        if not STRICT:
            v = round(v, 9)
            return int(v) if v.is_integer() else v
        return v
    return v

def _connection_failure(exc):
    while exc is not None:
        if isinstance(exc, (Py4JNetworkError, ConnectionError)):
            return True
        exc = exc.__cause__ or exc.__context__
    return False

def jvm_lost(spark, exc):
    """True when the driver JVM is gone, not the row: ``exc`` comes from
    a Py4J connection failure, or a one-call probe of the gateway fails
    that way (PySpark re-raises some Py4J failures without the chain,
    e.g. as CANNOT_PARSE_DATATYPE from ``.schema``)."""
    if _connection_failure(exc):
        return True
    try:
        spark.sparkContext._jvm.java.lang.System.nanoTime()
    except Exception as probe:
        return _connection_failure(probe)
    return False

def ulps(a, b):
    if a == b: return 0
    ia, ib = struct.unpack("<qq", struct.pack("<dd", a, b))
    if ia < 0: ia = -(ia & 0x7FFFFFFFFFFFFFFF)
    if ib < 0: ib = -(ib & 0x7FFFFFFFFFFFFFFF)
    return abs(ia - ib)

def residue(floats, scols, srows, dcols, drows):
    """Per float column, the strict residue between two row sets that
    agree on row count and schema: rows are aligned on the non-float
    columns (equal keys pair in sorted order)."""
    keys = [c for c in scols if c not in floats]
    def by_key(cols, rows):
        out = defaultdict(list)
        for r in rows:
            out[repr(tuple(r[cols.index(k)] for k in keys))].append(r)
        return out
    dk = by_key(dcols, drows)
    stats = {c: {"n_diff": 0, "max_abs": 0.0, "max_ulp": 0, "max_rel": 0.0, "scale": 0.0} for c in floats}
    aligned = unmatched = 0
    for key, srs in by_key(scols, srows).items():
        drs = dk.get(key, [])
        unmatched += abs(len(srs) - len(drs))
        for s, d in zip(sorted(srs, key=repr), sorted(drs, key=repr)):
            aligned += 1
            for c in floats:
                a, b, st = s[scols.index(c)], d[dcols.index(c)], stats[c]
                if a is None or b is None:
                    st["n_diff"] += a is not b
                    continue
                st["scale"] = max(st["scale"], abs(a), abs(b))
                if a != b or math.copysign(1, a) != math.copysign(1, b):
                    st["n_diff"] += 1
                    st["max_abs"] = max(st["max_abs"], abs(a - b))
                    st["max_ulp"] = max(st["max_ulp"], ulps(a, b))
                    if max(abs(a), abs(b)) > 0.0:
                        st["max_rel"] = max(st["max_rel"], abs(a - b) / max(abs(a), abs(b)))
    for st in stats.values():
        st["scaled_rel"] = st["max_abs"] / st["scale"] if st["scale"] > 0.0 else 0.0
    return {"aligned": aligned, "unmatched": unmatched, "columns": stats}

spark = _new_spark()
df = mod.entry(spark)
n = df.count()
print(f"SMOKE entry(): rows={n} schema={[f.name for f in df.schema.fields]}")
assert n >= 0

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs, os_ = mod.queries(), mod.oracle_sql()
if os.environ.get("WINDOW", "0") == "1":
    from etl_addresses_spark.registry import DRIVER_WINDOW
    qs = {n: qs[n] for n in DRIVER_WINDOW}
if os.environ.get("ONLY"):
    names = os.environ["ONLY"].split(",")
    qs = {n: qs[n] for n in names}
ok, lost_at = True, None
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
            rows_eq, cols_eq = len(spark_rows) == len(drows), scols == dcols
            status = "MATCH" if (rows_eq and cols_eq and sh==dh) else "MISMATCH"
            if status != "MATCH": ok = False
            report[name] = {"rows_match": rows_eq, "schema_match": cols_eq,
                            "hash_match": sh==dh, "spark_rows": len(spark_rows),
                            "oracle_rows": len(drows), "err": None}
            print(f"{name}: spark={len(spark_rows)} duck={len(drows)} cols_eq={cols_eq} hash {sh} vs {dh} -> {status}")
            if STRICT and rows_eq and cols_eq and sh != dh:
                floats = [f.name for f in sdf.schema.fields
                          if f.dataType.simpleString() in ("double", "float")]
                r = report[name]["residue"] = residue(floats, sdf.columns, spark_rows, dcols_raw, drows)
                if r["unmatched"]:
                    print(f"{name}: {r['unmatched']} rows unmatched on the non-float columns")
                for c, st in sorted(r["columns"].items()):
                    tag = ("BIT-IDENTICAL" if st["n_diff"] == 0 else
                           f"{st['n_diff']}/{r['aligned']} differ, max_abs={st['max_abs']:.3e}, "
                           f"max_ulp={st['max_ulp']}, max_rel={st['max_rel']:.3e}, "
                           f"scaled_rel={st['scaled_rel']:.3e} (col_scale={st['scale']:.3e})")
                    print(f"{name}.{c}: {tag}")
        else:
            report[name] = {"rows_match": None, "schema_match": None, "hash_match": None,
                            "spark_rows": len(spark_rows), "oracle_rows": None, "err": "no_oracle"}
            print(f"{name}: rows-only check, rows={len(spark_rows)}")
    except Exception as exc:  # a crashing query must not hide the rest
        ok = False
        lost_at = name if jvm_lost(spark, exc) else None
        report[name] = {"rows_match": None, "schema_match": None, "hash_match": None,
                        "spark_rows": None, "oracle_rows": None, "err": f"{type(exc).__name__}: {exc}"}
        print(f"{name}: {'JVM LOST' if lost_at else 'ERROR'} {type(exc).__name__}: {exc}")
        if lost_at:
            break

not_run = [n for n in qs if n not in report]
for n in not_run:
    report[n] = {"rows_match": None, "schema_match": None, "hash_match": None,
                 "spark_rows": None, "oracle_rows": None, "err": f"not_run: driver JVM lost at {lost_at}"}

out_path = os.environ.get("OUT")
if out_path:
    with open(out_path, "w") as f:
        json.dump(report, f, indent=2)
    print(f"wrote {out_path} ({len(report)} queries)")
if lost_at:
    print(f"NOT RUN ({len(not_run)}): {','.join(not_run)}")
    print(f"RESULT: DRIVER JVM LOST at {lost_at}")
    sys.exit(2)
print("RESULT:", "ALL MATCH" if ok else "MISMATCH")
sys.exit(0 if ok else 1)
