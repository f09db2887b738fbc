"""Audit every registry oracle for driver-hostile output types.

Root-cause tool for the round-3 driver-red rows: DuckDB `sum(BIGINT)`
returns HUGEINT (int128).  `fetchall()` converts HUGEINT to a plain
Python int (so tools/driver_sim.py can never see a problem), but a
pandas/Arrow fetch converts it to float64 / Decimal — so a driver that
hashes a pandas frame reprs the value differently than Spark's bigint
and the value-hash breaks even though every value is integer-equal.

This tool runs each oracle with LIMIT 0 semantics (via DuckDB's
relational `.types`) and each Spark query's schema at sf0.001, then
flags any column whose DuckDB type is outside the driver-safe set
{BOOLEAN, TINYINT..BIGINT, DOUBLE, FLOAT, VARCHAR, DATE, TIMESTAMP*}
or whose Spark type falls outside the mirror set.  HUGEINT / DECIMAL /
UHUGEINT on the oracle side are exactly the types whose Python repr
depends on the fetch path.

Usage: python tools/type_audit.py [--spark]  (oracle-only by default;
--spark also schemas every Spark query, which needs a JVM).
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb

import __spark_entry__ as mod

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DUCK_SAFE = {
    "BOOLEAN", "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "DOUBLE", "FLOAT", "VARCHAR", "DATE", "TIMESTAMP",
    "TIMESTAMP WITH TIME ZONE", "TIMESTAMP_NS", "TIMESTAMP_MS",
}


def main() -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    oracles = mod.oracle_sql()
    bad = {}
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
            flagged = [
                (c, str(t))
                for c, t in zip(rel.columns, rel.types)
                if str(t) not in DUCK_SAFE
            ]
        except Exception as exc:  # noqa: BLE001 - report, keep auditing
            bad[name] = [("<error>", f"{type(exc).__name__}: {exc}")]
            continue
        if flagged:
            bad[name] = flagged
    for name, cols in sorted(bad.items()):
        print(f"ORACLE {name}: " + ", ".join(f"{c}::{t}" for c, t in cols))
    if "--spark" in sys.argv:
        from etl_addresses_spark.session import get_spark

        SPARK_SAFE_PREFIX = (
            "boolean", "tinyint", "smallint", "int", "bigint",
            "double", "float", "string", "date", "timestamp",
        )
        spark = get_spark("type-audit")
        spark.sparkContext.setLogLevel("ERROR")
        for name, fn in mod.queries().items():
            try:
                df = fn(spark, SF)
                flagged = [
                    (f.name, f.dataType.simpleString())
                    for f in df.schema.fields
                    if not f.dataType.simpleString().startswith(SPARK_SAFE_PREFIX)
                ]
            except Exception as exc:  # noqa: BLE001
                print(f"SPARK {name}: <error> {type(exc).__name__}: {exc}")
                continue
            if flagged:
                print(
                    f"SPARK {name}: "
                    + ", ".join(f"{c}::{t}" for c, t in flagged)
                )
    print(f"{len(bad)} oracle(s) flagged of {len(oracles)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
