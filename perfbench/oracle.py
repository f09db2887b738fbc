"""Order-insensitive output digests, computed in DuckDB.

A digest covers the row count, the sorted column names and an
order-insensitive hash of the rows, with every column taken in name
order.  Doubles are rounded to 9 decimals first, the canonicalization
the repository's oracle comparisons apply to registry rows.
"""

from __future__ import annotations

import hashlib
import os

import duckdb


def _canon(col: str, dtype: str) -> str:
    """SQL text of one column, canonicalized the way the repository's
    oracle comparisons canonicalize values before hashing: doubles rounded to 9
    decimals, whole doubles written as integers, NaN as NULL."""
    if dtype in ("DOUBLE", "FLOAT"):
        r = f"round({col}, 9)"
        return (
            f"CASE WHEN isnan({col}) THEN NULL WHEN {r} = trunc({r}) "
            f"THEN CAST(CAST({r} AS HUGEINT) AS VARCHAR) ELSE CAST({r} AS VARCHAR) END"
        )
    return f"CAST({col} AS VARCHAR)"


def digest(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    """``<rows>:<hash>`` of a query result, order-insensitive: the sum
    of per-row hashes, columns taken in name order."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    row = ", ".join(_canon(f'"{c}"', t) for c, t in cols)
    n, h = con.sql(
        f"SELECT count(*), coalesce(sum(hash({row})), 0) FROM ({sql})"
    ).fetchone()
    names = hashlib.sha256(repr([c for c, _ in cols]).encode()).hexdigest()[:8]
    return f"{n}:{names}:{h}"


def connect(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(tables_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def parquet_sql(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


_DATA = (
    "STRUCT(sheetId INTEGER, layerId INTEGER, mapId INTEGER, number VARCHAR,"
    " borough VARCHAR"
)


def ndjson_sql(path: str, columns: dict[str, str], select: str) -> str:
    cols = ", ".join(f"'{k}': '{v}'" for k, v in columns.items())
    return (
        f"SELECT {select} FROM read_json('{path}/*.json', "
        f"format='newline_delimited', columns={{{cols}}})"
    )


def inferred_sql(path: str) -> str:
    """The ``inferred`` handoff flattened the way
    ``spatial_join.inferred_flat`` flattens it for the flagship oracle."""
    s = "VARCHAR"
    return ndjson_sql(
        path,
        {
            "id": s, "name": s, "houseNumberId": s, "streetId": s,
            "validSince": s, "validUntil": s, "streetName": s,
            "addressData": _DATA + ")", "lineLength": "INTEGER", "error": s,
        },
        "id, name, houseNumberId, streetId, validSince, validUntil, streetName,"
        " lineLength, error, addressData.sheetId AS sheetId,"
        " addressData.layerId AS layerId, addressData.mapId AS mapId,"
        " addressData.number AS number, addressData.borough AS borough",
    )


def objects_sql(path: str) -> str:
    s = "VARCHAR"
    return ndjson_sql(
        path,
        {
            "id": s, "name": s, "type": s, "validSince": s, "validUntil": s,
            "data": _DATA + ", houseNumberId VARCHAR, streetId VARCHAR)",
        },
        "id, name, type, validSince, validUntil, data.sheetId AS sheetId,"
        " data.layerId AS layerId, data.mapId AS mapId, data.number AS number,"
        " data.borough AS borough, data.houseNumberId AS houseNumberId,"
        " data.streetId AS streetId",
    )


def relations_sql(path: str) -> str:
    return ndjson_sql(
        path,
        {"from": "VARCHAR", "to": "VARCHAR", "type": "VARCHAR"},
        '"from" AS from_id, "to" AS to_id, type',
    )


def logs_sql(path: str) -> str:
    s = "VARCHAR"
    return ndjson_sql(
        path,
        {
            "error": s, "houseNumberId": s, "streetId": s, "streetName": s,
            "lineLength": "INTEGER", "addressData": _DATA + ")",
        },
        "error, houseNumberId, streetId, streetName, lineLength,"
        " addressData.sheetId AS sheetId, addressData.number AS number",
    )
