"""Output checks against DuckDB: order-insensitive digests of result
tables, computed the same way for Spark's Arrow output and DuckDB's."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

import duckdb
import pyarrow as pa


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (bool, decimal.Decimal)):
        return str(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _naive_utc(table: pa.Table) -> pa.Table:
    """Zone-aware timestamps become naive UTC, so an instant compares
    equal whichever engine attached a zone to it."""
    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            table = table.set_column(i, field.name, table.column(i).cast(pa.timestamp("us")))
    return table


def digest(table: pa.Table) -> dict:
    """Row count and SHA-256 over the sorted canonical rows, with the
    columns taken in name order."""
    table = _naive_utc(table)
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted("\x1f".join(_canon(v) for v in row) for row in zip(*cols))
    h = hashlib.sha256("\x1f".join(names).encode())
    for row in rows:
        h.update(row.encode())
        h.update(b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def duck(data_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected_digests(data_dir: str, oracles: dict[str, str], tables: tuple[str, ...]) -> dict:
    """DuckDB digests of ``oracles`` over ``data_dir``, computed once and
    kept beside the data (the data never changes after it is written)."""
    path = os.path.join(data_dir, "expected.json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if set(oracles) <= set(cached):
            return cached
    con = duck(data_dir, tables)
    try:
        out = {name: digest(con.execute(sql).fetch_arrow_table()) for name, sql in oracles.items()}
    finally:
        con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return out
