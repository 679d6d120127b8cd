"""DuckDB-oracle comparison harness, mimicking the driver's gate:
row count + schema + order-insensitive value comparison.

Stricter than the driver where possible: values are compared exactly
(after canonical stringification) — if this passes, any reasonable
hashing scheme passes.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_value(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{round(v, 6):.6f}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.6f}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canonical_rows(columns: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    """Sort columns by name, stringify values, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon_value(row[i]) for i in order) for row in rows]
    return sorted(out)


_INT_TYPES = {
    "tinyint", "smallint", "int", "integer", "bigint", "hugeint",
    "utinyint", "usmallint", "uinteger", "ubigint", "long", "short", "byte",
}


def _coarse_type(t: str) -> str:
    """Map a Spark dtype string or a DuckDB type string to a coarse
    cross-engine class. Distinguishes TIMESTAMP from TIMESTAMP WITH TIME
    ZONE — a tz-aware oracle result silently matched a naive Spark
    result on a UTC host before round 2 (the events_window_tumbling
    blind spot); the external gate compares schemas, so we must too.
    """
    t = t.strip().lower()
    if "time zone" in t or t.startswith("timestamptz"):
        return "timestamptz"
    if t.startswith("timestamp"):  # timestamp, timestamp_ntz, timestamp_s/ms/ns
        return "timestamp"
    if t == "date":
        return "date"
    if t.startswith("decimal") or t.startswith("numeric"):
        return "decimal"
    if t in ("double", "float", "real", "float4", "float8"):
        return "float"
    if t in _INT_TYPES:
        return "int"
    if t in ("varchar", "string", "text", "char", "bpchar"):
        return "string"
    if t in ("boolean", "bool"):
        return "bool"
    if t in ("binary", "blob", "varbinary", "bytea"):
        return "binary"
    if t.startswith(("array", "list", "map", "struct")) or t.endswith("[]"):
        return "nested"
    return t


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    """Returns (ok, message). Compares column-name sets, coarse column
    types, row counts, and canonicalized values."""
    return compare_counted(spark_df, con, sql, name)[:2]


def compare_counted(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    """``compare``, plus the number of rows the oracle returned:
    (ok, message, oracle rows)."""
    rel = con.sql(sql)
    duck_rows = rel.fetchall()
    return (*_compare(spark_df, rel, duck_rows, name), len(duck_rows))


def _compare(spark_df, rel: duckdb.DuckDBPyRelation, duck_rows: list, name: str):
    spark_cols = list(spark_df.columns)
    spark_rows = [tuple(r) for r in spark_df.collect()]
    duck_cols = list(rel.columns)
    duck_types = [str(t) for t in rel.types]

    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    s_types = {c: _coarse_type(t) for c, t in spark_df.dtypes}
    d_types = {c: _coarse_type(t) for c, t in zip(duck_cols, duck_types)}
    type_diffs = {
        c: (s_types[c], d_types[c]) for c in s_types if s_types[c] != d_types.get(c)
    }
    if type_diffs:
        return False, f"{name}: dtype mismatch (spark, duck): {type_diffs}"
    if len(spark_rows) != len(duck_rows):
        return False, f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    a = canonical_rows(spark_cols, spark_rows)
    b = canonical_rows(duck_cols, duck_rows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return False, f"{name}: value mismatch, first diffs: {diffs}"
    return True, f"{name}: ok ({len(spark_rows)} rows)"
