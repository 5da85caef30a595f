"""Output checks against the registry's DuckDB oracles.

A result matches when it has the oracle's row count, the same column names
(in any order) and the same multiset of rows once each value is brought to
a common form: floating point rounded to 6 decimals, timestamps without a
zone. The multiset test runs inside DuckDB (``EXCEPT ALL``), so
results of a million rows are compared without leaving Arrow.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_FLOAT = ("DOUBLE", "FLOAT", "REAL")


def connect(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per ``name -> parquet path/glob``."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normal(col: str, dtype: str) -> str:
    q = '"' + col.replace('"', '""') + '"'
    t = dtype.upper()
    if t in _FLOAT or t.startswith("DECIMAL"):
        return f"round(CAST({q} AS DOUBLE), 6) AS {q}"
    if t.startswith("TIMESTAMP"):
        return f"CAST({q} AS TIMESTAMP) AS {q}"
    if t.endswith("[]") and t[:-2] in _FLOAT:
        return f"list_transform({q}, x -> round(CAST(x AS DOUBLE), 6)) AS {q}"
    return q


def _normalized(con: duckdb.DuckDBPyConnection, relation: str, cols: list[str]) -> str:
    types = {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM {relation}").fetchall()}
    return "SELECT " + ", ".join(_normal(c, types[c]) for c in cols) + f" FROM {relation}"


def compare(con: duckdb.DuckDBPyConnection, result: pa.Table, oracle_sql: str) -> str | None:
    """None when ``result`` matches the oracle, else what differs."""
    con.register("spark_result", result)
    try:
        con.execute(f"CREATE OR REPLACE TEMP VIEW oracle_result AS {oracle_sql}")
        o_cols = [r[0] for r in con.sql("DESCRIBE oracle_result").fetchall()]
        if sorted(result.column_names) != sorted(o_cols):
            return f"columns differ: {sorted(result.column_names)} vs {sorted(o_cols)}"
        n_oracle = con.sql("SELECT count(*) FROM oracle_result").fetchone()[0]
        if result.num_rows != n_oracle:
            return f"row count {result.num_rows} vs oracle {n_oracle}"
        cols = sorted(o_cols)
        a = _normalized(con, "spark_result", cols)
        b = _normalized(con, "oracle_result", cols)
        # Equal row counts: the multisets are equal iff one difference is empty.
        differ = con.sql(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        return f"{differ} rows differ from the oracle" if differ else None
    finally:
        con.unregister("spark_result")
