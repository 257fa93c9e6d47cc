"""Correctness gate: registry queries against their DuckDB oracles, and
the load's final table and ``LoadStats`` against DuckDB applying the
same CHECK to the source parquet.

Both checks run outside the timed passes: the query check is the
untimed warm pass, the load check follows each load call.
"""

from __future__ import annotations

import decimal
import math
import time

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _canonical(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


def query_mismatch(spark, con, sf_dir: str, spec) -> tuple[str | None, float]:
    """(``None`` when the query's rows equal its oracle's: column names,
    row count, order-insensitive values; else a one-line reason,
    seconds DuckDB took to compute the expected rows)."""
    df = spec.fn(spark, sf_dir)
    s_cols = [c.lower() for c in df.columns]
    s_rows = [tuple(r) for r in df.collect()]
    t0 = time.perf_counter()
    res = con.execute(spec.oracle)
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()
    oracle_s = time.perf_counter() - t0
    return _compare(s_cols, s_rows, d_cols, d_rows), oracle_s


def _compare(s_cols, s_rows, d_cols, d_rows) -> str | None:
    if sorted(s_cols) != sorted(d_cols):
        return f"columns spark={s_cols} duckdb={d_cols}"
    if len(s_rows) != len(d_rows):
        return f"row count spark={len(s_rows)} duckdb={len(d_rows)}"
    s, d = _canonical(s_cols, s_rows), _canonical(d_cols, d_rows)
    if s != d:
        first = next((a, b) for a, b in zip(s, d) if a != b)
        return f"values differ, first: spark={first[0]} duckdb={first[1]}"
    return None


def load_mismatch(db_path: str, table: str, source: str, check_sql: str, stats) -> str | None:
    """Compare the target table and the call's ``LoadStats`` with what
    DuckDB computes from ``source`` under the same CHECK predicate."""
    con = duckdb.connect(db_path)
    try:
        con.execute(
            f"CREATE TEMP VIEW expected AS SELECT o_orderkey, o_custkey, o_orderstatus, "
            f"CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, "
            f"CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority "
            f"FROM read_parquet('{source}') WHERE {check_sql}"
        )
        n_src = con.execute(f"SELECT count(*) FROM read_parquet('{source}')").fetchone()[0]
        n_ok = con.execute("SELECT count(*) FROM expected").fetchone()[0]
        n_tgt = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        n_diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM {table}))"
            f" + (SELECT count(*) FROM (SELECT * FROM {table} EXCEPT ALL SELECT * FROM expected))"
        ).fetchone()[0]
    finally:
        con.close()
    got = (stats.rows_seen, stats.rows_loaded, stats.rows_rejected, n_tgt, n_diff)
    want = (n_src, n_ok, n_src - n_ok, n_ok, 0)
    if got != want:
        return (
            "(rows_seen, rows_loaded, rows_rejected, table rows, differing rows) "
            f"= {got}, expected {want}"
        )
    return None
