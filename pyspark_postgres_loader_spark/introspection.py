"""Target-catalog introspection: column types + unique-key discovery.

Reference parity: the reference runs three hand-written ``pg_catalog``
queries driver-side (sql.py:2-80) to learn the target table's columns/
types (ordered, live columns only) and its primary key, falling back to
an arbitrary unique index (load_postgres_from_spark_df.py:198-224).

We re-express the same capability over standard ``information_schema``
(portable, and by construction not a copy of the reference's
pg_catalog joins), plus a SQLite PRAGMA backend so the full pipeline is
integration-testable in-process. Composite keys come back as ordered
lists (the reference round-trips them through a comma-joined string —
sql.py:28 / load_postgres_from_spark_df.py:217 — which we skip).
"""

from __future__ import annotations

import functools


def _split_table(table: str) -> tuple[str, str]:
    if "." in table:
        schema, name = table.split(".", 1)
    else:
        schema, name = "public", table
    return schema, name


# --- Postgres / information_schema backend ---------------------------------

PG_COLUMNS_SQL = """
SELECT column_name,
       CASE WHEN data_type = 'numeric' AND numeric_precision IS NOT NULL
            THEN 'numeric(' || numeric_precision || ',' || numeric_scale || ')'
            ELSE data_type END AS data_type
FROM information_schema.columns
WHERE table_schema = %s AND table_name = %s
ORDER BY ordinal_position
"""

PG_PRIMARY_KEY_SQL = """
SELECT kcu.column_name
FROM information_schema.table_constraints tc
JOIN information_schema.key_column_usage kcu
  ON kcu.constraint_name = tc.constraint_name
 AND kcu.table_schema = tc.table_schema
WHERE tc.table_schema = %s AND tc.table_name = %s
  AND tc.constraint_type = 'PRIMARY KEY'
ORDER BY kcu.ordinal_position
"""

PG_UNIQUE_KEY_SQL = """
SELECT kcu.constraint_name, kcu.column_name
FROM information_schema.table_constraints tc
JOIN information_schema.key_column_usage kcu
  ON kcu.constraint_name = tc.constraint_name
 AND kcu.table_schema = tc.table_schema
WHERE tc.table_schema = %s AND tc.table_name = %s
  AND tc.constraint_type = 'UNIQUE'
ORDER BY kcu.constraint_name, kcu.ordinal_position
"""


def _to_numbered(sql: str) -> str:
    """``%s`` placeholders → asyncpg-style ``$1..$n`` in order."""
    out, n = [], 0
    for part in sql.split("%s"):
        out.append(part)
        n += 1
        out.append(f"${n}")
    out.pop()  # one trailing placeholder too many
    return "".join(out)


def fetch_target_schema_pg(conn, table: str, *, numbered: bool = False) -> dict[str, str]:
    """Ordered {column: pg_type} for the target table (≈ sql.py:2-24)."""
    schema, name = _split_table(table)
    sql = _to_numbered(PG_COLUMNS_SQL) if numbered else PG_COLUMNS_SQL
    cur = conn.cursor()
    cur.execute(sql, (schema, name))
    out = {col: dtype for col, dtype in cur.fetchall()}
    cur.close()
    return out


def fetch_unique_key_pg(conn, table: str, *, numbered: bool = False) -> list[str] | None:
    """Primary key, else the first unique constraint, else None →
    insert-only mode (≈ sql.py:26-80 + load_postgres_from_spark_df.py:207-224)."""
    schema, name = _split_table(table)
    xlate = _to_numbered if numbered else (lambda s: s)
    cur = conn.cursor()
    cur.execute(xlate(PG_PRIMARY_KEY_SQL), (schema, name))
    pk = [r[0] for r in cur.fetchall()]
    if pk:
        cur.close()
        return pk
    cur.execute(xlate(PG_UNIQUE_KEY_SQL), (schema, name))
    rows = cur.fetchall()
    cur.close()
    if not rows:
        return None
    first = rows[0][0]  # arbitrary-but-deterministic first constraint
    return [col for cname, col in rows if cname == first]


# --- SQLite backend (integration tests without a Postgres server) ----------

_SQLITE_TO_PG = {
    "INTEGER": "bigint",
    "INT": "bigint",
    "REAL": "double precision",
    "TEXT": "text",
    "BLOB": "bytea",
}


def fetch_target_schema_sqlite(conn, table: str) -> dict[str, str]:
    cur = conn.cursor()
    cur.execute(f"PRAGMA table_info({table})")
    out = {}
    for _cid, name, dtype, _notnull, _default, _pk in cur.fetchall():
        base = (dtype or "TEXT").upper().split("(")[0].strip()
        out[name] = _SQLITE_TO_PG.get(base, dtype.lower() if dtype else "text")
    cur.close()
    return out


def fetch_unique_key_sqlite(conn, table: str) -> list[str] | None:
    cur = conn.cursor()
    cur.execute(f"PRAGMA table_info({table})")
    pk = [(pk_order, name) for _cid, name, _t, _n, _d, pk_order in cur.fetchall() if pk_order]
    if pk:
        cur.close()
        return [name for _order, name in sorted(pk)]
    cur.execute(f"PRAGMA index_list({table})")
    for _seq, idx_name, is_unique, _origin, _partial in cur.fetchall():
        if is_unique:
            cur.execute(f"PRAGMA index_info({idx_name})")
            cols = [r[2] for r in cur.fetchall()]
            cur.close()
            return cols
    cur.close()
    return None


# --- DuckDB backend ---------------------------------------------------------
# DuckDB ships information_schema.columns but its DBAPI wants ``?``
# placeholders (the postgres introspector's %s would throw before any
# data moved); key discovery uses duckdb_constraints() which exists on
# every DuckDB version we target. An unqualified name resolves in
# current_schema() (``main`` unless the connection set another), the
# same schema the sink's unqualified INSERT writes to.

DUCK_COLUMNS_SQL = """
SELECT column_name, lower(data_type) AS data_type
FROM information_schema.columns
WHERE table_schema = coalesce(?, current_schema()) AND table_name = ?
ORDER BY ordinal_position
"""

DUCK_KEY_SQL = """
SELECT constraint_column_names FROM duckdb_constraints()
WHERE schema_name = coalesce(?, current_schema()) AND table_name = ?
  AND constraint_type = ?
ORDER BY constraint_index
"""


def _duck_schema_and_name(table: str) -> tuple[str | None, str]:
    schema, _, name = table.rpartition(".")
    return schema or None, name


def fetch_target_schema_duckdb(conn, table: str) -> dict[str, str]:
    cur = conn.cursor()
    cur.execute(DUCK_COLUMNS_SQL, _duck_schema_and_name(table))
    out = {col: dtype for col, dtype in cur.fetchall()}
    cur.close()
    return out


def fetch_unique_key_duckdb(conn, table: str) -> list[str] | None:
    """Primary key, else the first unique constraint, else None."""
    cur = conn.cursor()
    for kind in ("PRIMARY KEY", "UNIQUE"):
        cur.execute(DUCK_KEY_SQL, (*_duck_schema_and_name(table), kind))
        rows = cur.fetchall()
        if rows:
            cur.close()
            return list(rows[0][0])
    cur.close()
    return None


INTROSPECTORS = {
    "postgres": (fetch_target_schema_pg, fetch_unique_key_pg),
    "asyncpg": (
        functools.partial(fetch_target_schema_pg, numbered=True),
        functools.partial(fetch_unique_key_pg, numbered=True),
    ),
    "sqlite": (fetch_target_schema_sqlite, fetch_unique_key_sqlite),
    "duckdb": (fetch_target_schema_duckdb, fetch_unique_key_duckdb),
}
