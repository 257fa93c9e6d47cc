"""Upsert/insert SQL text generation, dialect-aware.

Reference parity: ``_build_upsert_query`` (asyncpg_database_helper.py:
195-258 / psycopg2_database_helper.py:190-251) builds
``INSERT INTO t (c1..cn) VALUES <placeholders>
ON CONFLICT (k) DO UPDATE SET (u1..um) = (EXCLUDED.u1..)`` with:

- key columns excluded from the update list;
- the 1-column vs n-column SET syntax switch (asyncpg:245-248);
- ``unique_key=None`` → plain INSERT (asyncpg:229-230 — note the
  psycopg2 variant crashes on None, a latent reference bug we fix);
- optional ``cols_not_for_update`` kept out of the SET list.

We generalize the placeholder style into a Dialect so the same sink
machinery runs against Postgres (%s), SQLite (?) and DuckDB (?) —
all three share the ``ON CONFLICT (k) DO UPDATE SET .. EXCLUDED.*``
syntax — which is how the quarantine logic gets real integration tests
without a Postgres server.

The row source is a parameter: ``VALUES <placeholders>`` by default,
or any ``SELECT`` (:func:`select_rows`) — the DuckDB sink's registered
Arrow relation and the staging merge both render through
:func:`build_upsert_sql`, so the conflict tail is written once.
"""

from __future__ import annotations

from dataclasses import dataclass


# How the sink sends one chunk of rows (see sinks/upsert.chunk_writer):
EXECUTEMANY = "executemany"  # one parameterized statement per row
VALUES = "values"  # one multi-row VALUES statement, params flattened
ARROW = "arrow"  # one INSERT .. SELECT over a registered Arrow table


@dataclass(frozen=True)
class Dialect:
    name: str
    placeholder: str  # per-value placeholder for executemany
    # SAVEPOINT/ROLLBACK TO support (DuckDB has none — the sink's batch
    # quarantine falls back to commit-per-chunk + rollback-on-error)
    supports_savepoint: bool = True
    # Chunk form. ``VALUES`` is reference parity with psycopg2's
    # ``execute_values(.., page_size=len(batch))``
    # (psycopg2_database_helper.py:87-91: ONE multi-row statement per
    # batch — generic ``executemany`` on real psycopg2 degrades to one
    # round trip per row). ``ARROW`` is DuckDB's: binding thousands of
    # ``?`` parameters costs DuckDB ~10x more than scanning the same
    # rows from a registered Arrow table. The others keep generic
    # ``executemany`` like the reference's asyncpg personality.
    chunk_form: str = EXECUTEMANY

    def placeholders(self, n: int, start: int = 0) -> str:
        if self.placeholder == "$n":  # asyncpg-style numbered
            return ", ".join(f"${start + i + 1}" for i in range(n))
        return ", ".join([self.placeholder] * n)

    def values_clause(self, n_cols: int, n_rows: int = 1) -> str:
        """``(ph..), (ph..), ..`` — one group per row; ``$n`` numbering
        continues across rows ($1..$n_cols*n_rows)."""
        if self.placeholder == "$n":
            return ", ".join(
                f"({self.placeholders(n_cols, start=r * n_cols)})"
                for r in range(n_rows)
            )
        row = f"({self.placeholders(n_cols)})"
        return ", ".join([row] * n_rows)


POSTGRES = Dialect("postgres", "%s", chunk_form=VALUES)
ASYNCPG = Dialect("asyncpg", "$n")
SQLITE = Dialect("sqlite", "?")
DUCKDB = Dialect("duckdb", "?", supports_savepoint=False, chunk_form=ARROW)

DIALECTS = {d.name: d for d in (POSTGRES, ASYNCPG, SQLITE, DUCKDB)}


def select_rows(columns: list[str], relation: str, where: str | None = None) -> str:
    """``SELECT c1..cn FROM relation [WHERE ..]`` as an INSERT row
    source. SQLite needs the WHERE before an ``ON CONFLICT`` tail
    (otherwise ``ON`` parses as a join constraint)."""
    sql = f"SELECT {', '.join(columns)} FROM {relation}"
    return f"{sql} WHERE {where}" if where else sql


def build_insert_sql(
    columns: list[str],
    table: str,
    dialect: Dialect = POSTGRES,
    n_rows: int = 1,
    rows: str | None = None,
) -> str:
    """Plain INSERT (the no-unique-key fallback, asyncpg:229-230).
    ``n_rows > 1`` renders the execute_values-style multi-row VALUES
    form (one statement for the whole batch); ``rows`` replaces the
    VALUES list with another row source (:func:`select_rows`)."""
    if rows is None:
        rows = f"VALUES {dialect.values_clause(len(columns), n_rows)}"
    return f"INSERT INTO {table} ({', '.join(columns)}) {rows}"


def build_upsert_sql(
    columns: list[str],
    table: str,
    unique_key: list[str] | None,
    cols_not_for_update: list[str] | None = None,
    dialect: Dialect = POSTGRES,
    n_rows: int = 1,
    rows: str | None = None,
) -> str:
    """INSERT .. ON CONFLICT (key) DO UPDATE SET; falls back to plain
    INSERT when ``unique_key`` is falsy (insert-only mode). ``n_rows``
    and ``rows`` choose the row source as in :func:`build_insert_sql`."""
    base = build_insert_sql(columns, table, dialect, n_rows, rows)
    if not unique_key:
        return base

    missing = [k for k in unique_key if k not in columns]
    if missing:
        raise ValueError(f"unique key columns {missing} not present in {columns}")

    excluded = set(unique_key) | set(cols_not_for_update or [])
    update_cols = [c for c in columns if c not in excluded]
    conflict = f" ON CONFLICT ({', '.join(unique_key)})"
    if not update_cols:
        return f"{base}{conflict} DO NOTHING"
    if len(update_cols) == 1:
        # single-column SET has no tuple syntax (asyncpg:245-248)
        set_clause = f"{update_cols[0]} = EXCLUDED.{update_cols[0]}"
    else:
        lhs = ", ".join(update_cols)
        rhs = ", ".join(f"EXCLUDED.{c}" for c in update_cols)
        set_clause = f"({lhs}) = ({rhs})"
    return f"{base}{conflict} DO UPDATE SET {set_clause}"
