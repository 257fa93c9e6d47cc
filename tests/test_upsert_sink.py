"""Integration tests for the upsert sink against a real DBAPI target
(SQLite — shares the ``ON CONFLICT .. EXCLUDED`` syntax with Postgres),
covering every branch of the reference's sink logic: upsert-as-insert,
upsert-as-update, composite keys, no-key append, savepoint quarantine +
batch bisection, early abort, and the staging-table merge strategy."""

from __future__ import annotations

import functools
import sqlite3

import pytest

from pyspark_postgres_loader_spark.sinks import (
    build_insert_sql,
    build_upsert_sql,
    upsert_dataframe,
)
from pyspark_postgres_loader_spark.sinks.sql_builder import (
    ASYNCPG,
    POSTGRES,
    SQLITE,
    select_rows,
)
from pyspark_postgres_loader_spark.sinks.upsert import upsert_via_staging


def _connect(path: str):
    conn = sqlite3.connect(path, timeout=30)
    return conn


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "sink.db")
    conn = sqlite3.connect(path)
    yield path, conn
    conn.close()


# --- SQL text generation (golden strings ≈ asyncpg_database_helper.py:195-258)

def test_upsert_sql_single_key():
    sql = build_upsert_sql(["id", "a", "b"], "t", ["id"], dialect=POSTGRES)
    assert sql == (
        "INSERT INTO t (id, a, b) VALUES (%s, %s, %s)"
        " ON CONFLICT (id) DO UPDATE SET (a, b) = (EXCLUDED.a, EXCLUDED.b)"
    )


def test_upsert_sql_composite_key_single_update_col():
    sql = build_upsert_sql(["k1", "k2", "v"], "s.t", ["k1", "k2"], dialect=SQLITE)
    assert sql == (
        "INSERT INTO s.t (k1, k2, v) VALUES (?, ?, ?)"
        " ON CONFLICT (k1, k2) DO UPDATE SET v = EXCLUDED.v"
    )


def test_upsert_sql_no_key_is_plain_insert():
    # reference: asyncpg handles None (229-230); psycopg2 variant crashes
    # (psycopg2_database_helper.py:226) — we follow the correct path
    assert build_upsert_sql(["a", "b"], "t", None) == build_insert_sql(["a", "b"], "t")


def test_upsert_sql_all_cols_in_key_do_nothing():
    sql = build_upsert_sql(["k1", "k2"], "t", ["k1", "k2"])
    assert sql.endswith("DO NOTHING")


def test_upsert_sql_asyncpg_numbered_placeholders():
    sql = build_upsert_sql(["id", "v"], "t", ["id"], dialect=ASYNCPG)
    assert "VALUES ($1, $2)" in sql


def test_upsert_sql_missing_key_col_raises():
    with pytest.raises(ValueError, match="unique key"):
        build_upsert_sql(["a"], "t", ["id"])


def test_upsert_sql_select_row_source():
    # the DuckDB chunk relation and the staging merge share the tail
    sql = build_upsert_sql(
        ["id", "a"], "t", ["id"], rows=select_rows(["id", "a"], "rel", where="true")
    )
    assert sql == (
        "INSERT INTO t (id, a) SELECT id, a FROM rel WHERE true"
        " ON CONFLICT (id) DO UPDATE SET a = EXCLUDED.a"
    )


def test_cols_not_for_update_excluded():
    sql = build_upsert_sql(["id", "a", "created"], "t", ["id"], ["created"])
    assert "EXCLUDED.created" not in sql and "EXCLUDED.a" in sql


# --- end-to-end sink behavior ------------------------------------------------

def test_upsert_insert_then_update(spark, db):
    path, conn = db
    conn.execute("CREATE TABLE tgt (id INTEGER PRIMARY KEY, val TEXT, n INTEGER)")
    conn.commit()
    df1 = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id int, val string, n int")
    stats = upsert_dataframe(
        df1, functools.partial(_connect, path), "tgt", ["id"], dialect=SQLITE
    )
    assert (stats.rows_seen, stats.rows_loaded, stats.rows_rejected) == (2, 2, 0)

    df2 = spark.createDataFrame([(2, "B", 22), (3, "c", 30)], "id int, val string, n int")
    upsert_dataframe(df2, functools.partial(_connect, path), "tgt", ["id"], dialect=SQLITE)
    rows = dict(
        (r[0], (r[1], r[2])) for r in conn.execute("SELECT * FROM tgt ORDER BY id")
    )
    assert rows == {1: ("a", 10), 2: ("B", 22), 3: ("c", 30)}  # idempotent update


def test_upsert_composite_key(spark, db):
    path, conn = db
    conn.execute(
        "CREATE TABLE li (ok INTEGER, ln INTEGER, qty REAL, PRIMARY KEY (ok, ln))"
    )
    conn.commit()
    df = spark.createDataFrame(
        [(1, 1, 5.0), (1, 2, 6.0), (1, 1, 9.0)], "ok int, ln int, qty double"
    )
    # duplicate key within one load: last executed wins (batch order)
    upsert_dataframe(
        df, functools.partial(_connect, path), "li", ["ok", "ln"], dialect=SQLITE
    )
    vals = dict(((r[0], r[1]), r[2]) for r in conn.execute("SELECT * FROM li"))
    assert vals[(1, 2)] == 6.0 and (1, 1) in vals


def test_no_key_append_mode(spark, db):
    path, conn = db
    conn.execute("CREATE TABLE logs (msg TEXT)")
    conn.commit()
    df = spark.createDataFrame([("x",), ("x",)], "msg string")
    upsert_dataframe(df, functools.partial(_connect, path), "logs", None, dialect=SQLITE)
    upsert_dataframe(df, functools.partial(_connect, path), "logs", None, dialect=SQLITE)
    assert conn.execute("SELECT COUNT(*) FROM logs").fetchone()[0] == 4  # append


def test_quarantine_bisection_isolates_poison_rows(spark, db):
    path, conn = db
    conn.execute(
        "CREATE TABLE q (id INTEGER PRIMARY KEY, qty INTEGER NOT NULL CHECK (qty >= 0))"
    )
    conn.commit()
    rows = [(i, i if i % 7 != 3 else -1) for i in range(50)]  # 7 poison rows
    n_poison = sum(1 for _, q in rows if q < 0)
    df = spark.createDataFrame(rows, "id int, qty int")
    stats = upsert_dataframe(
        df,
        functools.partial(_connect, path),
        "q",
        ["id"],
        batch_size=16,
        dialect=SQLITE,
    )
    assert stats.rows_rejected == n_poison
    assert stats.rows_loaded == 50 - n_poison
    assert len(stats.error_messages) == n_poison
    assert "CHECK" in stats.error_messages[0] or "IntegrityError" in stats.error_messages[0]
    # every good row actually landed
    assert conn.execute("SELECT COUNT(*) FROM q").fetchone()[0] == 50 - n_poison


def test_early_abort_on_fully_rejected_batch(spark, db):
    path, conn = db
    conn.execute("CREATE TABLE q2 (id INTEGER, qty INTEGER CHECK (qty >= 0))")
    conn.commit()
    rows = [(i, -1) for i in range(40)]  # every row poison
    df = spark.createDataFrame(rows, "id int, qty int").coalesce(1)
    stats = upsert_dataframe(
        df,
        functools.partial(_connect, path),
        "q2",
        None,
        batch_size=10,
        dialect=SQLITE,
    )
    assert stats.aborted_partitions == 1
    assert stats.rows_seen == 10  # stopped after the first all-bad batch
    assert any("aborted" in m for m in stats.error_messages)


def test_staging_merge_last_wins(spark, db):
    # staging table NOT pre-created: upsert_via_staging must create it
    path, conn = db
    conn.execute("CREATE TABLE tgt2 (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()
    df = spark.createDataFrame([(1, "old"), (1, "new"), (2, "x")], "id int, v string")
    upsert_via_staging(
        df.coalesce(1),
        functools.partial(_connect, path),
        "tgt2",
        ["id"],
        dialect=SQLITE,
    )
    rows = dict(conn.execute("SELECT id, v FROM tgt2"))
    assert rows == {1: "new", 2: "x"}
    # staging is drained for the next run
    assert conn.execute("SELECT COUNT(*) FROM tgt2_staging").fetchone()[0] == 0


def test_staging_table_missing_seq_column_fails_descriptively(spark, db):
    """A staging table created by an older version (no _staged_seq)
    survives CREATE TABLE IF NOT EXISTS; the sink must probe and raise
    a message naming the column, not an opaque column-count error from
    the staged INSERT."""
    path, conn = db
    conn.execute("CREATE TABLE tgt3 (id INTEGER PRIMARY KEY, v TEXT)")
    conn.execute("CREATE TABLE tgt3_staging (id INTEGER, v TEXT)")  # legacy shape
    conn.commit()
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    with pytest.raises(RuntimeError, match="_staged_seq"):
        upsert_via_staging(
            df, functools.partial(_connect, path), "tgt3", ["id"], dialect=SQLITE
        )


def test_staging_merge_no_implicit_rowid_dependency(spark, db):
    """The merge must order by the explicit _staged_seq column (stamped
    Spark-side), never a dialect-implicit rowid: with parallelism > 1
    the winner is a function of DataFrame row order, so repeating the
    load yields the same final table."""
    path, conn = db
    conn.execute("CREATE TABLE tgt3 (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()
    rows = [(i % 10, f"v{i}") for i in range(100)]  # 10 keys × 10 versions
    df = spark.createDataFrame(rows, "id int, v string")
    for _ in range(2):  # idempotent across reruns
        upsert_via_staging(
            df,
            functools.partial(_connect, path),
            "tgt3",
            ["id"],
            parallelism=4,
            dialect=SQLITE,
        )
    got = dict(conn.execute("SELECT id, v FROM tgt3"))
    # last row per key in DataFrame order wins: key k ← v{90+k}
    assert got == {k: f"v{90 + k}" for k in range(10)}


def _duck_connect(path: str):
    import duckdb

    return duckdb.connect(path)


def test_staging_merge_duckdb_dialect(spark, tmp_path):
    duckdb_mod = pytest.importorskip("duckdb")
    path = str(tmp_path / "stage.duckdb")
    con = duckdb_mod.connect(path)
    con.execute("CREATE TABLE tgtd (id INTEGER PRIMARY KEY, v TEXT)")
    con.close()

    from pyspark_postgres_loader_spark.sinks.sql_builder import DUCKDB

    df = spark.createDataFrame([(1, "old"), (1, "new"), (2, "x")], "id int, v string")
    upsert_via_staging(
        df.coalesce(1),
        functools.partial(_duck_connect, path),
        "tgtd",
        ["id"],
        dialect=DUCKDB,
    )
    con = duckdb_mod.connect(path)
    rows = dict(con.execute("SELECT id, v FROM tgtd").fetchall())
    assert rows == {1: "new", 2: "x"}
    assert con.execute("SELECT COUNT(*) FROM tgtd_staging").fetchone()[0] == 0
    con.close()


def test_error_messages_capped(spark, db):
    from pyspark_postgres_loader_spark.sinks.upsert import _MAX_ERRORS

    path, conn = db
    conn.execute("CREATE TABLE capt (id INTEGER, qty INTEGER CHECK (qty >= 0))")
    conn.commit()
    n = _MAX_ERRORS + 50
    rows = [(i, -1) for i in range(n)]  # every row poison
    df = spark.createDataFrame(rows, "id int, qty int").coalesce(1)
    stats = upsert_dataframe(
        df,
        functools.partial(_connect, path),
        "capt",
        None,
        batch_size=n,  # single batch → no early abort, all rows bisected
        dialect=SQLITE,
    )
    assert stats.rows_rejected == n  # exact count survives the cap
    assert len(stats.error_messages) <= _MAX_ERRORS + 1
    assert stats.errors_truncated >= n - _MAX_ERRORS - 1


def test_empty_partitions_never_connect(spark, tmp_path):
    # 8 partitions, 1 row: connection_factory pointing at a read-only
    # missing dir would raise if an empty partition connected
    path = str(tmp_path / "lazy.db")
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE t (id INTEGER)")
    conn.commit()
    conn.close()
    df = spark.createDataFrame([(1,)], "id int").repartition(8)
    stats = upsert_dataframe(
        df, functools.partial(_connect, path), "t", None, parallelism=8, dialect=SQLITE
    )
    assert stats.rows_loaded == 1 and stats.partitions == 8


# --- real-DuckDB quarantine path (Arrow-relation chunks + no-savepoint
# commit-per-chunk + autocommit rollback tolerance + rejected-winner
# replay, all against an actual database file with a CHECK constraint)

def test_duckdb_multirow_quarantine_replay(spark, tmp_path):
    duckdb_mod = pytest.importorskip("duckdb")
    from pyspark_postgres_loader_spark.cli import make_file_db_connection_factory
    from pyspark_postgres_loader_spark.sinks.sql_builder import DUCKDB

    path = str(tmp_path / "quar.duckdb")
    con = duckdb_mod.connect(path)
    con.execute(
        "CREATE TABLE q (k BIGINT PRIMARY KEY, v DOUBLE CHECK (v >= 0))"
    )
    con.close()

    # the round-8 replay repro: key 1's WINNING (last) row is poison, so
    # its earlier good occurrence must be replayed — final state keeps
    # (1, 5.0) and stats count the poison row as rejected; key 2 loads.
    df = spark.createDataFrame(
        [(1, 5.0), (1, -1.0), (2, 7.0)], "k long, v double"
    ).coalesce(1)
    stats = upsert_dataframe(
        df,
        make_file_db_connection_factory("duckdb", path),
        "q",
        ["k"],
        batch_size=10,
        dialect=DUCKDB,
    )
    assert (stats.rows_seen, stats.rows_loaded, stats.rows_rejected) == (3, 2, 1)
    assert stats.aborted_partitions == 0
    con = duckdb_mod.connect(path)
    assert dict(con.execute("SELECT k, v FROM q ORDER BY k").fetchall()) == {
        1: 5.0,
        2: 7.0,
    }
    con.close()


def test_duckdb_multirow_batch_bisection(spark, tmp_path):
    """A poison row inside one Arrow-relation INSERT bisects down to
    the single bad row on DuckDB (no SAVEPOINT: commit-per-chunk with
    tolerated rollback-on-autocommit), loading every good row."""
    duckdb_mod = pytest.importorskip("duckdb")
    from pyspark_postgres_loader_spark.cli import make_file_db_connection_factory
    from pyspark_postgres_loader_spark.sinks.sql_builder import DUCKDB

    path = str(tmp_path / "bisect.duckdb")
    con = duckdb_mod.connect(path)
    con.execute(
        "CREATE TABLE b (k BIGINT PRIMARY KEY, v DOUBLE CHECK (v >= 0))"
    )
    con.close()

    rows = [(i, float(i)) if i != 13 else (i, -1.0) for i in range(40)]
    df = spark.createDataFrame(rows, "k long, v double").coalesce(1)
    stats = upsert_dataframe(
        df,
        make_file_db_connection_factory("duckdb", path),
        "b",
        ["k"],
        batch_size=40,  # one statement → CHECK fails → bisection
        dialect=DUCKDB,
    )
    assert (stats.rows_loaded, stats.rows_rejected) == (39, 1)
    con = duckdb_mod.connect(path)
    got = dict(con.execute("SELECT k, v FROM b").fetchall())
    con.close()
    assert len(got) == 39 and 13 not in got
