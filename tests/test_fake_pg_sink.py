"""End-to-end sink tests against the POSTGRES (%s) and ASYNCPG ($n)
dialects via the fake Postgres DBAPI (tests/fake_pg.py).

The SQLite/DuckDB dialect tests in test_upsert_sink.py exercise the
sink machinery end-to-end but with ``?`` placeholders; these tests
EXECUTE the exact psycopg2/asyncpg-style strings the reference's
target drivers receive (psycopg2_database_helper.py:87-91,
asyncpg_database_helper.py:87-91) — the fake driver rejects any
foreign placeholder style, so a dialect mix-up fails loudly instead
of passing through SQLite's tolerance.
"""

from __future__ import annotations

import functools

import pytest

from tests import fake_pg
from pyspark_postgres_loader_spark.sinks.async_adapter import adapt_async_factory
from pyspark_postgres_loader_spark.sinks.sql_builder import ASYNCPG, POSTGRES
from pyspark_postgres_loader_spark.sinks.upsert import (
    upsert_dataframe,
    upsert_via_staging,
)


@pytest.fixture()
def pg(tmp_path):
    path = str(tmp_path / "fakepg.db")
    conn = fake_pg.connect(path)
    yield path, conn
    conn.close()


def test_upsert_postgres_paramstyle_end_to_end(spark, pg):
    path, conn = pg
    cur = conn.cursor()
    cur.execute("CREATE TABLE tgt (id INTEGER PRIMARY KEY, val TEXT, n INTEGER)")
    conn.commit()

    df1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id int, val string, n int"
    )
    stats = upsert_dataframe(
        df1, functools.partial(fake_pg.connect, path), "tgt", ["id"], dialect=POSTGRES
    )
    assert (stats.rows_seen, stats.rows_loaded, stats.rows_rejected) == (2, 2, 0)

    df2 = spark.createDataFrame([(2, "B", 22), (3, "c", 30)], "id int, val string, n int")
    upsert_dataframe(
        df2, functools.partial(fake_pg.connect, path), "tgt", ["id"], dialect=POSTGRES
    )
    rows = dict(
        (r[0], (r[1], r[2]))
        for r in conn.cursor()._cur.execute("SELECT * FROM tgt ORDER BY id")
    )
    assert rows == {1: ("a", 10), 2: ("B", 22), 3: ("c", 30)}

    # the EXACT psycopg2-style string was executed, not just generated —
    # and through the execute_values-style fast path (reference
    # psycopg2_database_helper.py:87-91): ONE multi-row VALUES statement
    # for the whole 2-row batch, not one statement per row
    assert (
        "INSERT INTO tgt (id, val, n) VALUES (%s, %s, %s), (%s, %s, %s)"
        " ON CONFLICT (id) DO UPDATE SET (val, n) = (EXCLUDED.val, EXCLUDED.n)"
    ) in fake_pg.executed_sql(path)
    single_row = (
        "INSERT INTO tgt (id, val, n) VALUES (%s, %s, %s)"
        " ON CONFLICT (id) DO UPDATE SET (val, n) = (EXCLUDED.val, EXCLUDED.n)"
    )
    assert single_row not in fake_pg.executed_sql(path)


def test_quarantine_bisection_postgres_paramstyle(spark, pg):
    """Savepoint-guarded bisection through the %s dialect: good rows
    land, poison rows are isolated, and the savepoint statements the
    guard issues actually executed."""
    path, conn = pg
    cur = conn.cursor()
    cur.execute(
        "CREATE TABLE q (id INTEGER PRIMARY KEY, qty INTEGER NOT NULL CHECK (qty >= 0))"
    )
    conn.commit()
    rows = [(i, i if i % 7 != 3 else -1) for i in range(50)]
    n_poison = sum(1 for _, q in rows if q < 0)
    df = spark.createDataFrame(rows, "id int, qty int")
    stats = upsert_dataframe(
        df,
        functools.partial(fake_pg.connect, path),
        "q",
        ["id"],
        batch_size=16,
        dialect=POSTGRES,
    )
    assert stats.rows_rejected == n_poison
    assert stats.rows_loaded == 50 - n_poison
    n_in_db = conn.cursor()._cur.execute("SELECT COUNT(*) FROM q").fetchone()[0]
    assert n_in_db == 50 - n_poison
    executed = fake_pg.executed_sql(path)
    assert any(s.startswith("SAVEPOINT") for s in executed)
    assert any(s.startswith("ROLLBACK TO SAVEPOINT") for s in executed)


def test_multirow_one_statement_per_surviving_batch(spark, pg):
    """execute_values parity (reference psycopg2_database_helper.py:
    87-91): through the %s dialect every surviving chunk executes as
    EXACTLY ONE multi-row VALUES statement — a clean 3-batch load of
    48 rows at batch_size=16 issues 3 INSERTs total, never one per
    row; and with a poison row the bisection worklist still isolates
    it while every surviving sub-chunk stays one-statement."""
    path, conn = pg
    cur = conn.cursor()
    cur.execute("CREATE TABLE m (id INTEGER PRIMARY KEY, v INTEGER)")
    conn.commit()

    df = spark.createDataFrame([(i, i) for i in range(48)], "id int, v int")
    stats = upsert_dataframe(
        df.coalesce(1),
        functools.partial(fake_pg.connect, path),
        "m",
        ["id"],
        batch_size=16,
        dialect=POSTGRES,
    )
    assert (stats.rows_loaded, stats.rows_rejected) == (48, 0)
    inserts = [s for s in fake_pg.executed_sql(path) if s.startswith("INSERT INTO m ")]
    assert len(inserts) == 3, inserts  # one statement per batch
    assert all(s.count("(%s, %s)") == 16 for s in inserts)

    # poison row: bisection still isolates it; surviving chunks remain
    # single multi-row statements (no per-row fallback on the good side)
    cur.execute(
        "CREATE TABLE p (id INTEGER PRIMARY KEY, v INTEGER NOT NULL CHECK (v >= 0))"
    )
    conn.commit()
    rows = [(i, i if i != 5 else -1) for i in range(16)]
    stats = upsert_dataframe(
        spark.createDataFrame(rows, "id int, v int").coalesce(1),
        functools.partial(fake_pg.connect, path),
        "p",
        ["id"],
        batch_size=16,
        dialect=POSTGRES,
    )
    assert (stats.rows_loaded, stats.rows_rejected) == (15, 1)
    n_in_db = conn.cursor()._cur.execute("SELECT COUNT(*) FROM p").fetchone()[0]
    assert n_in_db == 15
    p_inserts = [
        s for s in fake_pg.executed_sql(path) if s.startswith("INSERT INTO p ")
    ]
    # worklist bisection on [0..15] with poison at 5: every attempted
    # chunk is one statement — O(log2 16) splits, far fewer than 16
    # per-row statements, and exactly one single-group statement failed
    assert 1 <= len(p_inserts) <= 11, p_inserts


def test_fake_pg_rejects_multirow_double_affect(pg):
    """The fake enforces PostgreSQL's rule (SQLSTATE 21000) that one
    multi-row ON CONFLICT DO UPDATE cannot touch the same key twice —
    SQLite's sequential tolerance is exactly what hid this before."""
    path, conn = pg
    cur = conn.cursor()
    cur.execute("CREATE TABLE d2 (id INTEGER PRIMARY KEY, v INTEGER)")
    conn.commit()
    sql = (
        "INSERT INTO d2 (id, v) VALUES (%s, %s), (%s, %s)"
        " ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v"
    )
    with pytest.raises(fake_pg.FakePgError, match="affect row a second time"):
        cur.execute(sql, (1, 10, 1, 11))
    # distinct keys in one statement stay fine
    cur.execute(sql, (1, 10, 2, 20))
    conn.commit()


def test_multirow_duplicate_keys_dedup_last_wins(spark, pg):
    """A batch holding the same unique key more than once must NOT
    render those duplicates into one multi-row statement (real Postgres
    errors the whole chunk into bisection). The sink dedups each batch
    to its LAST occurrence per key — same final state as sequential
    executemany — and still issues ONE statement for the batch."""
    path, conn = pg
    cur = conn.cursor()
    cur.execute("CREATE TABLE dup (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()

    rows = [(1, "first"), (2, "only"), (1, "middle"), (3, "x"), (1, "last")]
    stats = upsert_dataframe(
        spark.createDataFrame(rows, "id int, v string").coalesce(1),
        functools.partial(fake_pg.connect, path),
        "dup",
        ["id"],
        batch_size=16,
        dialect=POSTGRES,
    )
    # superseded duplicates count as loaded (applied then overwritten)
    assert (stats.rows_seen, stats.rows_loaded, stats.rows_rejected) == (5, 5, 0)
    got = dict(conn.cursor()._cur.execute("SELECT id, v FROM dup"))
    assert got == {1: "last", 2: "only", 3: "x"}
    inserts = [
        s for s in fake_pg.executed_sql(path) if s.startswith("INSERT INTO dup ")
    ]
    assert len(inserts) == 1  # one deduped multi-row statement, no bisection
    assert inserts[0].count("(%s, %s)") == 3


def test_dedup_replays_superseded_rows_when_winner_rejected(spark, pg):
    """When the dedup fast path drops earlier occurrences of a key and
    the key's LAST occurrence is then rejected, the superseded
    occurrences must be replayed — sequential executemany would have
    applied (1,5) before quarantining (1,-1) alone, so the final table
    must hold (1,5) and the stats must credit it as loaded."""
    path, conn = pg
    cur = conn.cursor()
    cur.execute(
        "CREATE TABLE rw (id INTEGER PRIMARY KEY,"
        " v INTEGER NOT NULL CHECK (v >= 0))"
    )
    conn.commit()

    rows = [(1, 5), (1, -1), (2, 7)]
    stats = upsert_dataframe(
        spark.createDataFrame(rows, "id int, v int").coalesce(1),
        functools.partial(fake_pg.connect, path),
        "rw",
        ["id"],
        batch_size=16,
        dialect=POSTGRES,
    )
    assert (stats.rows_seen, stats.rows_loaded, stats.rows_rejected) == (3, 2, 1)
    got = dict(conn.cursor()._cur.execute("SELECT id, v FROM rw ORDER BY id"))
    assert got == {1: 5, 2: 7}


def test_dedup_replay_chain_last_success_wins(spark, pg):
    """Replay applies superseded occurrences in original order with
    per-row quarantine: key 1 carries [good 3, poison -2, poison -9];
    the winner (-9) is rejected, the replay applies 3 then rejects -2 —
    final state (1,3), loaded counts only the rows that actually
    landed. Keys whose winner loaded still credit their superseded
    duplicates as loaded (key 2)."""
    path, conn = pg
    cur = conn.cursor()
    cur.execute(
        "CREATE TABLE rw2 (id INTEGER PRIMARY KEY,"
        " v INTEGER NOT NULL CHECK (v >= 0))"
    )
    conn.commit()

    rows = [(1, 3), (2, 1), (1, -2), (2, 4), (1, -9), (3, 6)]
    stats = upsert_dataframe(
        spark.createDataFrame(rows, "id int, v int").coalesce(1),
        functools.partial(fake_pg.connect, path),
        "rw2",
        ["id"],
        batch_size=16,
        dialect=POSTGRES,
    )
    # loaded: (1,3) replayed, (2,1) superseded-by-loaded-winner, (2,4),
    # (3,6); rejected: (1,-2) replayed-and-rejected, (1,-9) winner
    assert (stats.rows_seen, stats.rows_loaded, stats.rows_rejected) == (6, 4, 2)
    got = dict(conn.cursor()._cur.execute("SELECT id, v FROM rw2 ORDER BY id"))
    assert got == {1: 3, 2: 4, 3: 6}


def test_bisection_replays_rows_in_original_order(spark, pg):
    """Bisection is order-preserving: when a poison row forces the
    worklist to split, surviving sub-chunks execute first-half-first,
    so last-occurrence-wins survives the split (a LIFO pop of
    [first, second] would replay the halves reversed)."""
    path, conn = pg
    cur = conn.cursor()
    cur.execute(
        "CREATE TABLE ordq (id INTEGER PRIMARY KEY, v TEXT,"
        " n INTEGER NOT NULL CHECK (n >= 0))"
    )
    conn.commit()
    # poison at index 2 forces splits; key 1 appears in BOTH halves of
    # the initial chunk. Multirow dedup already collapses them, so this
    # drives the raw quarantine directly to pin the worklist order.
    import dataclasses

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from pyspark_postgres_loader_spark.sinks.sql_builder import EXECUTEMANY
    from pyspark_postgres_loader_spark.sinks.upsert import (
        chunk_writer,
        execute_batch_with_quarantine,
    )

    schema = StructType([
        StructField("id", LongType()),
        StructField("v", StringType()),
        StructField("n", LongType()),
    ])
    write_chunk = chunk_writer(
        schema, "ordq", ["id"],
        dialect=dataclasses.replace(POSTGRES, chunk_form=EXECUTEMANY),
    )
    batch = [
        (1, "first", 0),
        (2, "a", 0),
        (9, "poison", -1),
        (3, "b", 0),
        (1, "last", 0),
    ]
    msgs: list[str] = []
    loaded, rejected, _ = execute_batch_with_quarantine(
        cur, write_chunk, batch, msgs, conn=conn, use_savepoint=True
    )
    conn.commit()
    assert (loaded, rejected) == (4, 1)
    got = dict(
        conn.cursor()._cur.execute("SELECT id, v FROM ordq ORDER BY id")
    )
    assert got[1] == "last", got


def test_staging_merge_postgres_paramstyle(spark, pg):
    path, conn = pg
    cur = conn.cursor()
    cur.execute("CREATE TABLE tgt2 (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()
    df = spark.createDataFrame([(1, "old"), (1, "new"), (2, "x")], "id int, v string")
    upsert_via_staging(
        df.coalesce(1),
        functools.partial(fake_pg.connect, path),
        "tgt2",
        ["id"],
        dialect=POSTGRES,
    )
    rows = dict(conn.cursor()._cur.execute("SELECT id, v FROM tgt2"))
    assert rows == {1: "new", 2: "x"}
    # the staged INSERT used %s placeholders end-to-end
    assert any(
        s.startswith("INSERT INTO tgt2_staging") and "%s" in s
        for s in fake_pg.executed_sql(path)
    )


def test_async_adapter_asyncpg_paramstyle_end_to_end(spark, pg):
    """The full reference async path: $n placeholder SQL through the
    async adapter (≈ asyncpg_database_helper.py:123-192), upsert +
    update semantics, explicit BEGIN/COMMIT transactions."""
    path, conn = pg
    cur = conn.cursor()
    cur.execute("CREATE TABLE atgt (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()

    factory = adapt_async_factory(functools.partial(fake_pg.async_connect, path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    stats = upsert_dataframe(df, factory, "atgt", ["id"], dialect=ASYNCPG)
    assert stats.rows_loaded == 2

    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "id int, v string")
    upsert_dataframe(df2, factory, "atgt", ["id"], dialect=ASYNCPG)
    rows = dict(conn.cursor()._cur.execute("SELECT id, v FROM atgt"))
    assert rows == {1: "a", 2: "B", 3: "c"}

    executed = fake_pg.executed_sql(path)
    assert (
        "INSERT INTO atgt (id, v) VALUES ($1, $2)"
        " ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v"
    ) in executed
    assert "BEGIN" in executed and "COMMIT" in executed


class _NoStop:
    """Shared test SparkSession wrapper: the CLI stops its session in a
    finally block, which must not kill the session-scoped fixture."""

    def __init__(self, s):
        self._s = s

    def __getattr__(self, k):
        return getattr(self._s, k)

    def stop(self):
        pass


def test_cli_asyncpg_driver_end_to_end(spark, tmp_path, monkeypatch):
    """--pg_python_package asyncpg (reference main.py:18-22) drives a
    full CSV → introspect → align → upsert load through the async
    adapter with $n placeholder SQL — credentials/driver resolution is
    the only faked seam; flag plumbing, dialect switch, introspection,
    and the sink all run for real."""
    import functools

    from pyspark_postgres_loader_spark import cli

    path = str(tmp_path / "clipg.db")
    conn = fake_pg.connect(path)
    cur = conn.cursor()
    cur.execute("CREATE TABLE tgt (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()

    csv = tmp_path / "src.csv"
    csv.write_text("ID,V\n1,a\n2,b\n")

    def fake_factory(pkg="psycopg2"):
        assert pkg == "asyncpg", "CLI must thread --pg_python_package through"
        return adapt_async_factory(functools.partial(fake_pg.async_connect, path))

    monkeypatch.setattr(cli, "get_spark", lambda **kw: _NoStop(spark))
    monkeypatch.setattr(cli, "make_postgres_connection_factory", fake_factory)

    rc = cli.main(
        [
            "--source", "csv",
            "--source_arg", f"path={csv}",
            "--source_arg", "inferSchema=true",
            "--target_pg_table", "tgt",
            "--pg_python_package", "asyncpg",
        ]
    )
    assert rc == 0
    rows = dict(conn.cursor()._cur.execute("SELECT id, v FROM tgt"))
    assert rows == {1: "a", 2: "b"}

    executed = fake_pg.executed_sql(path)
    # introspection ran with $n placeholders through the adapter
    assert any("information_schema.columns" in s and "$1" in s for s in executed)
    # the upsert itself was $n-style
    assert any(s.startswith("INSERT INTO tgt") and "$1" in s for s in executed)


def test_cli_asyncpg_requires_postgres_dialect():
    from pyspark_postgres_loader_spark import cli

    with pytest.raises(SystemExit, match="requires --dialect postgres"):
        cli.main(
            [
                "--source", "csv",
                "--target_pg_table", "t",
                "--pg_python_package", "asyncpg",
                "--dialect", "sqlite",
                "--db_path", "/tmp/x.db",
            ]
        )


def test_fake_pg_rejects_wrong_paramstyle(pg):
    """The fake driver is strict: ? or $n through the sync (%s) surface
    and ? or %s through the async ($n) surface fail loudly — this is
    what makes the dialect tests meaningful."""
    path, conn = pg
    cur = conn.cursor()
    with pytest.raises(ValueError, match="placeholder"):
        cur.execute("INSERT INTO t VALUES (?)", (1,))
    with pytest.raises(ValueError, match="placeholder"):
        cur.execute("INSERT INTO t VALUES ($1)", (1,))


def test_multirow_over_param_limit_self_heals_by_bisection(spark, pg):
    """A multi-row statement whose placeholder count exceeds the
    engine's variable limit (sqlite: 'too many SQL variables') is just
    another failing chunk to the quarantine worklist: it splits until
    statements fit, every row still loads, and nothing is rejected —
    no special-casing of the limit anywhere in the sink."""
    path, conn = pg
    cur = conn.cursor()
    cur.execute("CREATE TABLE wide (id INTEGER PRIMARY KEY, a INTEGER, b INTEGER)")
    conn.commit()

    n = 120_000  # 3 cols x 120k rows = 360k params > sqlite's 250k cap
    df = spark.range(n).selectExpr("id", "id AS a", "id AS b").coalesce(1)
    stats = upsert_dataframe(
        df,
        functools.partial(fake_pg.connect, path),
        "wide",
        ["id"],
        batch_size=n,  # force ONE over-limit statement initially
        dialect=POSTGRES,
    )
    assert (stats.rows_loaded, stats.rows_rejected) == (n, 0)
    n_in_db = conn.cursor()._cur.execute("SELECT COUNT(*) FROM wide").fetchone()[0]
    assert n_in_db == n
