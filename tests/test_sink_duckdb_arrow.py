"""DuckDB sink end to end: each chunk is written as one registered
Arrow relation (``sinks.upsert.chunk_writer``), so every Spark type the
aligned DataFrame carries must land in DuckDB with the value the Row
path holds; and the file-backed CLI factories must pickle and load
DATE/TIMESTAMP rows on a fresh executor, also one that cannot import
the package. The statement count of the
``sink_upsert_final_state`` workload is pinned here."""

from __future__ import annotations

import datetime as dt
import functools
import pickle
import subprocess
import sys
from decimal import Decimal

import duckdb
import pytest

from pyspark_postgres_loader_spark.sinks import roundtrip
from pyspark_postgres_loader_spark.sinks.sql_builder import DUCKDB
from pyspark_postgres_loader_spark.sinks.upsert import (
    _batch_and_upsert,
    _dedup_key_indices,
    _register_self_by_value,
    chunk_writer,
    upsert_dataframe,
)

_SCHEMA = (
    "k bigint, i int, d double, m decimal(12,2), day date, ts timestamp, "
    "flag boolean, s string, bin binary"
)
_DDL = (
    "CREATE TABLE typed (k BIGINT PRIMARY KEY, i INTEGER, d DOUBLE, "
    "m DECIMAL(12,2), day DATE, ts TIMESTAMP, flag BOOLEAN, s VARCHAR, "
    "bin BLOB)"
)
_COLS = "k, i, d, m, day, ts, flag, s, bin"


def _connect(path: str):
    return duckdb.connect(path)


def _rows(version: int) -> list[tuple]:
    out = [(1,) + (None,) * 8]  # a null in every non-key column
    for k in range(2, 40):
        out.append((
            k,
            -k * version,
            k / 7.0 + version,
            Decimal(f"{k * 1000 + version}.{k % 100:02d}"),
            dt.date(1969 + k, 1 + k % 12, 1 + k % 28),
            dt.datetime(2024, 3, 10, k % 24, k, version, 123456 + k),
            k % 2 == 0,
            f"s{k}-é-{version}",
            bytearray(bytes([k, 0, 255, version])),
        ))
    return out


def test_duckdb_arrow_chunks_round_trip_every_type(spark, tmp_path):
    """Insert, then upsert new values over the same keys (with an
    intra-batch duplicate, so the last occurrence must win), under a
    non-UTC session time zone and a batch size that splits the load
    into several chunks. DuckDB's table equals the Spark rows."""
    path = str(tmp_path / "typed.duckdb")
    con = duckdb.connect(path)
    con.execute(_DDL)
    con.close()
    factory = functools.partial(_connect, path)

    prior_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        for version, data in ((1, _rows(1)), (2, _rows(1)[5:9] + _rows(2))):
            df = spark.createDataFrame(data, _SCHEMA).coalesce(1)
            stats = upsert_dataframe(
                df, factory, "typed", ["k"], batch_size=16, dialect=DUCKDB
            )
            assert (stats.rows_rejected, stats.rows_loaded) == (0, len(data))
            expected = {r[0]: tuple(r) for r in df.collect()}  # last wins
            con = duckdb.connect(path)
            try:
                got = con.execute(f"SELECT {_COLS} FROM typed ORDER BY k").fetchall()
            finally:
                con.close()
            assert got == [expected[k] for k in sorted(expected)], version
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior_tz)


@pytest.mark.parametrize("dialect", ["sqlite", "duckdb"])
def test_cli_file_dialect_loads_date_and_timestamp_rows(
    dialect, spark, tmp_path, monkeypatch, capsys
):
    """``cli.main --dialect sqlite|duckdb`` loads every row of a source
    with DATE and TIMESTAMP columns through its own factory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_postgres_loader_spark import cli

    n = 50
    src = str(tmp_path / "src.parquet")
    pq.write_table(pa.table({
        "id": pa.array(range(n), pa.int64()),
        "day": pa.array([dt.date(2020, 1, 1) + dt.timedelta(days=i) for i in range(n)]),
        "ts": pa.array(
            [dt.datetime(2021, 6, 1, 12, 0, 0) + dt.timedelta(minutes=i) for i in range(n)],
            pa.timestamp("us"),
        ),
    }), src)
    db = str(tmp_path / f"cli.{dialect}")
    con = cli.make_file_db_connection_factory(dialect, db)()
    con.cursor().execute(
        "CREATE TABLE ev (id BIGINT PRIMARY KEY, day DATE, ts TIMESTAMP)"
    )
    con.commit()
    con.close()

    monkeypatch.setattr(cli, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main([
        "--source", "parquet",
        "--source_arg", f"path={src}",
        "--target_pg_table", "ev",
        "--dialect", dialect,
        "--db_path", db,
        "--batch_size", "16",
    ])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert f"loaded={n} rejected=0" in out
    con = cli.make_file_db_connection_factory(dialect, db)()
    try:
        cur = con.cursor()
        cur.execute("SELECT COUNT(*), COUNT(day), COUNT(ts) FROM ev")
        assert tuple(cur.fetchone()) == (n, n, n)
    finally:
        con.close()


@pytest.mark.parametrize("dialect", ["sqlite", "duckdb"])
def test_file_db_factory_binds_datetimes_in_a_fresh_process(dialect, tmp_path):
    """The factory pickles, and a process that only unpickles it (as a
    Spark executor does, without importing the driver module first)
    can bind ``date`` and ``datetime`` parameters."""
    from pyspark import cloudpickle

    from pyspark_postgres_loader_spark import cli

    db = str(tmp_path / f"fresh.{dialect}")
    blob = cloudpickle.dumps(cli.make_file_db_connection_factory(dialect, db))
    script = (
        "import datetime, pickle, sys\n"
        "con = pickle.loads(sys.stdin.buffer.read())()\n"
        "cur = con.cursor()\n"
        "cur.execute('CREATE TABLE t (d DATE, ts TIMESTAMP)')\n"
        "cur.execute('INSERT INTO t VALUES (?, ?)', "
        "(datetime.date(2020, 1, 2), datetime.datetime(2020, 1, 2, 3, 4, 5)))\n"
        "con.commit()\n"
        "cur.execute('SELECT COUNT(*) FROM t')\n"
        "print(cur.fetchone()[0])\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], input=blob, capture_output=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert proc.stdout.decode().strip() == "1"
    assert pickle.loads(blob).args == (db,)


@pytest.mark.parametrize("dialect", ["sqlite", "duckdb"])
def test_file_db_factory_unpickles_without_the_package(dialect, tmp_path):
    """The sink ships its module by value, and the connection factories
    live in it, so an executor that cannot import the package (working
    directory outside the checkout, package not on ``PYTHONPATH``)
    still opens the target."""
    import os

    from pyspark import cloudpickle

    from pyspark_postgres_loader_spark import cli

    _register_self_by_value()
    db = str(tmp_path / f"bare.{dialect}")
    blob = cloudpickle.dumps(cli.make_file_db_connection_factory(dialect, db))
    script = (
        "import pickle, sys\n"
        "con = pickle.loads(sys.stdin.buffer.read())()\n"
        "cur = con.cursor()\n"
        "cur.execute('SELECT 41 + 1')\n"
        "print(cur.fetchone()[0])\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], input=blob, capture_output=True,
        cwd=tmp_path, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert proc.stdout.decode().strip() == "42"


def test_sink_partition_closure_unpickles_without_the_package(
    spark, tmp_path, monkeypatch
):
    """The partition function ``upsert_dataframe`` hands to Spark, with
    the worker import-cache guard it installs, unpickles and loads its
    rows in a task process that cannot import the package."""
    import os

    from pyspark import cloudpickle

    from pyspark_postgres_loader_spark.sinks import upsert

    db = str(tmp_path / "closure.duckdb")
    con = duckdb.connect(db)
    con.execute(_DDL)
    con.close()
    shipped = []

    class _Layout:
        """Stands in for ``_layout``'s DataFrame: keeps the function
        the sink would run on each partition."""

        rdd = property(lambda self: self)

        def mapPartitions(self, fn):
            shipped.append(fn)
            return self

        def collect(self):
            return []

    monkeypatch.setattr(upsert, "_layout", lambda df, *a: _Layout())
    df = spark.createDataFrame(_rows(1), _SCHEMA)
    factory = functools.partial(upsert._connect_duckdb, db)
    upsert_dataframe(df, factory, "typed", ["k"], batch_size=16, dialect=DUCKDB)
    blob = cloudpickle.dumps((shipped[0], _rows(1)))
    script = (
        "import pickle, sys, zipimport\n"
        "from pyspark import TaskContext\n"
        "TaskContext._getOrCreate()  # set before unpickling, as in a worker\n"
        "fn, rows = pickle.loads(sys.stdin.buffer.read())\n"
        "[(seen, loaded, rejected, *_)] = fn(iter(rows))\n"
        "guarded = getattr(zipimport.zipimporter.invalidate_caches, "
        "'_stat_guarded', False)\n"
        "print(seen, loaded, rejected, guarded, "
        "'pyspark_postgres_loader_spark' in sys.modules)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], input=blob, capture_output=True,
        cwd=tmp_path, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr.decode()
    assert proc.stdout.decode().split() == ["39", "39", "0", "True", "False"]
    con = duckdb.connect(db)
    try:
        assert con.execute("SELECT COUNT(*) FROM typed").fetchone()[0] == 39
    finally:
        con.close()


class _CountedCursor:
    def __init__(self, cur, counts: dict):
        self._cur, self._counts = cur, counts

    def execute(self, *a, **kw):
        self._counts["execute"] += 1
        return self._cur.execute(*a, **kw)

    def executemany(self, *a, **kw):
        self._counts["executemany"] += 1
        return self._cur.executemany(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._cur, name)


class _CountedDuckDB:
    """A DuckDB connection that counts statements, commits and
    rollbacks into ``counts``."""

    def __init__(self, path: str, counts: dict):
        self._con, self._counts = duckdb.connect(path), counts

    def cursor(self):
        return _CountedCursor(self._con.cursor(), self._counts)

    def commit(self):
        self._counts["commit"] += 1
        return self._con.commit()

    def rollback(self):
        self._counts["rollback"] += 1
        return self._con.rollback()

    def __getattr__(self, name):
        return getattr(self._con, name)


def test_sink_roundtrip_statement_count(spark, tmp_path):
    """The ``sink_upsert_final_state`` changelog (6,000 rows at sf0.01,
    every 7th a CHECK violation) through DuckDB's Arrow chunk writer
    issues a fixed number of statements: the mod-7 poison stride makes
    nearly every 256-row batch bisect. A change in these counts is a
    change in the sink's bisection or dedup, not in the environment."""
    path = str(tmp_path / "count.duckdb")
    con = duckdb.connect(path)
    con.execute(roundtrip._TARGET_DDL)
    con.close()
    changelog = roundtrip._changelog(spark, "/root/testdata/sf0.01")
    rows = [tuple(r) for r in changelog.collect()]
    counts = dict.fromkeys(("execute", "executemany", "commit", "rollback"), 0)
    factory = functools.partial(_CountedDuckDB, path, counts)

    ((seen, *_),) = list(
        _batch_and_upsert(
            iter(rows),
            factory,
            chunk_writer(changelog.schema, "sink_final_state", ["k"], dialect=DUCKDB),
            roundtrip._BATCH,
            use_savepoint=DUCKDB.supports_savepoint,
            key_indices=_dedup_key_indices(changelog.columns, ["k"], DUCKDB),
        )
    )
    assert seen == 6000
    assert counts == {
        "execute": 1974, "executemany": 0, "commit": 1194, "rollback": 804
    }
