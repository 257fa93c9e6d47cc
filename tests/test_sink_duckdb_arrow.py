"""DuckDB sink end to end: each chunk is written as one registered
Arrow relation (``sinks.upsert.chunk_writer``), so every Spark type the
aligned DataFrame carries must land in DuckDB with the value the Row
path holds; and the file-backed CLI factories must pickle and load
DATE/TIMESTAMP rows on a fresh executor."""

from __future__ import annotations

import datetime as dt
import functools
import pickle
import subprocess
import sys
from decimal import Decimal

import duckdb
import pytest

from pyspark_postgres_loader_spark.sinks.sql_builder import DUCKDB
from pyspark_postgres_loader_spark.sinks.upsert import upsert_dataframe

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
