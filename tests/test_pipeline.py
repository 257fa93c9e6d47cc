"""End-to-end pipeline integration: CSV source → schema-align (type
map, column intersection, lowercase normalization) → introspected key →
upsert into a real SQLite target. Mirrors FIXTURES.md §B scenarios."""

from __future__ import annotations

import functools
import sqlite3

import pytest

from pyspark_postgres_loader_spark.introspection import (
    fetch_target_schema_sqlite,
    fetch_unique_key_sqlite,
)
from pyspark_postgres_loader_spark.pipeline import load_to_database
from pyspark_postgres_loader_spark.schema_contract import (
    EmptyColumnIntersectionError,
    align_to_target,
    pg_type_to_spark,
)


def _connect(path: str):
    return sqlite3.connect(path, timeout=30)


@pytest.fixture()
def csv_source(tmp_path):
    # uppercase/mixed-case headers + an extra column the target lacks
    p = tmp_path / "src.csv"
    p.write_text(
        "ID,Val,N,EXTRA_COL\n"
        "1,a,10,zzz\n"
        "2,b,20,zzz\n"
        "2,b2,22,zzz\n"  # duplicate key: upsert last-wins
    )
    return str(p)


def test_full_pipeline_csv_to_sqlite(spark, tmp_path, csv_source):
    path = str(tmp_path / "pipe.db")
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE tgt (id INTEGER PRIMARY KEY, val TEXT, n INTEGER)")
    conn.commit()

    result = load_to_database(
        spark,
        source="csv",
        source_args={"path": csv_source, "inferSchema": "true"},
        target_table="tgt",
        connection_factory=functools.partial(_connect, path),
        dialect="sqlite",
    )
    assert result.unique_key == ["id"]
    assert result.aligned_columns == ["id", "val", "n"]  # EXTRA_COL pruned
    rows = dict((r[0], (r[1], r[2])) for r in conn.execute("SELECT * FROM tgt"))
    assert rows == {1: ("a", 10), 2: ("b2", 22)}  # last-wins upsert
    conn.close()


def test_pipeline_missing_target_table_raises(spark, tmp_path, csv_source):
    path = str(tmp_path / "missing.db")
    sqlite3.connect(path).close()
    with pytest.raises(ValueError, match="no columns"):
        load_to_database(
            spark,
            source="csv",
            source_args={"path": csv_source},
            target_table="nope",
            connection_factory=functools.partial(_connect, path),
            dialect="sqlite",
        )


def test_type_map_rows():
    # each row of the SURVEY §1 type map + fallback
    assert pg_type_to_spark("integer") == "int"
    assert pg_type_to_spark("bigserial") == "bigint"
    assert pg_type_to_spark("numeric(12,2)") == "decimal(12,2)"
    assert pg_type_to_spark("numeric") == "decimal(38,18)"
    assert pg_type_to_spark("double precision") == "double"
    assert pg_type_to_spark("real") == "float"
    assert pg_type_to_spark("timestamp without time zone") == "timestamp"
    assert pg_type_to_spark("character varying(15)") == "string"
    assert pg_type_to_spark("uuid") == "string"  # unknown → string fallback
    assert pg_type_to_spark("jsonb") == "string"


def test_align_casts_and_orders(spark):
    df = spark.createDataFrame([("5", "3.14", "x")], "A string, b string, c string")
    out = align_to_target(df, {"b": "numeric(10,2)", "a": "integer"})
    assert out.columns == ["b", "a"]  # target-catalog order
    assert [f.dataType.simpleString() for f in out.schema] == ["decimal(10,2)", "int"]


def test_align_empty_intersection_raises(spark):
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(EmptyColumnIntersectionError):
        align_to_target(df, {"y": "integer"})


def test_sqlite_introspection_composite_unique_fallback(tmp_path):
    path = str(tmp_path / "introspect.db")
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE li (ok INTEGER, ln INTEGER, qty REAL)")
    conn.execute("CREATE UNIQUE INDEX li_uk ON li (ok, ln)")
    conn.commit()
    assert fetch_unique_key_sqlite(conn, "li") == ["ok", "ln"]  # unique-index fallback
    schema = fetch_target_schema_sqlite(conn, "li")
    assert schema == {"ok": "bigint", "ln": "bigint", "qty": "double precision"}
    conn.execute("CREATE TABLE nokey (a TEXT)")
    assert fetch_unique_key_sqlite(conn, "nokey") is None  # insert-only mode
    conn.close()


def _duck_factory(path: str):
    import duckdb

    return duckdb.connect(path)


def test_load_to_database_duckdb_dialect(spark, tmp_path):
    """dialect='duckdb' must introspect with ?-placeholders and
    duckdb_constraints() (the postgres introspector's %s paramstyle
    throws on DuckDB before any data moves)."""
    import functools

    duckdb = pytest.importorskip("duckdb")
    from pyspark_postgres_loader_spark.pipeline import load_to_database

    src = tmp_path / "in.csv"
    src.write_text("id,price,note\n1,1.5,a\n2,2.5,b\n1,9.5,c\n")
    db = str(tmp_path / "pipe.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE tgt (id BIGINT PRIMARY KEY, price DECIMAL(12,2), note VARCHAR)"
    )
    con.close()

    result = load_to_database(
        spark,
        source="csv",
        source_args={"path": str(src), "header": "true"},
        target_table="tgt",
        connection_factory=functools.partial(_duck_factory, db),
        dialect="duckdb",
    )
    assert result.unique_key == ["id"]
    assert result.aligned_columns == ["id", "price", "note"]
    con = duckdb.connect(db)
    rows = {r[0]: (float(r[1]), r[2]) for r in con.execute("SELECT * FROM tgt").fetchall()}
    con.close()
    # upsert semantics: last row for id=1 wins
    assert rows == {1: (9.5, "c"), 2: (2.5, "b")}


def test_load_dataframe_missing_target_raises(spark, tmp_path):
    from pyspark_postgres_loader_spark.pipeline import load_dataframe_to_database

    path = str(tmp_path / "missing.db")
    sqlite3.connect(path).close()
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    with pytest.raises(ValueError, match="has no columns"):
        load_dataframe_to_database(
            df, "nope", functools.partial(_connect, path), dialect="sqlite"
        )


def test_load_dataframe_duckdb_round_trip(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from pyspark_postgres_loader_spark.cli import make_file_db_connection_factory
    from pyspark_postgres_loader_spark.pipeline import load_dataframe_to_database

    db = str(tmp_path / "df.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE tgt (id BIGINT PRIMARY KEY, note VARCHAR)")
    con.close()
    df = spark.createDataFrame(
        [("1", "a", 0), ("2", "b", 0), ("1", "c", 0)], "ID string, Note string, extra int"
    ).coalesce(1)
    result = load_dataframe_to_database(
        df, "tgt", make_file_db_connection_factory("duckdb", db), dialect="duckdb"
    )
    assert result.unique_key == ["id"]
    assert result.aligned_columns == ["id", "note"]
    assert (result.stats.rows_seen, result.stats.rows_rejected) == (3, 0)
    con = duckdb.connect(db)
    assert dict(con.execute("SELECT id, note FROM tgt").fetchall()) == {1: "c", 2: "b"}
    con.close()


def test_duckdb_introspection_stays_in_one_schema(tmp_path):
    """A same-named table in another schema contributes no columns and
    no key; an unqualified name resolves in current_schema()."""
    duckdb = pytest.importorskip("duckdb")
    from pyspark_postgres_loader_spark.introspection import (
        fetch_target_schema_duckdb,
        fetch_unique_key_duckdb,
    )

    con = duckdb.connect(str(tmp_path / "schemas.duckdb"))
    con.execute("CREATE TABLE t (a BIGINT PRIMARY KEY, b DECIMAL(12,2))")
    con.execute("CREATE SCHEMA s2")
    con.execute("CREATE TABLE s2.t (x BIGINT PRIMARY KEY)")
    assert fetch_target_schema_duckdb(con, "t") == {"a": "bigint", "b": "decimal(12,2)"}
    assert fetch_unique_key_duckdb(con, "t") == ["a"]
    assert fetch_target_schema_duckdb(con, "s2.t") == {"x": "bigint"}
    assert fetch_unique_key_duckdb(con, "s2.t") == ["x"]
    con.execute("CREATE TABLE u (p BIGINT, q BIGINT, UNIQUE (p, q))")
    con.execute("CREATE TABLE s2.u (r BIGINT PRIMARY KEY)")
    assert fetch_unique_key_duckdb(con, "u") == ["p", "q"]
    con.close()
