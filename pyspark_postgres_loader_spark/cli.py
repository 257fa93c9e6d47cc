"""CLI entry point: ``python -m pyspark_postgres_loader_spark.cli``.

Reference parity: main.py:12-69 (SparkSession appName "Postgres
Loader", WARN logs, 7 args), with its bugs fixed:
- ``--partition_cols`` is a list of column NAMES (reference typed it
  int — main.py:38-42);
- repeated ``--source_arg k=v`` builds a dict (reference splatted a
  list — main.py:47-53);
- unknown sources raise with the registered list (reference returned
  silent None — get_s3_data_as_df.py:27-31).

Credentials come from env (PGHOST/PGPORT/PGDATABASE/PGUSER/PGPASSWORD)
or, with ``--config path/to/config.ini``, from a reference-shaped INI
file (config.py — env still overrides INI); the reference hardwired a
Windows-only INI path (load_postgres_from_spark_df.py:58-60).
"""

from __future__ import annotations

import argparse
import os
import sys

from .session import get_spark


def _parse_source_args(pairs: list[str]) -> dict[str, str]:
    out: dict[str, str] = {}
    for pair in pairs or []:
        if "=" not in pair:
            raise SystemExit(f"--source_arg must be k=v, got {pair!r}")
        k, v = pair.split("=", 1)
        out[k] = v
    return out


def make_postgres_connection_factory(pg_python_package: str = "psycopg2"):
    """Zero-arg picklable connection factory from PG* env vars.

    ``pg_python_package`` mirrors the reference's ``--pg_python_package``
    (main.py:18-22): ``psycopg2`` yields the sync driver directly;
    ``asyncpg`` yields ``asyncpg.connect`` lifted through
    ``async_adapter.adapt_async_factory`` so the same sink machinery
    drives the async driver. Imports are deferred and guarded: both
    drivers are optional dependencies."""
    import functools

    params = {
        "host": os.environ.get("PGHOST", "localhost"),
        "port": int(os.environ.get("PGPORT", "5432")),
        "user": os.environ.get("PGUSER", "postgres"),
        "password": os.environ.get("PGPASSWORD", ""),
    }
    database = os.environ.get("PGDATABASE", "postgres")
    if pg_python_package == "asyncpg":
        try:
            import asyncpg
        except ImportError as exc:  # pragma: no cover - env without asyncpg
            raise SystemExit(
                "asyncpg is required for --pg_python_package asyncpg; "
                "install it or use the default psycopg2 driver"
            ) from exc
        from .sinks.async_adapter import adapt_async_factory

        return adapt_async_factory(
            functools.partial(asyncpg.connect, database=database, **params)
        )
    try:
        import psycopg2
    except ImportError as exc:  # pragma: no cover - env without psycopg2
        raise SystemExit(
            "psycopg2 is required for the Postgres CLI sink; install it or "
            "use the library API with another DBAPI connection_factory"
        ) from exc
    return functools.partial(psycopg2.connect, dbname=database, **params)


def _connect_sqlite(path: str):
    # Imports the whole driver module: pickled ``sqlite3.connect`` is
    # ``_sqlite3.connect``, and an executor that never imports
    # ``sqlite3`` has no datetime adapters registered.
    import sqlite3

    return sqlite3.connect(path)


def _connect_duckdb(path: str):
    # ``duckdb.connect`` is a pybind builtin that does not pickle.
    import duckdb

    return duckdb.connect(path)


def make_file_db_connection_factory(dialect: str, db_path: str):
    """Zero-arg picklable connection factory for the file-backed
    dialects (sqlite/duckdb). Each writer partition calls it to open
    its own connection — for local files that means writer parallelism
    is bounded by the engine's writer model (SQLite serializes writers
    via file locking; DuckDB is single-writer — use ``--parallelism 1``
    or the staging strategy for DuckDB targets)."""
    import functools

    connect = {"sqlite": _connect_sqlite, "duckdb": _connect_duckdb}.get(dialect)
    if connect is None:
        raise ValueError(f"not a file-backed dialect: {dialect!r}")
    return functools.partial(connect, db_path)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Load a source into Postgres via Spark")
    p.add_argument("--source", required=True, help="registered source name (csv/parquet/json/jdbc/...)")
    p.add_argument("--source_arg", action="append", default=[], metavar="K=V",
                   help="source reader kwarg; repeatable")
    p.add_argument("--target_pg_table", required=True)
    p.add_argument("--batch_size", type=int, default=1000)
    p.add_argument("--parallelism", type=int, default=1)
    p.add_argument("--partition_cols", nargs="*", default=None,
                   help="column names to hash-partition writers by")
    p.add_argument("--strategy", choices=["batched", "staging"], default="batched")
    p.add_argument("--pg_python_package", choices=["psycopg2", "asyncpg"],
                   default="psycopg2",
                   help="Postgres driver package (reference main.py:18-22): "
                        "asyncpg drives the sink through the async adapter "
                        "with $n placeholder SQL; only meaningful with "
                        "--dialect postgres")
    p.add_argument("--dialect", choices=["postgres", "sqlite", "duckdb"],
                   default="postgres",
                   help="target DBAPI dialect (paramstyle + introspection backend); "
                        "sqlite/duckdb require --db_path")
    p.add_argument("--db_path", default=None, metavar="PATH",
                   help="database file for --dialect sqlite/duckdb (ignored for "
                        "postgres, which connects via PG* env vars / --config)")
    p.add_argument("--config", default=None, metavar="CONFIG_INI",
                   help="reference-shaped config.ini (credentials/source/type-map "
                        "sections); env vars override its credentials")
    args = p.parse_args(argv)

    from .pipeline import load_to_database

    # the connection factory must speak the same DBAPI as --dialect:
    # the generated placeholder SQL and the introspection backend both
    # key off it, so pairing e.g. sqlite SQL with a psycopg2 connection
    # fails at runtime. The asyncpg driver additionally switches the
    # placeholder dialect to $n — same sink, different SQL text.
    dialect = args.dialect
    if args.pg_python_package == "asyncpg":
        if args.dialect != "postgres":
            raise SystemExit("--pg_python_package asyncpg requires --dialect postgres")
        if args.config:
            raise SystemExit(
                "--pg_python_package asyncpg reads credentials from PG* env "
                "vars; --config is not supported with the async driver"
            )
        dialect = "asyncpg"
    if args.dialect in ("sqlite", "duckdb"):
        if not args.db_path:
            raise SystemExit(f"--dialect {args.dialect} requires --db_path")
        factory = make_file_db_connection_factory(args.dialect, args.db_path)
        if args.config:
            print(
                "note: --config credentials are Postgres-only and ignored "
                f"for --dialect {args.dialect}",
                file=sys.stderr,
            )
    elif args.config:
        from .config import load_config, make_connection_factory

        cfg = load_config(args.config)
        kinds = cfg.source_kinds()
        if kinds and args.source.split("_")[0] not in kinds and args.source not in kinds:
            print(
                f"note: source {args.source!r} not declared in config.ini "
                f"source mapping {kinds}; proceeding with the registry",
                file=sys.stderr,
            )
        factory = make_connection_factory(cfg)
    else:
        factory = make_postgres_connection_factory(args.pg_python_package)

    spark = get_spark(app_name="Postgres Loader")
    try:
        result = load_to_database(
            spark,
            source=args.source,
            source_args=_parse_source_args(args.source_arg),
            target_table=args.target_pg_table,
            connection_factory=factory,
            dialect=dialect,
            batch_size=args.batch_size,
            parallelism=args.parallelism,
            partition_cols=args.partition_cols,
            strategy=args.strategy,
        )
        s = result.stats
        print(
            f"loaded={s.rows_loaded} rejected={s.rows_rejected} "
            f"seen={s.rows_seen} partitions={s.partitions} "
            f"key={result.unique_key} columns={result.aligned_columns}"
        )
        if s.error_messages:
            print(f"first errors: {s.error_messages[:5]}", file=sys.stderr)
        return 0 if s.rows_rejected == 0 else 1
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
