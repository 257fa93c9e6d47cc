"""config.ini compatibility layer (reference parity, O3).

The reference drives everything from an INI file
(/root/reference/config.ini:1-26, consumed at
load_postgres_from_spark_df.py:56-60,165-175) with three sections:

- ``[my_database_credentials]`` — host/database/port/user/password;
- ``[source_data_class_mapping]`` — ``{kind}_module`` / ``{kind}_class``
  pairs naming the source loader per source kind;
- ``[pg_to_spark_data_type_mapping]`` — Postgres→Spark cast overrides.

This module reads that exact shape so a migrating user's config file
keeps working: credentials feed the CLI's connection factory (env vars
still win when set — twelve-factor order), the source mapping's
``{kind}`` keys are validated against this engine's source registry,
and the type-map section extends/overrides
``schema_contract.PG_TO_SPARK_TYPE``. Unlike the reference, the path is
an explicit argument (the reference hardwired a Windows-only
``__file__``-relative path).
"""

from __future__ import annotations

import os
from configparser import ConfigParser
from dataclasses import dataclass, field

CREDENTIALS_SECTION = "my_database_credentials"
SOURCE_SECTION = "source_data_class_mapping"
TYPE_MAP_SECTION = "pg_to_spark_data_type_mapping"

# INI credential key → (env var that overrides it, default)
_CRED_ENV = {
    "host": ("PGHOST", "localhost"),
    "port": ("PGPORT", "5432"),
    "database": ("PGDATABASE", "postgres"),
    "user": ("PGUSER", "postgres"),
    "password": ("PGPASSWORD", ""),
}


@dataclass
class LoaderConfig:
    credentials: dict[str, str] = field(default_factory=dict)
    source_mapping: dict[str, str] = field(default_factory=dict)
    type_map: dict[str, str] = field(default_factory=dict)

    def connection_params(self) -> dict[str, object]:
        """psycopg2-style connection kwargs; env vars override the INI
        (so one config.ini can ship while secrets stay in the env)."""
        out: dict[str, object] = {}
        for key, (env, default) in _CRED_ENV.items():
            # presence checks, not truthiness: PGPASSWORD="" must
            # override an INI credential, and an empty INI value is a
            # deliberate empty credential, not a fall-through
            if env in os.environ:
                val = os.environ[env]
            elif key in self.credentials:
                val = self.credentials[key]
            else:
                val = default
            out[key] = val
        out["port"] = int(out["port"])
        out["dbname"] = out.pop("database")
        return out

    def source_kinds(self) -> list[str]:
        """Source kinds declared in the INI (``{kind}_module`` keys)."""
        return sorted(
            {k[: -len("_module")] for k in self.source_mapping if k.endswith("_module")}
        )

    def spark_type_for(self, pg_type: str) -> str:
        """Type lookup honoring INI overrides, falling back to the
        built-in map (incl. numeric(p,s) precision propagation)."""
        from .schema_contract import pg_type_to_spark

        t = pg_type.strip().lower()
        if t in self.type_map:
            return self.type_map[t]
        return pg_type_to_spark(pg_type)


def load_config(path: str) -> LoaderConfig:
    """Parse a reference-shaped config.ini. Sections are optional; a
    missing file raises (silently proceeding with defaults would mask
    typo'd paths — the reference raised on missing sections too,
    load_postgres_from_spark_df.py:171-173)."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"config file not found: {path}")
    cp = ConfigParser()
    cp.read(path)
    cfg = LoaderConfig()
    if cp.has_section(CREDENTIALS_SECTION):
        cfg.credentials = dict(cp[CREDENTIALS_SECTION])
    if cp.has_section(SOURCE_SECTION):
        cfg.source_mapping = dict(cp[SOURCE_SECTION])
    if cp.has_section(TYPE_MAP_SECTION):
        cfg.type_map = {k.lower(): v for k, v in cp[TYPE_MAP_SECTION].items()}
    return cfg


def make_connection_factory(cfg: LoaderConfig, pg_python_package: str = "psycopg2"):
    """Zero-arg picklable Postgres connection factory from the config's
    env-overridable credentials (``LoaderConfig()`` = env vars and
    defaults only).

    ``pg_python_package`` mirrors the reference's ``--pg_python_package``
    (main.py:18-22): ``psycopg2`` yields the sync driver directly;
    ``asyncpg`` yields ``asyncpg.connect`` lifted through
    ``async_adapter.adapt_async_factory`` so the same sink machinery
    drives the async driver. Imports are deferred and guarded: both
    drivers are optional dependencies."""
    import functools

    params = cfg.connection_params()
    try:
        if pg_python_package == "asyncpg":
            import asyncpg as driver
        else:
            import psycopg2 as driver
    except ImportError as exc:  # pragma: no cover - env without the driver
        raise SystemExit(
            f"{pg_python_package} is required for the Postgres CLI sink; "
            "install it or use the library API with another DBAPI "
            "connection_factory"
        ) from exc
    if pg_python_package == "asyncpg":
        from .sinks.async_adapter import adapt_async_factory

        params["database"] = params.pop("dbname")
        return adapt_async_factory(functools.partial(driver.connect, **params))
    return functools.partial(driver.connect, **params)
