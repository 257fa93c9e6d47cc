"""End-to-end load pipeline: source → schema-align → keyed upsert.

Reference parity: ``LoadPostgresFromSparkDataFrame`` (load_postgres_
from_spark_df.py:27-105) sequences source acquisition → catalog schema
fetch → cast/align → key discovery → partitioned upsert with stats.
Same sequence here, DataFrame-first and dependency-injected (any DBAPI
``connection_factory``), with the reference's latent bugs fixed
(SURVEY.md §2 bug list: Windows-only config path, abstract-class
registration, silent None on unknown formats, psycopg2 None-key crash).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .introspection import INTROSPECTORS
from .schema_contract import align_to_target
from .sinks.sql_builder import DIALECTS, Dialect
from .sinks.upsert import LoadStats, upsert_dataframe, upsert_via_staging
from .sources import get_source_dataframe


@dataclass
class LoadResult:
    stats: LoadStats
    unique_key: list[str] | None
    aligned_columns: list[str]


def load_to_database(
    spark: SparkSession,
    source: str,
    source_args: dict,
    target_table: str,
    connection_factory: Callable[[], object],
    dialect: str | Dialect = "postgres",
    batch_size: int = 1000,
    parallelism: int = 1,
    partition_cols: list[str] | None = None,
    strategy: str = "batched",
    unique_key_override: list[str] | None = None,
) -> LoadResult:
    """Run the full reference pipeline: read ``source``, then
    :func:`load_dataframe_to_database`."""
    df = get_source_dataframe(spark, source, **source_args)
    return load_dataframe_to_database(
        df,
        target_table,
        connection_factory,
        dialect,
        batch_size=batch_size,
        parallelism=parallelism,
        partition_cols=partition_cols,
        strategy=strategy,
        unique_key_override=unique_key_override,
    )


def load_dataframe_to_database(
    df: DataFrame,
    target_table: str,
    connection_factory: Callable[[], object],
    dialect: str | Dialect = "postgres",
    batch_size: int = 1000,
    parallelism: int = 1,
    partition_cols: list[str] | None = None,
    strategy: str = "batched",
    unique_key_override: list[str] | None = None,
) -> LoadResult:
    """Introspect the target, align ``df`` to it, upsert (the
    ``foreachBatch`` entry point for streaming loads).

    ``strategy``: ``"batched"`` = per-row quarantine sink (reference
    semantics); ``"staging"`` = set-based staging merge (scale path).
    The layer functions are module globals looked up at call time, so
    a tracer can rebind them.
    """
    dia = DIALECTS[dialect] if isinstance(dialect, str) else dialect
    fetch_schema, fetch_key = INTROSPECTORS[
        dia.name if dia.name in INTROSPECTORS else "postgres"
    ]
    conn = connection_factory()
    try:
        target_schema = fetch_schema(conn, target_table)
        if not target_schema:
            raise ValueError(f"target table {target_table!r} has no columns (missing?)")
        unique_key = unique_key_override or fetch_key(conn, target_table)
    finally:
        conn.close()

    aligned = align_to_target(df, target_schema)

    sink = upsert_dataframe if strategy == "batched" else upsert_via_staging
    stats = sink(
        aligned,
        connection_factory,
        target_table,
        unique_key,
        batch_size=batch_size,
        parallelism=parallelism,
        partition_cols=partition_cols,
        dialect=dia,
    )
    return LoadResult(
        stats=stats, unique_key=unique_key, aligned_columns=list(aligned.columns)
    )
