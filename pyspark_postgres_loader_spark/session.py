"""SparkSession factory.

Reference parity: ``main.py:13`` builds ``SparkSession.builder.appName(
"Postgres Loader").getOrCreate()`` with log level WARN. We add the
scale-oriented defaults every query in this engine assumes:

- AQE on (runtime re-plan, skew-join handling, partition coalescing);
- shuffle partitions sized to the local core count instead of 200
  (on a real cluster this would be ~2-3× total cores — see
  ``tune_for_cluster``);
- UTC session timezone so timestamp semantics match the DuckDB oracle;
- Arrow enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "pyspark-postgres-loader-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster pass ``None`` with spark-submit providing the master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fixtures store events.ts as parquet TIMESTAMP(NANOS), which Spark
        # rejects by default; read as long and convert in tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # split-size scaled to the local fixtures: the default 128 MB
        # would read a whole small-SF fact table as ONE split and run
        # every scan-side stage on one core. 4 MB ≈ the same
        # splits-per-core ratio a 100 TB table gets at 128 MB on a
        # 1000-executor cluster; at real scale leave the default.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_for_cluster(
    spark: SparkSession,
    total_cores: int,
    partitions_per_core: int = 3,
    max_partition_bytes: int = 128 * 1024 * 1024,
    broadcast_threshold_mb: int = 64,
) -> dict[str, str]:
    """Re-derive the scale-sensitive knobs for a real cluster and apply
    them to the live session. Returns the applied settings.

    The local factory sizes everything for fixtures (4 MB splits,
    32 shuffle partitions); on a 1000-executor deployment the same
    plans want:

    - ``shuffle.partitions`` ≈ 2-3× total task slots: enough tasks
      that one straggler doesn't serialize a stage, few enough that
      per-task overhead and tiny shuffle files don't dominate. AQE
      coalesces down when a stage's data is small, so oversizing is
      the safe direction.
    - ``files.maxPartitionBytes`` back at the 128 MB default: with
      100 TB of parquet that still yields ~800k splits — parallelism
      is never scan-bound at scale, and larger splits amortize
      footer/dictionary decode.
    - a broadcast threshold sized to executor memory headroom (64 MB
      default here): every dimension that fits broadcast saves a
      full fact shuffle — the single biggest plan lever this engine
      relies on (SCALE.md).

    Runtime-settable conf only (safe on an active session); cluster
    managers own memory/executor topology at submit time.
    """
    applied = {
        "spark.sql.shuffle.partitions": str(total_cores * partitions_per_core),
        "spark.sql.files.maxPartitionBytes": str(max_partition_bytes),
        "spark.sql.autoBroadcastJoinThreshold": str(
            broadcast_threshold_mb * 1024 * 1024
        ),
    }
    for k, v in applied.items():
        spark.conf.set(k, v)
    return applied
