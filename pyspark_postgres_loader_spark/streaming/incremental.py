"""Streaming incremental load: ``foreachBatch`` → keyed upsert sink.

This is the modern production shape of the reference's whole mission
(batch-load a DataFrame into Postgres with keyed idempotent upserts —
/root/reference/load_postgres_from_spark_df.py:1, upsert executor at
psycopg2_database_helper.py:287-357) re-expressed on Structured
Streaming: ``readStream`` → per-micro-batch latest-per-key compaction →
:func:`pyspark_postgres_loader_spark.sinks.upsert.upsert_dataframe`
inside ``foreachBatch``. Exactly-once-per-key effect comes from the
upsert's idempotence (replayed batches overwrite with the same values),
the same recovery story the reference's ON CONFLICT target gives its
batch loads.

Also here: ``dropDuplicatesWithinWatermark`` coverage — streaming
exact dedup whose state is bounded by the watermark horizon instead of
growing with all-time key cardinality (the scale-correct streaming
dedup; plain ``dropDuplicates`` state never expires).

Scale notes: the foreachBatch compaction shuffles each micro-batch once
on the upsert key (bounded by batch size, not table size); writer
parallelism bounds DB connections exactly as the batch sink does. State
for ``dropDuplicatesWithinWatermark`` is (key → latest-ts) pairs inside
the watermark window only.
"""

from __future__ import annotations

import os
import sqlite3
import tempfile
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sinks.sql_builder import SQLITE
from ..sinks.upsert import _connect_sqlite, upsert_dataframe
from ..tables import load_table
from .windows import _events_stream, _run_to_memory, _start_and_await

_TARGET_DDL = (
    "CREATE TABLE IF NOT EXISTS user_latest ("
    " user_id BIGINT, event_type TEXT, last_value DOUBLE,"
    " last_ts_us BIGINT, PRIMARY KEY (user_id, event_type))"
)

_EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def _time_split_source(spark: SparkSession, sf_dir: str, n_slices: int) -> str:
    """Replay plumbing: write the events table as ``n_slices``
    contiguous-time parquet files into a temp dir with strictly
    increasing mtimes, so a ``maxFilesPerTrigger=1`` file stream
    processes them as time-ordered micro-batches (the file source
    picks files oldest-mtime-first)."""
    import glob
    import shutil

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("ts").alias("lo"),
        F.max("ts").alias("hi"),
    )
    sliced = ev.join(F.broadcast(bounds)).withColumn(
        "slice",
        F.least(
            F.lit(n_slices - 1),
            F.floor(
                (F.unix_micros(F.col("ts").cast("timestamp"))
                 - F.unix_micros(F.col("lo").cast("timestamp")))
                * n_slices
                / (
                    F.unix_micros(F.col("hi").cast("timestamp"))
                    - F.unix_micros(F.col("lo").cast("timestamp"))
                    + 1
                )
            ).cast("int"),
        ),
    )
    src = tempfile.mkdtemp(prefix="time_split_src_")
    for i in range(n_slices):
        outdir = os.path.join(src, f"_write_{i}")
        sliced.filter(F.col("slice") == i).select(*_EVENT_COLS).coalesce(
            1
        ).write.mode("overwrite").parquet(outdir)
        part = glob.glob(os.path.join(outdir, "part-*.parquet"))[0]
        dst = os.path.join(src, f"slice{i}.parquet")
        shutil.copy(part, dst)
        shutil.rmtree(outdir)
        t = 1_000_000_000 + i * 100
        os.utime(dst, (t, t))
    return src


@register(
    "stream_upsert_incremental",
    oracle="""
    SELECT user_id, event_type, last_value, last_ts_us FROM (
      SELECT user_id, event_type, value AS last_value,
             epoch_us(ts) AS last_ts_us,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_upsert_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental load: events stream → ``foreachBatch`` →
    keyed upsert into a relational target; returns the target's final
    state (latest value per (user_id, event_type)).

    Each micro-batch is compacted to its latest row per key — ordered
    by (ts, event_id), a total order, so the batch winner is
    deterministic — before upserting, so the sink sees one write per
    key per batch regardless of how many events the batch held. With
    in-order batches (file/CDC sources) the final table state equals
    the batch argmax the oracle computes; an out-of-order replay
    topology would add a conditional update (``WHERE excluded.ts >
    target.ts``) or the staging merge, per SCALE.md.

    The source is replayed as THREE time-ordered files / micro-batches
    (``maxFilesPerTrigger=1``, mtime-pinned order — the same plumbing
    as ``stream_late_data_drop``), so later batches genuinely
    OVERWRITE earlier upserts for keys active across batches; a
    single-batch run would never exercise the conflict path. The
    target is a SQLite file (the environment's stand-in for Postgres —
    same sink code path, sql_builder dialect swap); ``parallelism=1``
    because SQLite is single-writer. Postgres takes the reference's
    partitioned parallel writers unchanged.
    """
    fd, path = tempfile.mkstemp(suffix=".db", prefix="stream_upsert_")
    os.close(fd)
    try:
        with sqlite3.connect(path) as conn:
            conn.execute(_TARGET_DDL)
        factory = partial(_connect_sqlite, path, timeout=30.0)

        def load_batch(batch_df: DataFrame, batch_id: int) -> None:
            w = Window.partitionBy("user_id", "event_type").orderBy(
                F.desc("ts"), F.desc("event_id")
            )
            latest = (
                batch_df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(
                    "user_id",
                    "event_type",
                    F.col("value").alias("last_value"),
                    F.unix_micros("ts").alias("last_ts_us"),
                )
            )
            stats = upsert_dataframe(
                latest,
                factory,
                "user_latest",
                ["user_id", "event_type"],
                parallelism=1,
                dialect=SQLITE,
            )
            if stats.rows_rejected:
                raise RuntimeError(
                    f"incremental load batch {batch_id} rejected "
                    f"{stats.rows_rejected} rows: {stats.error_messages[:3]}"
                )

        src = _time_split_source(spark, sf_dir, n_slices=3)
        ckpt = tempfile.mkdtemp(prefix="ckpt_upsert_")
        try:
            stream = spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string,"
                " value double, props string"
            ).option("maxFilesPerTrigger", 1).parquet(src)
            _start_and_await(
                spark,
                stream.writeStream.foreachBatch(load_batch)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt),
                "foreachBatch:user_latest",
                "append",  # the writer's default output mode
            )
        finally:
            # the result is read back from the DB below — the stream's
            # scratch space has no further readers (repeated bench/
            # driver invocations would otherwise accumulate in /tmp)
            import shutil

            shutil.rmtree(src, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)

        with sqlite3.connect(path) as conn:
            rows = conn.execute(
                "SELECT user_id, event_type, last_value, last_ts_us"
                " FROM user_latest"
            ).fetchall()
    finally:
        os.unlink(path)
    return spark.createDataFrame(
        rows,
        "user_id long, event_type string, last_value double, last_ts_us long",
    )


@register(
    "stream_dedup_exactly_once",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM events
    """,
)
def stream_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once → exactly-once: the events stream unioned with
    itself (every event delivered twice, the redelivery case streaming
    dedup exists for) collapses back to exactly one row per event_id
    through ``dropDuplicatesWithinWatermark``, and — because the
    surviving copies are byte-identical — the ENTIRE surviving row set
    is value-compared against the clean batch table, a strictly
    stronger oracle than ``stream_dedup_watermark``'s arrival-order-
    independent key-set check. State is bounded by event rate ×
    watermark horizon, not all-time key cardinality."""
    doubled = _events_stream(spark, sf_dir).unionAll(_events_stream(spark, sf_dir))
    out = (
        doubled.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    return _run_to_memory(out, "append")


@register(
    "stream_late_data_drop",
    oracle="""
    WITH m AS (SELECT date_trunc('hour', max(ts)) AS h FROM events)
    SELECT CAST(time_bucket(INTERVAL 1 HOUR, e.ts) AS TIMESTAMP)
             AS window_start,
           e.event_type, COUNT(*) AS n
    FROM events e, m
    WHERE e.ts >= m.h - INTERVAL 48 HOUR
    GROUP BY 1, 2
    """,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data discard made OBSERVABLE: the other stream_*
    queries run availableNow over one file (single batch — the
    watermark never actually drops anything), so this one replays the
    events as THREE source files / micro-batches
    (``maxFilesPerTrigger=1``, batch order pinned by file mtime):

    - batch 0: the most recent 24 hours → advances the watermark to
      max(ts) − 2h at commit;
    - batch 1: the 24 hours before that — Spark's LATE-EVENT filter
      intentionally lags the eviction watermark by one batch
      (two-watermark semantics, so a just-committed watermark never
      retroactively drops in-flight data), so this batch must still be
      accepted, which is exactly what the buffer slice proves;
    - batch 2: everything older than 48 hours — now ≥46h behind the
      lagged filter watermark, every row is LATE and must be dropped
      (`numRowsDroppedByWatermark` > 0).

    The memory table therefore equals the hourly rollup of the recent
    48 hours alone — what the oracle computes with a plain WHERE — and
    an engine that failed to discard late input would hash-mismatch.
    All three split lines are hour-aligned (windows are hour-aligned),
    so no window can straddle two accepted batches and double-emit in
    update mode. State stays bounded by the 2h horizon; the split
    lines are fixture plumbing, not query parameters."""
    import glob
    import shutil

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.date_trunc("hour", F.max("ts")).alias("h"))
    c24 = F.col("h") - F.expr("INTERVAL 24 HOURS")
    c48 = F.col("h") - F.expr("INTERVAL 48 HOURS")
    with_h = ev.join(F.broadcast(mx))
    slices = [
        ("batch0_recent", with_h.filter(F.col("ts") >= c24)),
        ("batch1_buffer", with_h.filter((F.col("ts") >= c48) & (F.col("ts") < c24))),
        ("batch2_late", with_h.filter(F.col("ts") < c48)),
    ]
    src = tempfile.mkdtemp(prefix="late_src_")
    for i, (name, df) in enumerate(slices):
        outdir = os.path.join(src, "_write_" + name)
        df.select(*_EVENT_COLS).coalesce(1).write.mode("overwrite").parquet(outdir)
        part = glob.glob(os.path.join(outdir, "part-*.parquet"))[0]
        dst = os.path.join(src, name + ".parquet")
        shutil.copy(part, dst)
        shutil.rmtree(outdir)
        t = 1_000_000_000 + i * 100  # strictly increasing mtimes → batch order
        os.utime(dst, (t, t))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    try:
        return _run_to_memory(agg, "update")
    finally:
        # the memory sink holds the materialized result; the split
        # files have no further readers
        shutil.rmtree(src, ignore_errors=True)
