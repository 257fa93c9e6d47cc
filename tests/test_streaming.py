"""Streaming behavior: dedup keeps one row per key, and the
foreachBatch → upsert-sink path loads a stream idempotently into a
DBAPI target (the exactly-once-ish production pattern)."""

from __future__ import annotations

import functools
import sqlite3

from pyspark.sql import functions as F

from pyspark_postgres_loader_spark.streaming.windows import (
    stream_dedup_watermark,
    stream_foreach_batch_to_sink,
)
from pyspark_postgres_loader_spark.tables import load_table


def test_stream_dedup_keeps_one_row_per_key(spark, sf_dir):
    out = stream_dedup_watermark(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events")
    expected = batch.select("user_id", "event_type").distinct().count()
    got = out.select("user_id", "event_type").distinct().count()
    assert out.count() == expected == got


def test_foreach_batch_upsert_idempotent(spark, sf_dir, tmp_path):
    db = str(tmp_path / "stream.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE ev (event_id INTEGER PRIMARY KEY, user_id INTEGER,"
        " event_type TEXT, value REAL)"
    )
    conn.commit()
    fac = functools.partial(sqlite3.connect, db)

    def writer(batch_df, epoch_id):
        from pyspark_postgres_loader_spark.sinks import upsert_dataframe
        from pyspark_postgres_loader_spark.sinks.sql_builder import SQLITE

        upsert_dataframe(
            batch_df.select("event_id", "user_id", "event_type", "value"),
            fac,
            "ev",
            ["event_id"],
            dialect=SQLITE,
        )

    stream_foreach_batch_to_sink(spark, sf_dir, writer)
    n_events = load_table(spark, sf_dir, "events").count()
    assert conn.execute("SELECT COUNT(*) FROM ev").fetchone()[0] == n_events
    # replay the whole stream: keyed upsert keeps it idempotent
    stream_foreach_batch_to_sink(spark, sf_dir, writer)
    assert conn.execute("SELECT COUNT(*) FROM ev").fetchone()[0] == n_events
    conn.close()


def test_tws_query_gated_on_protobuf():
    """transformWithStateInPandas needs google.protobuf (its driver-
    worker wire protocol); the query registers only where the
    dependency exists, so the driver never sees a query that can only
    crash. The processor implementation itself must stay importable
    either way."""
    import importlib.util

    from pyspark_postgres_loader_spark.registry import QUERIES, _ensure_loaded
    from pyspark_postgres_loader_spark.streaming.windows import (
        _protobuf_available,
        stream_tws_user_value_totals,
    )

    _ensure_loaded()
    assert callable(stream_tws_user_value_totals)
    try:
        have = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        have = False
    assert _protobuf_available() == have
    assert ("stream_tws_user_value_totals" in QUERIES) == have


def test_stream_ohlc_equals_batch_resample(spark):
    from pyspark_postgres_loader_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    sf = "/root/testdata/sf0.001"
    batch = {
        (r.event_type, r.bucket, r.open_value, r.high_value, r.low_value,
         r.close_value, r.volume, r.n_events)
        for r in QUERIES["timeseries_ohlc_hourly"].fn(spark, sf).collect()
    }
    stream = {
        (r.event_type, r.window_start, r.open_value, r.high_value, r.low_value,
         r.close_value, r.volume, r.n_events)
        for r in QUERIES["stream_ohlc_hourly"].fn(spark, sf).collect()
    }
    # the streaming tumbling-window aggregation IS the batch resample
    assert stream == batch


def test_stream_run_ignores_retired_env_knobs_and_leaks_no_conf(
    spark, sf_dir, monkeypatch
):
    """The state-store provider and state-partition count are fixed, not
    environment-tuned: with the retired variables set, running a stream
    query leaves the session's provider and shuffle width untouched."""
    from pyspark_postgres_loader_spark.streaming.windows import (
        stream_tumbling_hourly,
    )

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    before = (spark.conf.get(provider_key, None),
              spark.conf.get("spark.sql.shuffle.partitions"))
    monkeypatch.setenv(
        "SPARK_GRAFT_STREAM_STATE_PROVIDER",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "3")
    try:
        assert stream_tumbling_hourly(spark, sf_dir).count() > 0
        after = (spark.conf.get(provider_key, None),
                 spark.conf.get("spark.sql.shuffle.partitions"))
        assert after == before
    finally:  # keep a leak from spilling into later tests
        if before[0] is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, before[0])


def test_phase_log_flags_truncated_progress(spark, tmp_path):
    """``recentProgress`` keeps at most ``numRecentProgressUpdates - 1``
    records, so a stream with more batches than that gets a RUN_LOG
    record summed over its last batches only; the record says so."""
    from pyspark_postgres_loader_spark import registry
    from pyspark_postgres_loader_spark.streaming import windows

    for i in range(3):
        spark.range(i * 10, i * 10 + 10).coalesce(1).write.parquet(
            str(tmp_path / "src" / f"p{i}")
        )

    def run():
        stream = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "src" / "*"))
        )
        mark = len(registry.RUN_LOG)
        assert windows._run_to_memory(stream, "append").count() == 30
        (rec,) = registry.RUN_LOG[mark:]
        return rec["n_batches"], rec["progress_truncated"]

    key = "spark.sql.streaming.numRecentProgressUpdates"
    assert run() == (3, False)
    saved = spark.conf.get(key, None)
    spark.conf.set(key, "3")  # Spark then keeps 2 progress records
    try:
        assert run() == (2, True)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
