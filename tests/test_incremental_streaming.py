"""Behavior tests for the streaming incremental-load bridge and the
deterministic global shuffle (beyond the DuckDB differential, which
already pins their values)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pyspark_postgres_loader_spark.operators.training import train_global_shuffle
from pyspark_postgres_loader_spark.streaming.incremental import (
    stream_dedup_exactly_once,
    stream_upsert_incremental,
)
from pyspark_postgres_loader_spark.tables import load_table


def test_upsert_incremental_is_repeatable(spark, sf_dir):
    """Two full runs (fresh target + checkpoint each) agree exactly —
    the load is a pure function of the source, not of scheduling."""
    a = {tuple(r) for r in stream_upsert_incremental(spark, sf_dir).collect()}
    b = {tuple(r) for r in stream_upsert_incremental(spark, sf_dir).collect()}
    assert a == b
    assert len(a) > 0
    # one row per (user, type) pair present in the source
    pairs = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert len(a) == pairs


def test_dedup_within_watermark_removes_all_duplicates(spark, sf_dir):
    out = stream_dedup_exactly_once(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    assert out.count() == n_events  # doubled input, exactly-once output
    assert out.select("event_id").distinct().count() == n_events


def test_global_shuffle_is_a_permutation(spark, sf_dir):
    out = train_global_shuffle(spark, sf_dir)
    n = load_table(spark, sf_dir, "documents").count()
    stats = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("shuffle_pos").alias("d"),
        F.min("shuffle_pos").alias("lo"),
        F.max("shuffle_pos").alias("hi"),
    ).first()
    assert (stats.n, stats.d, stats.lo, stats.hi) == (n, n, 1, n)


def test_global_shuffle_invariant_to_input_layout(spark, sf_dir, monkeypatch):
    """Positions must not depend on how the input happens to be
    partitioned (range-boundary placement is sampled per run)."""
    base = {(r.doc_id, r.shuffle_pos) for r in train_global_shuffle(spark, sf_dir).collect()}

    import pyspark_postgres_loader_spark.operators.training as tr

    real = tr.load_table

    def skewed_load(spark_, sf_dir_, name):
        df = real(spark_, sf_dir_, name)
        return df.repartition(7) if name == "documents" else df

    monkeypatch.setattr(tr, "load_table", skewed_load)
    alt = {(r.doc_id, r.shuffle_pos) for r in train_global_shuffle(spark, sf_dir).collect()}
    assert base == alt


def test_late_data_drop_discards_old_batch(spark, sf_dir):
    """The 3-batch replay must output FEWER windows than the full batch
    rollup (the pre-48h majority arrives late and is dropped) and must
    exactly equal the batch rollup of the recent 48 hours."""
    from pyspark_postgres_loader_spark.streaming.incremental import (
        stream_late_data_drop,
    )

    out = stream_late_data_drop(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    full = ev.groupBy(
        F.window("ts", "1 hour"), "event_type"
    ).count()
    h = ev.agg(F.date_trunc("hour", F.max("ts")).alias("h"))
    recent = (
        ev.join(F.broadcast(h))
        .filter(F.col("ts") >= F.col("h") - F.expr("INTERVAL 48 HOURS"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    n_out, n_full, n_recent = out.count(), full.count(), recent.count()
    assert n_out < n_full  # late windows really were discarded
    assert n_out == n_recent
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in recent.collect()}
    assert got == want


def test_upsert_incremental_exercises_cross_batch_overwrites(spark, sf_dir):
    """The 3-slice replay must contain keys active in MORE than one
    time slice — i.e. the sink's conflict/overwrite path really runs —
    and the final value for such a key must come from its LAST event."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
    sliced = ev.join(F.broadcast(b)).withColumn(
        "slice",
        F.least(
            F.lit(2),
            F.floor(
                (F.unix_micros(F.col("ts").cast("timestamp"))
                 - F.unix_micros(F.col("lo").cast("timestamp"))) * 3
                / (F.unix_micros(F.col("hi").cast("timestamp"))
                   - F.unix_micros(F.col("lo").cast("timestamp")) + 1)
            ).cast("int"),
        ),
    )
    multi = (
        sliced.groupBy("user_id", "event_type")
        .agg(F.countDistinct("slice").alias("ns"))
        .filter(F.col("ns") > 1)
    )
    assert multi.count() > 0  # conflict path exercised

    from pyspark_postgres_loader_spark.streaming.incremental import (
        stream_upsert_incremental,
    )

    out = {(r.user_id, r.event_type): (r.last_value, r.last_ts_us)
           for r in stream_upsert_incremental(spark, sf_dir).collect()}
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(multi.select("user_id", "event_type"), ["user_id", "event_type"])
    )
    for r in latest.collect():
        lv, lt = out[(r.user_id, r.event_type)]
        assert lv == r.value


def test_upsert_incremental_logs_its_stream(spark, sf_dir):
    """The ``foreachBatch`` load writes the same ``stream`` record to
    ``registry.RUN_LOG`` as the memory-sink streams, so bench
    attribution covers all of the stream queries."""
    from pyspark_postgres_loader_spark import registry

    mark = len(registry.RUN_LOG)
    stream_upsert_incremental(spark, sf_dir)
    (rec,) = [r for r in registry.RUN_LOG[mark:] if r["kind"] == "stream"]
    assert rec["output_mode"] == "append"
    assert rec["n_batches"] == 3  # one per time-ordered source file
    assert rec["add_batch_ms"] > 0
    assert rec["await_sec"] > 0
