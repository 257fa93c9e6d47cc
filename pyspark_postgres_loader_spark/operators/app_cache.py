"""App-id-scoped DataFrame memo, the one memo for every operator
family that builds a reusable substrate (the k-means final assignment,
trained quality-model weights, ANN graphs, IVF codebooks, coarse
centroids).

Why this exists at 100 TB: an ANN index / trained codebook is built
ONCE per corpus version and served to every query; rebuilding it per
query is the mistake the cache removes. Keys carry the Spark
applicationId so a DataFrame never leaks across sessions (the
driver's vanilla rehearsal and a fresh bench process get fresh ids
and rebuild); fixture inputs never change under a live session, so
entries cannot go stale. Entries from dead sessions are evicted on
the next build (r10 ADVICE precedent). Eviction drops the reference
only: ``unpersist()`` cannot free localCheckpoint blocks (they are not
in the cacheManager; probed on PySpark 4.1.2, ``getRDDStorageInfo``
is identical with and without the call), so the blocks are freed by
ContextCleaner once unreferenced, or when their context stops.

Each build appends a ``substrate_build`` record to ``registry.RUN_LOG``
so bench.py can report substrate construction in BENCH_DETAIL's
``attribution`` block, apart from the per-query timings that consume
the memo (a memoized query's timed passes read a checkpoint, not the
build).
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..registry import RUN_LOG


def app_scoped(
    cache: dict[tuple, DataFrame],
    spark: SparkSession,
    key_tail: tuple,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the memoized eager localCheckpoint of ``build()`` for
    ``key_tail`` under the CURRENT Spark application, evicting entries
    left by dead sessions (their blocks go with ContextCleaner or their
    stopped context)."""
    app_id = spark.sparkContext.applicationId
    key = (app_id,) + key_tail
    df = cache.get(key)
    if df is None:
        for stale in [k for k in cache if k[0] != app_id]:
            cache.pop(stale)
        t0 = time.perf_counter()
        df = build().localCheckpoint(eager=True)
        RUN_LOG.append({
            "kind": "substrate_build",
            "substrate": "/".join(str(p) for p in key_tail),
            "sec": round(time.perf_counter() - t0, 3),
        })
        cache[key] = df
    return df
