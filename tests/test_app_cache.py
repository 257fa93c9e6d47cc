"""``operators.app_cache.app_scoped``: one eager build per key under the
live application, recorded once in ``registry.RUN_LOG``."""

from __future__ import annotations

from pyspark_postgres_loader_spark import registry
from pyspark_postgres_loader_spark.operators.app_cache import app_scoped


def test_build_appends_one_record_and_a_memo_hit_none(spark):
    cache: dict = {}
    builds = []

    def build():
        builds.append(1)
        return spark.range(10)

    mark = len(registry.RUN_LOG)
    first = app_scoped(cache, spark, ("range", 10), build)
    (rec,) = registry.RUN_LOG[mark:]
    assert rec["kind"] == "substrate_build"
    assert rec["substrate"] == "range/10"
    assert rec["sec"] >= 0
    assert first.count() == 10

    mark = len(registry.RUN_LOG)
    assert app_scoped(cache, spark, ("range", 10), build) is first
    assert registry.RUN_LOG[mark:] == []
    assert len(builds) == 1
