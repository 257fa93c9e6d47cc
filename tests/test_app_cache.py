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


def test_kmeans_and_quality_weights_log_their_builds(spark, sf_dir, monkeypatch):
    """The k-means final assignment and the trained quality weights are
    app_cache substrates: one ``substrate_build`` record per build, none
    on a memo hit."""
    from pyspark_postgres_loader_spark.operators import clustering, quality_model

    monkeypatch.setattr(clustering, "_KMEANS_CACHE", {})
    monkeypatch.setattr(quality_model, "_QUALITY_CACHE", {})
    builds = [
        lambda: clustering._kmeans_final_assignment(spark, sf_dir),
        lambda: quality_model.train_quality_weights(spark, sf_dir),
    ]
    mark = len(registry.RUN_LOG)
    first = [build() for build in builds]
    recs = registry.RUN_LOG[mark:]
    assert [r["kind"] for r in recs] == ["substrate_build"] * 2
    assert [r["substrate"] for r in recs] == [
        f"{sf_dir}/kmeans", f"{sf_dir}/quality-weights/full",
    ]
    mark = len(registry.RUN_LOG)
    assert all(build() is df for build, df in zip(builds, first))
    assert registry.RUN_LOG[mark:] == []
