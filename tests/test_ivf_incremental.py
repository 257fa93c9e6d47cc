"""Incremental IVF: drift-free delta insert under frozen centroids,
delta retrievability, freeze non-vacuity, and the oracle compare."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_postgres_loader_spark.functions.planctl import spread as _spread
from pyspark_postgres_loader_spark.operators.clustering import (
    _lloyd_update,
    _nearest,
    _quantize,
)
from pyspark_postgres_loader_spark.operators.ivf_incremental import (
    _IVFI_K,
    _delta_col,
    _frozen_centroids,
    build_incremental_index,
)
from pyspark_postgres_loader_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    return _spread(load_table(spark, SF, "embeddings")).select(
        "vec_id", _quantize(F.col("embedding")).alias("emb_micro")
    )


def test_incremental_insert_is_drift_free(spark):
    """The correctness claim: assigning the delta batch alone under
    frozen centroids must equal a frozen-assignment pass over the full
    corpus, row for row — cell ids AND distances."""
    corpus = _corpus(spark)
    index, cents = build_incremental_index(spark, SF)
    batch = _nearest(
        corpus, "emb_micro", cents, "cluster", "c_micro", dist="sq_dist"
    ).select("vec_id", "cluster", "sq_dist")
    merged = index.select("vec_id", "cluster", "sq_dist")
    diff = merged.join(batch, "vec_id").filter(
        (merged["cluster"] != batch["cluster"])
        | (merged["sq_dist"] != batch["sq_dist"])
    )
    assert merged.count() == batch.count() == corpus.count()
    assert diff.count() == 0


def test_base_assignments_untouched_by_delta(spark):
    """Inserting the delta batch must not move any base row: the
    merged index restricted to base ids equals the pre-insert base
    assignment."""
    corpus = _corpus(spark)
    base = corpus.filter(~_delta_col())
    cents = _frozen_centroids(base)
    pre = _nearest(base, "emb_micro", cents, "cluster", "c_micro").select(
        "vec_id", "cluster"
    )
    index, _ = build_incremental_index(spark, SF)
    post = index.filter(~F.col("is_delta")).select("vec_id", "cluster")
    assert pre.count() == post.count()
    assert pre.exceptAll(post).count() == 0


def test_freeze_is_not_vacuous(spark):
    """Re-clustering WOULD move the centroids: Lloyd on the full
    corpus yields a different centroid table than Lloyd on the base —
    so 'no re-clustering' is an observable choice, not a no-op."""
    corpus = _corpus(spark)
    base = corpus.filter(~_delta_col())
    frozen = _frozen_centroids(base)
    refit = corpus.filter(F.col("vec_id") < _IVFI_K).select(
        F.col("vec_id").alias("cluster"), F.col("emb_micro").alias("c_micro")
    )
    for _ in range(2):
        refit = _lloyd_update(
            _nearest(corpus, "emb_micro", refit, "cluster", "c_micro"),
            ["cluster"], "emb_micro",
        )
    joined = frozen.alias("f").join(refit.alias("r"), "cluster").select(
        (F.col("f.c_micro") != F.col("r.c_micro")).alias("moved")
    )
    assert joined.filter("moved").count() > 0


def test_delta_vectors_are_retrievable(spark):
    import __spark_entry__ as E

    df = E.queries()["ann_ivf_incremental_topk"](spark, SF)
    rows = df.collect()
    assert len(rows) > 0
    assert any(r.is_delta for r in rows), "no delta vector reached a top-k"
    # ranks are dense 1..k per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_query_matches_oracle(spark):
    import sys

    sys.path.insert(0, "tests")
    from oracle_harness import compare_query

    compare_query(spark, SF, "ann_ivf_incremental_topk")
