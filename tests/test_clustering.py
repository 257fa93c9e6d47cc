"""Semantic invariants for the k-means operators (the oracle
differential pins exact values; these pin the algebra that must hold
at ANY scale or k)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_postgres_loader_spark.operators import clustering
from pyspark_postgres_loader_spark.tables import load_table


@pytest.fixture(scope="module")
def final_assign(spark, sf_dir):
    df = clustering._build_final_assignment(spark, sf_dir).cache()
    yield df
    df.unpersist()


def test_assignment_is_a_partition(final_assign, spark, sf_dir):
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert final_assign.count() == n_vecs
    assert final_assign.select("vec_id").distinct().count() == n_vecs


def test_clusters_bounded_and_nonempty(final_assign):
    rows = final_assign.groupBy("cluster").count().collect()
    assert 1 <= len(rows) <= clustering._K
    assert all(0 <= r["cluster"] < clustering._K for r in rows)
    assert all(r["count"] > 0 for r in rows)


def test_sq_dist_nonnegative(final_assign):
    assert final_assign.filter(F.col("sq_dist") < 0).count() == 0


def test_assignment_is_argmin(final_assign, spark, sf_dir):
    """Every vector's recorded sq_dist is <= its distance to every
    OTHER final centroid (the defining property of the assign step) —
    exact integer comparison, no tolerance needed."""
    corpus = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", clustering._quantize(F.col("embedding")).alias("emb_micro")
    )
    cents = corpus.filter(F.col("vec_id") < clustering._K).select(
        F.col("vec_id").alias("cluster"), F.col("emb_micro").alias("c_micro")
    )
    for _ in range(clustering._ITERS):
        cents = clustering._lloyd_update(
            clustering._nearest(
                corpus, "emb_micro", cents, "cluster", "c_micro"
            ),
            ["cluster"], "emb_micro",
        )
    all_d = (
        corpus.crossJoin(F.broadcast(cents.withColumnRenamed("cluster", "other")))
        .select(
            "vec_id",
            "other",
            clustering._sqdist(F.col("emb_micro"), F.col("c_micro")).alias(
                "d_other"
            ),
        )
    )
    violations = (
        final_assign.select("vec_id", "sq_dist")
        .join(all_d, "vec_id")
        .filter(F.col("d_other") < F.col("sq_dist"))
        .count()
    )
    assert violations == 0


def test_diversity_sample_shape(spark, sf_dir):
    qs = __import__(
        "pyspark_postgres_loader_spark.registry", fromlist=["all_queries"]
    ).all_queries()
    picks = qs["sample_cluster_diversity"](spark, sf_dir).toPandas()
    per = picks.groupby("cluster").size()
    assert (per <= clustering._DIVERSITY_PER_CLUSTER).all()
    # ranks are dense 1..m within each cluster
    for _, grp in picks.groupby("cluster"):
        assert sorted(grp["pick_rank"]) == list(range(1, len(grp) + 1))


def _memoized(query, part):
    """Plan builder: the unpinned DataFrame ``query`` memoizes as
    ``part``, captured by standing in for ``app_cache.app_scoped``."""

    def plan(spark, sf_dir, monkeypatch):
        from pyspark_postgres_loader_spark.operators import app_cache

        built = {}

        def capture(cache, session, key_tail, build):
            built[key_tail[-1]] = df = build()
            return df

        monkeypatch.setattr(app_cache, "app_scoped", capture)
        query(spark, sf_dir)
        return built[part]

    return plan


def _corpus_exchanges(plan: str) -> tuple[int, list[str]]:
    """(BroadcastNestedLoopJoin BuildRight count, corpus-side
    Exchanges) in a tree-string physical plan. An Exchange is on the
    corpus side when, walking up, it meets a nested-loop join through
    that join's streamed (first) child before any BroadcastExchange.
    ``planctl.spread``'s round-robin over a one-split scan does not
    count: it is skipped whenever the scan is already wide."""
    stack: list[tuple[int, str, bool]] = []  # (depth, node, first child)
    joins, found = 0, []
    for line in plan.splitlines():
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        first = line[depth - 3:depth] == ":- "
        while stack and stack[-1][0] >= depth:
            stack.pop()
        joins += node.startswith("BroadcastNestedLoopJoin BuildRight")
        if node.startswith("Exchange") and not node.startswith(
            "Exchange RoundRobinPartitioning"
        ):
            via_first = first
            for _, up, up_first in reversed(stack):
                if up.startswith("BroadcastExchange"):
                    break
                if up.startswith("BroadcastNestedLoopJoin"):
                    if via_first:
                        found.append(node)
                    break
                via_first = up_first
        stack.append((depth, node, first))
    return joins, found


def _plan_builders():
    from pyspark_postgres_loader_spark.operators import ivfpq, nsw, pq

    return {
        "kmeans": lambda spark, sf_dir, _: clustering._build_final_assignment(
            spark, sf_dir
        ),
        "pq_encode": _memoized(pq.ann_pq_adc_topk, "codes"),
        "ivfpq_coarse": _memoized(ivfpq.ann_ivfpq_topk, "codes"),
        "nsw_cells": lambda spark, sf_dir, _: nsw.nsw_graph(spark, sf_dir),
    }


@pytest.mark.parametrize("plan_of", list(_plan_builders()))
def test_kmeans_plan_broadcasts_centroids_and_prunes_scan(
    spark, sf_dir, monkeypatch, plan_of
):
    """Assignment must be map-side (broadcast centroid join, no shuffle
    of the corpus for scoring) and the scan must read only the two
    needed columns — for k-means and for every quantizer that shares
    its nearest-centroid argmin."""
    df = _plan_builders()[plan_of](spark, sf_dir, monkeypatch)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # unused column pruned from the scan: the physical FileScan lists
    # what it reads (the optimized plan's Relation node names every
    # column of the table, pruned or not)
    assert "label" not in plan
    joins, exchanges = _corpus_exchanges(plan)
    assert joins and not exchanges, plan


def test_nearest_ties_go_to_the_lower_key(spark):
    """Equal distances break on the lower centroid key, as the oracles'
    ``ORDER BY dist, key`` does; ``within=`` keeps each row among its
    own subspace's centroids."""
    rows = spark.createDataFrame(
        [(1, [0, 0]), (2, [3, 3])], "vec_id long, v array<long>"
    )
    cents = spark.createDataFrame(
        [(7, [1, 1]), (9, [1, -1]), (3, [-1, -1]), (5, [5, 5])],
        "k long, c array<long>",
    )
    out = clustering._nearest(rows, "v", cents, "k", "c", dist="d")
    assert out.columns == ["vec_id", "v", "k", "d"]
    # vec 1: keys 3, 7 and 9 all at 2; vec 2: keys 5 and 7 both at 8
    assert sorted((r.vec_id, r.k, r.d) for r in out.collect()) == [
        (1, 3, 2), (2, 5, 8),
    ]

    svs = spark.createDataFrame(
        [(1, 0, [0, 0]), (1, 1, [4, 4])], "vec_id long, sub int, sv array<long>"
    )
    cb = spark.createDataFrame(
        [(0, 0, [9, 9]), (0, 2, [1, 1]), (0, 1, [-1, -1]),
         (1, 1, [8, 8]), (1, 0, [0, 0])],
        "sub int, code long, c_micro array<long>",
    )
    out = clustering._nearest(
        svs, "sv", cb, "code", "c_micro", dist="d", within="sub"
    )
    # sub 0: codes 1 and 2 at 2 (sub 1's code 0 would be at 0);
    # sub 1: codes 0 and 1 both at 32
    assert sorted((r.sub, r.code, r.d) for r in out.collect()) == [
        (0, 1, 2), (1, 0, 32),
    ]


def test_tfidf_scores_and_ranks(spark, sf_dir):
    """TF-IDF invariants: <=3 terms per doc, dense ranks, scores
    non-increasing within a doc, every term actually occurs in the doc."""
    from pyspark_postgres_loader_spark.registry import all_queries

    picks = all_queries()["text_tfidf_top_terms"](spark, sf_dir).toPandas()
    for _, grp in picks.groupby("doc_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))
        ordered = grp.sort_values("rank")["score"].tolist()
        assert all(a >= b for a, b in zip(ordered, ordered[1:]))
    assert (picks["score"] > 0).all()


def test_char_diversity_bounds(spark, sf_dir):
    """Simpson index lies in [0, 1); a one-character string scores 0."""
    from pyspark_postgres_loader_spark.registry import all_queries

    div = all_queries()["quality_char_diversity"](spark, sf_dir).toPandas()
    assert ((div["simpson_diversity"] >= 0) & (div["simpson_diversity"] < 1)).all()
    # degenerate probe through the same expression builder
    import pandas as pd
    from pyspark.sql import functions as F

    from pyspark_postgres_loader_spark.operators.text import _simpson_spark_exprs

    probe = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["aaaa", "", "abcd"]})
    ).select(
        "doc_id",
        F.lower(F.col("text")).alias("lc"),
        F.length(F.lower(F.col("text"))).alias("len"),
    )
    counts, simpson = _simpson_spark_exprs()
    out = {
        r["doc_id"]: r["s"]
        for r in probe.select("doc_id", "len", *counts)
        .select("doc_id", simpson.alias("s"))
        .collect()
    }
    assert out[1] == 0.0          # single-repeated-char text
    assert out[2] == 0.0          # empty text guarded, not NaN
    assert abs(out[3] - 0.75) < 1e-12  # 4 distinct chars -> 1 - 4*(1/16)


def test_gram_matrix_matches_numpy(spark, sf_dir):
    """The distributed batch-partial Gram equals a single-machine numpy
    computation over the full corpus, entry for entry (exact integers
    under the hood, so equality is exact, not approximate)."""
    import numpy as np

    from pyspark_postgres_loader_spark.operators.clustering import (
        embedding_gram_matrix,
    )
    from pyspark_postgres_loader_spark.tables import load_table

    rows = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.stack([np.asarray(r.embedding) for r in rows]).astype(np.float64)
    Q = np.floor(X * 1e6).astype(np.int64)
    ref = (Q.T @ Q).astype(np.float64) / 1e12

    out = {(r.i, r.j): r.gram for r in embedding_gram_matrix(spark, sf_dir).collect()}
    d = ref.shape[0]
    assert len(out) == d * (d + 1) // 2  # upper triangle, diagonal included
    for (i, j), g in out.items():
        assert i <= j
        assert g == ref[i, j], (i, j, g, ref[i, j])


def test_semdedup_drop_rule_and_oracle(spark):
    """SemDeDup invariants: every dropped vector's dominating partner
    is in the SAME cluster, is FARTHER from the centroid (or equal with
    a lower id), their cosine clears the threshold, and no vector is
    both dropped and someone's keeper-of-record at a higher centroid
    distance ordering violation. Plus the oracle match."""
    import sys

    sys.path.insert(0, "tests")
    from oracle_harness import compare_query

    from pyspark_postgres_loader_spark.operators.clustering import (
        _SEMDEDUP_TAU,
        _kmeans_final_assignment,
        dedup_semantic_cluster,
    )

    sf = "/root/testdata/sf0.001"
    dropped = dedup_semantic_cluster(spark, sf).collect()
    assert dropped  # non-vacuous at the smallest SF
    assign = {
        r.vec_id: (r.cluster, r.sq_dist)
        for r in _kmeans_final_assignment(spark, sf).collect()
    }
    dropped_ids = {r.vec_id for r in dropped}
    for r in dropped:
        assert r.cosine >= _SEMDEDUP_TAU
        c_l, d_l = assign[r.vec_id]
        c_k, d_k = assign[r.kept_partner]
        assert c_l == c_k == r.cluster  # same-cluster pair
        # the keeper dominates: farther from centroid, or tie + lower id
        assert d_k > d_l or (d_k == d_l and r.kept_partner < r.vec_id)
    # keepers may themselves be dropped by a further dominator (chains
    # are allowed), but a dropped vector can never dominate its own
    # dominator
    for r in dropped:
        if r.kept_partner in dropped_ids:
            c_l, d_l = assign[r.vec_id]
            c_k, d_k = assign[r.kept_partner]
            assert (d_k, -r.kept_partner) > (d_l, -r.vec_id)
    compare_query(spark, sf, "dedup_semantic_cluster")
