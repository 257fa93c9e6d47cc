"""Graph ANN (operators/nsw.py): recall against an INDEPENDENT exact
scorer, graph-degree invariants, beam monotonicity across reruns, and
the broadcast-frontier plan shape."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from pyspark_postgres_loader_spark.operators.clustering import _quantize
from pyspark_postgres_loader_spark.operators.nsw import (
    _NSW_M,
    _NSW_NQ,
    _NSW_TOPK,
    ann_nsw_beam_topk,
    nsw_graph,
)
from pyspark_postgres_loader_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _exact_topk(spark, k):
    """Ground truth via numpy on collected micros — not the product's
    join/window pipeline."""
    rows = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", _quantize(F.col("embedding")).alias("m"))
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.m for r in rows], dtype=np.int64)
    truth = {}
    for qid in range(_NSW_NQ):
        qv = mat[ids == qid][0]
        d = ((mat - qv) ** 2).sum(axis=1)
        order = sorted(zip(d, ids), key=lambda t: (t[0], t[1]))
        truth[qid] = [int(v) for dd, v in order if v != qid][:k]
    return truth


def test_recall_against_exact(spark):
    """The graph search must find most of the true top-k: recall@k >=
    0.8 averaged over queries (the ann_int8_rerank_topk bar). Not an
    oracle clone — the oracle value-compares the SEARCH; this pins that
    the search is also a GOOD approximation."""
    truth = _exact_topk(spark, _NSW_TOPK)
    out = ann_nsw_beam_topk(spark, SF_DIR).collect()
    got = {}
    for r in out:
        got.setdefault(r.qid, []).append(r.vec_id)
    recalls = [
        len(set(got.get(q, [])) & set(truth[q])) / len(truth[q])
        for q in range(_NSW_NQ)
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_graph_degree_and_symmetric_distance(spark):
    g = nsw_graph(spark, SF_DIR).collect()
    deg = {}
    for r in g:
        assert r.a != r.b
        deg[r.a] = deg.get(r.a, 0) + 1
    n = load_table(spark, SF_DIR, "embeddings").count()
    assert len(deg) == n  # every vector has outgoing edges
    assert max(deg.values()) <= _NSW_M


def test_results_sorted_and_self_excluded(spark):
    out = ann_nsw_beam_topk(spark, SF_DIR).collect()
    by_q = {}
    for r in out:
        assert r.vec_id != r.qid
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == set(range(_NSW_NQ))
    for rows in by_q.values():
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        dists = [r.dist for r in rows]
        assert dists == sorted(dists)


def test_deterministic_across_runs(spark):
    a = [tuple(r) for r in ann_nsw_beam_topk(spark, SF_DIR).collect()]
    b = [tuple(r) for r in ann_nsw_beam_topk(spark, SF_DIR).collect()]
    assert a == b


def test_matmul_knn_equals_relational_form(spark):
    """The applyInPandas matmul kNN build must reproduce the
    relational (self-join + zip_with sqdist + window) edges EXACTLY —
    the float64 matmul is integer-exact in this micro range (every
    product <= 4e12 and every 64-term sum <= 2.6e14, both < 2^53)."""
    from pyspark.sql.window import Window

    from pyspark_postgres_loader_spark.operators.clustering import (
        _micro_corpus,
        _sqdist,
    )
    from pyspark_postgres_loader_spark.operators.nsw import _NSW_CELLS

    c = _micro_corpus(spark, SF_DIR, "m")
    new = {(r.a, r.b) for r in nsw_graph(spark, SF_DIR, c).collect()}

    cents = c.filter(F.col("vec_id") < _NSW_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("m").alias("cm")
    )
    cents_arr = cents.agg(
        F.sort_array(F.collect_list(F.struct("cell", "cm"))).alias("cs")
    )
    best = F.array_min(
        F.transform(
            F.col("cs"),
            lambda cc: F.struct(
                _sqdist(F.col("m"), cc["cm"]).alias("d"),
                cc["cell"].alias("cell"),
            ),
        )
    )
    assigned = (
        c.crossJoin(F.broadcast(cents_arr))
        .withColumn("best", best)
        .select("vec_id", "m", F.col("best.cell").alias("cell"))
    )
    x = assigned.select(F.col("vec_id").alias("a"), F.col("m").alias("am"), "cell")
    y = assigned.select(F.col("vec_id").alias("b"), F.col("m").alias("bm"), "cell")
    w = Window.partitionBy("a").orderBy("d", "b")
    from pyspark_postgres_loader_spark.operators.nsw import _NSW_M

    old = {
        (r.a, r.b)
        for r in (
            x.join(y, "cell")
            .filter(F.col("a") != F.col("b"))
            .select("a", "b", _sqdist(F.col("am"), F.col("bm")).alias("d"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _NSW_M)
            .select("a", "b")
        ).collect()
    }
    assert new == old
    assert len(new) > 0


def test_no_sort_merge_join_in_search(spark):
    """The frontier must stay the broadcast side through every hop."""
    df = ann_nsw_beam_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_layered_recall_against_exact(spark):
    """The 3-level HNSW search must beat the same bar as single-layer
    NSW (recall@k >= 0.8 vs an independent exact scorer); measured
    0.979 at sf0.001 and sf0.01 — the centroid-clique navigation edges
    are what make every cell reachable from the sparse top layer."""
    from pyspark_postgres_loader_spark.operators.nsw import (
        ann_hnsw_layered_topk,
    )

    truth = _exact_topk(spark, _NSW_TOPK)
    out = ann_hnsw_layered_topk(spark, SF_DIR).collect()
    got = {}
    for r in out:
        got.setdefault(r.qid, []).append(r.vec_id)
    recalls = [
        len(set(got.get(q, [])) & set(truth[q])) / len(truth[q])
        for q in range(_NSW_NQ)
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_hub_graph_reaches_every_cell(spark):
    """Without the centroid clique a blocked kNN graph is one component
    per cell; with hub=True every centroid (hence every cell) is one
    hop from any other centroid — the reachability property the round-9
    qid-3 recall hole exposed."""
    from pyspark_postgres_loader_spark.operators.nsw import _NSW_CELLS

    edges = nsw_graph(spark, SF_DIR, members_mod=64, hub=True).collect()
    cents = set(range(_NSW_CELLS))
    for c in cents:
        out = {e.b for e in edges if e.a == c}
        assert cents - {c} <= out  # full clique among centroids


def test_layered_query_matches_oracle(spark):
    import sys

    sys.path.insert(0, "tests")
    from oracle_harness import compare_query

    compare_query(spark, SF_DIR, "ann_hnsw_layered_topk")


def test_hop_plans_one_exchange(spark):
    """A beam hop shuffles once: frontier ∪ expanded is hashed on
    ``qid``, which both the dedup aggregate and the ``qid`` window
    accept. The frontier carries the query vector, so the only
    broadcasts left are the frontier itself and one side of the corpus
    join. The hop is read before its checkpoint, because a checkpointed
    plan shows only ``Scan ExistingRDD``."""
    import re

    from pyspark_postgres_loader_spark.operators.clustering import (
        _micro_corpus,
    )
    from pyspark_postgres_loader_spark.operators.nsw import (
        _NSW_L1_MOD,
        _hop_plan,
        _qdist,
        _seed_beam,
    )

    corpus = _micro_corpus(spark, SF_DIR, "m").localCheckpoint()
    adj = nsw_graph(spark, SF_DIR, corpus).localCheckpoint()
    entries = corpus.filter(F.col("vec_id") % _NSW_L1_MOD == 0)
    frontier = _seed_beam(corpus, entries, 4, _qdist()).localCheckpoint()
    plan = (
        _hop_plan(frontier, adj, corpus, 4, _qdist())
        ._jdf.queryExecution().executedPlan().toString()
    )
    shuffles = re.findall(r"(?<![A-Za-z])Exchange (\S+)", plan)
    assert len(shuffles) == 1, plan
    assert re.fullmatch(r"hashpartitioning\(qid#\d+L,", shuffles[0]), plan
    assert plan.count("BroadcastExchange") == 2, plan
