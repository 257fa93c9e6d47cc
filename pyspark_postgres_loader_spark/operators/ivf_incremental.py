"""Incremental IVF ingestion — delta-insert into a built ANN index
WITHOUT rebuilding it, the operation a live 100 TB corpus actually
needs (every other index here — IVF, PQ, IVF-PQ, NSW, HNSW — is
build-once; this parallels ``dedup_incremental_ingest`` on the dedup
side).

The pipeline: split the embeddings into a BASE corpus and a DELTA
batch (the newly arrived vectors), run fixed-round integer-micro
Lloyd on the base ONLY (clustering.py's bit-deterministic recipe),
FREEZE the resulting centroids, assign the delta batch to its nearest
frozen centroids — touching only the delta rows, never re-clustering
and never re-reading the stored base assignments — and search the
merged index.

Correctness claim (what the oracle pins): because IVF cell assignment
is per-vector independent, inserting a delta batch under frozen
centroids must yield EXACTLY the index a frozen-assignment pass over
base ∪ delta would build — no drift, base cells unchanged. The DuckDB
oracle replays the Lloyd rounds on the base as unrolled CTEs, then
performs that frozen-assignment search over the union; the Spark side
builds base and delta assignments as two separate passes (the
incremental path) — their agreement IS the property under test. The
delta queries in the fixed query set prove delta vectors are
retrievable through the probe path.

Determinism: everything runs in integer micro-units (quantize once,
BIGINT squared distances, argmin ties on cluster/vec id, floored
centroid means — see operators/clustering.py's module contract), so
ranks and distances are bit-identical cross-engine.

Scale design (100 TB): the base assignment is the STORED index
(written ``partitionBy(cell)`` — sinks/layout.py); the delta pass
broadcasts the k x d frozen centroid table and maps ONLY the delta
batch (no shuffle of the base corpus, no Lloyd re-run); the search
broadcasts probes and prunes non-probed cells at the partition level.
Reference: no counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .clustering import (
    _SQL_QUANTIZE,
    _lloyd_update,
    _micro_corpus,
    _nearest,
    _sql_sqdist,
    _sqdist,
)

_IVFI_K = 8        # cells; init = base embeddings of vec_id 0.._K-1
_IVFI_ITERS = 2    # fixed Lloyd rounds on the BASE, then freeze
_IVFI_NPROBE = 3
_IVFI_TOPK = 5
# delta batch: every 5th vector outside the seed set "arrives late"
_IVFI_QUERY_IDS = (1, 6, 13, 28)  # 13 and 28 are delta members
_QID_SQL = ", ".join(str(q) for q in _IVFI_QUERY_IDS)

_DELTA_SQL = f"(vec_id % 5 = 3 AND vec_id >= {_IVFI_K})"


# stored-index memo: frozen centroids per (session, sf_dir) — see
# operators/app_cache.py
_IVFI_CACHE: dict[tuple, "DataFrame"] = {}


def _delta_col():
    return (F.col("vec_id") % 5 == 3) & (F.col("vec_id") >= _IVFI_K)


def _frozen_centroids(base: DataFrame) -> DataFrame:
    """Fixed-round Lloyd on the base corpus, then freeze: the index
    build. Returns (cluster, c_micro), unpinned: the app-scoped memo
    in ``build_incremental_index`` materializes it once."""
    cents = base.filter(F.col("vec_id") < _IVFI_K).select(
        F.col("vec_id").alias("cluster"), F.col("emb_micro").alias("c_micro")
    )
    for _ in range(_IVFI_ITERS):
        cents = _lloyd_update(
            _nearest(base, "emb_micro", cents, "cluster", "c_micro"),
            ["cluster"], "emb_micro",
        )
    return cents


def build_incremental_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Returns (index, cents): the merged IVF index — base assignment
    plus the frozen-centroid delta insert, flagged ``is_delta`` — and
    the frozen centroid table. The delta pass touches ONLY delta rows;
    at 100 TB the base half is read back from its partitioned layout,
    not recomputed."""
    corpus = _micro_corpus(spark, sf_dir)
    base = corpus.filter(~_delta_col())
    delta = corpus.filter(_delta_col())
    # app-scoped memo (round 15): the frozen centroids are the stored
    # index artifact (k x d rows) — train once per session, serve every
    # call. The pin also keeps the three consumers (base assign, delta
    # insert, probes) from each replaying the Lloyd lineage, which
    # re-scans the corpus once per round per consumer.
    from .app_cache import app_scoped

    cents = app_scoped(_IVFI_CACHE, spark, (sf_dir, "frozen-cents"),
                       lambda: _frozen_centroids(base))
    base_ix = _nearest(
        base, "emb_micro", cents, "cluster", "c_micro", dist="sq_dist"
    ).withColumn("is_delta", F.lit(False))
    delta_ix = _nearest(
        delta, "emb_micro", cents, "cluster", "c_micro", dist="sq_dist"
    ).withColumn("is_delta", F.lit(True))
    return base_ix.unionByName(delta_ix), cents


def _ivfi_oracle() -> str:
    sq = _sql_sqdist
    quant = _SQL_QUANTIZE.format(v="embedding")
    parts = [
        f"corpus AS (SELECT vec_id, {quant} AS emb_micro FROM embeddings)",
        f"base AS (SELECT * FROM corpus WHERE NOT {_DELTA_SQL})",
        f"""cents0 AS (
      SELECT vec_id AS cluster, emb_micro AS c_micro
      FROM base WHERE vec_id < {_IVFI_K})""",
    ]
    for t in range(_IVFI_ITERS):
        parts.append(f"""assign{t} AS (
      SELECT vec_id, emb_micro, cluster FROM (
        SELECT b.vec_id, b.emb_micro, ct.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY {sq('b.emb_micro', 'ct.c_micro')} ASC, ct.cluster
               ) AS rn
        FROM base b CROSS JOIN cents{t} ct
      ) WHERE rn = 1)""")
        parts.append(f"""cents{t + 1} AS (
      SELECT cluster, array_agg(mean_micro ORDER BY dim) AS c_micro FROM (
        SELECT cluster, dim,
               CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(val)) AS BIGINT)
                 AS mean_micro
        FROM (
          SELECT cluster,
                 generate_subscripts(emb_micro, 1) - 1 AS dim,
                 unnest(emb_micro) AS val
          FROM assign{t}
        ) GROUP BY cluster, dim
      ) GROUP BY cluster)""")
    frozen = f"cents{_IVFI_ITERS}"
    parts.append(f"""ix AS (
      SELECT vec_id, emb_micro, cluster, is_delta FROM (
        SELECT c.vec_id, c.emb_micro, ct.cluster,
               {_DELTA_SQL.replace('vec_id', 'c.vec_id')} AS is_delta,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {sq('c.emb_micro', 'ct.c_micro')} ASC, ct.cluster
               ) AS rn
        FROM corpus c CROSS JOIN {frozen} ct
      ) WHERE rn = 1)""")
    parts.append(f"""q AS (
      SELECT vec_id AS query_id, emb_micro AS q_micro
      FROM corpus WHERE vec_id IN ({_QID_SQL}))""")
    parts.append(f"""probes AS (
      SELECT query_id, q_micro, cluster FROM (
        SELECT q.query_id, q.q_micro, ct.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {sq('q.q_micro', 'ct.c_micro')} ASC, ct.cluster
               ) AS prn
        FROM q CROSS JOIN {frozen} ct
      ) WHERE prn <= {_IVFI_NPROBE})""")
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT query_id, vec_id, is_delta, sq_dist, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT p.query_id, i.vec_id, i.is_delta,
             {sq('p.q_micro', 'i.emb_micro')} AS sq_dist,
             ROW_NUMBER() OVER (
               PARTITION BY p.query_id
               ORDER BY {sq('p.q_micro', 'i.emb_micro')} ASC, i.vec_id
             ) AS rn
      FROM ix i JOIN probes p
        ON i.cluster = p.cluster AND i.vec_id <> p.query_id
    ) WHERE rn <= {_IVFI_TOPK}
    """
    )


@register("ann_ivf_incremental_topk", oracle=_ivfi_oracle())
def ann_ivf_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF: Lloyd-train {k} cells on the BASE corpus
    ({iters} integer-micro rounds), freeze the centroids, insert the
    delta batch by assigning it to the frozen nearest cells (touching
    only delta rows — no re-clustering, base assignments untouched),
    then answer {nq} fixed queries (two of them delta members) by
    probing {nprobe} cells over the MERGED index and ranking exact
    integer squared distance. The oracle replays the same frozen-
    assignment search over base ∪ delta — agreement proves the
    incremental insert is drift-free, and the delta rows in the top-k
    prove new vectors are retrievable without a rebuild.

    Scale notes (100 TB): the base assignment is the stored
    ``partitionBy(cell)`` index; the delta pass broadcasts the k x d
    frozen centroid table and maps only the delta batch; probes
    broadcast; never N²."""
    index, cents = build_incremental_index(spark, sf_dir)

    corpus = _micro_corpus(spark, sf_dir)
    q = corpus.filter(F.col("vec_id").isin(*_IVFI_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb_micro").alias("q_micro"),
    )
    cents_x = cents.select(
        F.col("cluster").alias("p_cluster"), F.col("c_micro")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.asc("p_dist"), F.asc("p_cluster")
    )
    probes = (
        q.crossJoin(F.broadcast(cents_x))
        .select(
            "query_id",
            "q_micro",
            "p_cluster",
            _sqdist(F.col("q_micro"), F.col("c_micro")).alias("p_dist"),
        )
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= _IVFI_NPROBE)
        .select("query_id", "q_micro", F.col("p_cluster").alias("cluster"))
    )
    cand = index.join(F.broadcast(probes), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.asc("sq_dist_q"), F.asc("vec_id")
    )
    return (
        cand.select(
            "query_id",
            "vec_id",
            "is_delta",
            _sqdist(F.col("q_micro"), F.col("emb_micro")).alias("sq_dist_q"),
        )
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _IVFI_TOPK)
        .select(
            "query_id",
            "vec_id",
            "is_delta",
            F.col("sq_dist_q").alias("sq_dist"),
            "rank",
        )
    )


ann_ivf_incremental_topk.__doc__ = ann_ivf_incremental_topk.__doc__.format(
    k=_IVFI_K, iters=_IVFI_ITERS, nprobe=_IVFI_NPROBE,
    nq=len(_IVFI_QUERY_IDS),
)
