"""Distributed k-means over the ``embeddings`` table, plus the
cluster-diversity sampler built on it — the clustering primitives a
training-data curation pipeline needs (topic balancing, diversity
sampling, cluster-level dedup; the reference has no counterpart —
capability extension per SURVEY.md §2l).

Determinism contract — INTEGER-EXACT, the PageRank recipe
(operators/graph.py), not the decimal-sum one: a first cut kept
float/decimal arithmetic and drifted ~1e-8 per Lloyd round (Spark and
DuckDB cast float→decimal through different representations), which the
6-decimal value-hash caught. Instead the input vectors are quantized
ONCE to integer micro-units — ``round(x * 1e6)`` never sees an exact
.5 tie (x*1e6 = n.5 would need x = odd/2e6, whose 5^6 denominator
factor no binary float has), so both engines round identically — and
from there everything is exact:

- squared distances are BIGINT sums of BIGINT squares (64 dims x
  (2e6)^2 << 2^63), associative, order-independent;
- argmin ties break on cluster id;
- centroid update is ``floor(sum/count)`` where the division is ONE
  IEEE double op on identical operands (sums << 2^53) — both engines
  produce the same double, hence the same floor;
- the only float outputs are final ``micro^2 / 1e12`` rescales: one
  IEEE division of an exactly-representable integer.

So a fixed number of Lloyd iterations is bit-reproducible in both
Spark and DuckDB, and the oracle replays the whole algorithm as
unrolled CTEs.

Scale design (100 TB):
- Centroids are a k x d table (8 x 64 here) — folded into ONE
  broadcast array-of-structs row; every assignment pass is a pure
  map-side projection (``array_min`` argmin), NO shuffle of the corpus.
- Centroid recomputation is posexplode (N x d rows) + groupBy(cluster,
  dim): partial aggregation combines map-side, so the shuffle carries
  only ~k*d rows per input partition regardless of N — the ONLY
  shuffle per Lloyd round.
- Iteration count is FIXED (no data-dependent convergence loop), so
  the logical plan is statically known; lineage depth is 2*iters+1.
- The corpus is re-read per assignment pass; at 100 TB persist the
  2-column (vec_id, quantized embedding) projection between rounds
  (the scan here reads exactly 2 pruned columns — asserted in
  test_clustering).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.planctl import spread as _spread
from ..registry import register
from ..tables import load_table

_K = 8        # clusters; init = quantized embeddings of vec_id 0.._K-1
_ITERS = 3    # fixed Lloyd iterations (assign -> update), then final assign
_DIVERSITY_PER_CLUSTER = 5
_MICRO = 1_000_000  # quantization: micro-units per embedding unit


def _quantize(v: Column) -> Column:
    """float array -> BIGINT micro-unit array; round() never meets an
    exact .5 (see module docstring), so both engines agree bit-for-bit."""
    return F.transform(v, lambda x: F.round(x.cast("double") * _MICRO).cast("long"))


_SQL_QUANTIZE = (
    "list_transform({v}, x -> "
    f"CAST(round(CAST(x AS DOUBLE) * {_MICRO}) AS BIGINT))"
)


def _sqdist(v: Column, c: Column) -> Column:
    """Integer squared L2 distance between micro-unit vectors — exact
    BIGINT arithmetic, order-independent."""
    diffs = F.zip_with(v, c, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _sql_sqdist(v: str, c: str) -> str:
    """DuckDB rendering of :func:`_sqdist` (1-based list indexing)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, len({v}) + 1), i -> "
        f"({v}[i] - {c}[i]) * ({v}[i] - {c}[i]))), (acc, x) -> acc + x)"
    )


def _micro_corpus(
    spark: SparkSession, sf_dir: str, name: str = "emb_micro"
) -> DataFrame:
    """(vec_id, ``name``): the embeddings quantized to micro-units, read
    through the spread scan — the projection every quantizer starts from
    (the scan reads exactly the 2 pruned columns)."""
    return _spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", _quantize(F.col("embedding")).alias(name)
    )


def _nearest(
    rows: DataFrame,
    vec: str,
    cents: DataFrame,
    key: str,
    cvec: str,
    *,
    dist: str | None = None,
    within: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment with ZERO data shuffle: ``rows``
    with ``key`` (the id of the centroid nearest to ``vec``) added, plus
    the exact distance as ``dist`` when given. The centroid table
    (``key``, ``cvec``) folds into ONE broadcast array-of-structs row,
    and the per-row argmin is ``array_min`` over (distance, key)
    structs — struct ordering is lexicographic, so equal distances
    tie-break on the lower key, matching the oracles' ``ORDER BY dist,
    key`` ROW_NUMBER argmin. ``within`` names a column both sides carry
    (the PQ subspace): a row only competes among centroids with its
    value. (A first cut used a ``Window.partitionBy(vec_id)`` argmin —
    that shuffled the whole corpus once per Lloyd round; this keeps
    every assignment map-side, leaving the centroid update as the only
    shuffle per round.)"""
    fields = ([within] if within else []) + [key, cvec]
    folded = cents.agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("_cents")
    )
    cands = F.col("_cents")
    if within:
        cands = F.filter(cands, lambda c: c[within] == F.col(within))
    best = F.array_min(
        F.transform(
            cands,
            lambda c: F.struct(
                _sqdist(F.col(vec), c[cvec]).alias("d"), c[key].alias("key")
            ),
        )
    )
    out = [F.col("_best.key").alias(key)]
    if dist:
        out.append(F.col("_best.d").alias(dist))
    return (
        rows.crossJoin(F.broadcast(folded))
        .withColumn("_best", best)
        .select(*rows.columns, *out)
    )


def _lloyd_update(assigned: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """New centroids (``keys``, c_micro) as floored per-dimension means
    of ``vec`` in micro-units: posexplode to (keys, dim, val), BIGINT
    sum + count per (keys, dim) — partial aggregation keeps the shuffle
    at ~k*d rows per partition — then ``floor(sum/count)``: one IEEE
    double division of identical small integers, so both engines floor
    the same value. Re-assembles the dim-ordered BIGINT array per key."""
    exploded = assigned.select(*keys, F.posexplode(vec).alias("dim", "val"))
    means = exploded.groupBy(*keys, "dim").agg(
        F.floor(F.sum("val").cast("double") / F.count("val"))
        .cast("long")
        .alias("mean_micro")
    )
    return means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean_micro"))),
            lambda s: s["mean_micro"],
        ).alias("c_micro")
    )


# Final-assignment artifact shared by the three k-means consumers
# (cluster_kmeans_embeddings, sample_cluster_diversity,
# dedup_semantic_cluster): each used to re-derive the identical
# fixed-Lloyd pipeline (~2.4 s apiece in-suite). App-scoped (see
# operators/app_cache.py), so a fresh session rebuilds.
_KMEANS_CACHE: dict[tuple, DataFrame] = {}


def _build_final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw pipeline: _ITERS Lloyd rounds, then the assignment under
    the final centroids — (vec_id, emb_micro, cluster, sq_dist
    [micro^2]). Plan-shape tests inspect THIS (broadcast centroids,
    pruned scan); consumers go through the memoizing wrapper below."""
    corpus = _micro_corpus(spark, sf_dir)
    cents = corpus.filter(F.col("vec_id") < _K).select(
        F.col("vec_id").alias("cluster"), F.col("emb_micro").alias("c_micro")
    )
    for _ in range(_ITERS):
        cents = _lloyd_update(
            _nearest(corpus, "emb_micro", cents, "cluster", "c_micro"),
            ["cluster"], "emb_micro",
        )
    return _nearest(
        corpus, "emb_micro", cents, "cluster", "c_micro", dist="sq_dist"
    )


def _kmeans_final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .app_cache import app_scoped

    return app_scoped(
        _KMEANS_CACHE, spark, (sf_dir, "kmeans"),
        lambda: _build_final_assignment(spark, sf_dir),
    )


def _kmeans_oracle_ctes() -> str:
    """The Lloyd rounds unrolled as DuckDB CTEs (fixed iteration count
    makes the whole algorithm SQL-expressible)."""
    sq = _sql_sqdist
    quant = _SQL_QUANTIZE.format(v="embedding")
    parts = [
        f"corpus AS (SELECT vec_id, {quant} AS emb_micro FROM embeddings)",
        f"""cents0 AS (
      SELECT vec_id AS cluster, emb_micro AS c_micro
      FROM corpus WHERE vec_id < {_K})""",
    ]
    for t in range(_ITERS):
        parts.append(f"""assign{t} AS (
      SELECT vec_id, emb_micro, cluster FROM (
        SELECT c.vec_id, c.emb_micro, ct.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {sq('c.emb_micro', 'ct.c_micro')} ASC, ct.cluster
               ) AS rn
        FROM corpus c CROSS JOIN cents{t} ct
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
    parts.append(f"""final_assign AS (
      SELECT vec_id, cluster, sq_dist FROM (
        SELECT c.vec_id, ct.cluster,
               {sq('c.emb_micro', 'ct.c_micro')} AS sq_dist,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY {sq('c.emb_micro', 'ct.c_micro')} ASC, ct.cluster
               ) AS rn
        FROM corpus c CROSS JOIN cents{_ITERS} ct
      ) WHERE rn = 1)""")
    return "WITH " + ",\n    ".join(parts)


@register(
    "cluster_kmeans_embeddings",
    oracle=f"""
    {_kmeans_oracle_ctes()}
    SELECT cluster, COUNT(*) AS n_vectors,
           CAST(SUM(sq_dist) AS DOUBLE) / {_MICRO * _MICRO} AS inertia,
           MIN(vec_id) AS min_vec_id
    FROM final_assign
    GROUP BY cluster
    ORDER BY cluster
    """,
)
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd k-means (k={k}, {iters} rounds) over the
    64-dim embeddings, computed entirely in integer micro-units:
    per-cluster size, inertia (exact BIGINT sum rescaled by one IEEE
    division), and the smallest member id. The whole algorithm — init,
    {iters} assign/update rounds, final assignment — is bit-deterministic
    and replayed by the DuckDB oracle as unrolled CTEs.
    """
    final = _kmeans_final_assignment(spark, sf_dir)
    return (
        final.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            (F.sum("sq_dist").cast("double") / (_MICRO * _MICRO)).alias("inertia"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cluster")
    )


cluster_kmeans_embeddings.__doc__ = cluster_kmeans_embeddings.__doc__.format(
    k=_K, iters=_ITERS
)


@register(
    "sample_cluster_diversity",
    oracle=f"""
    {_kmeans_oracle_ctes()}
    SELECT cluster, vec_id,
           CAST(sq_dist AS DOUBLE) / {_MICRO * _MICRO} AS sq_dist,
           CAST(rn AS INTEGER) AS pick_rank FROM (
      SELECT cluster, vec_id, sq_dist,
             ROW_NUMBER() OVER (
               PARTITION BY cluster ORDER BY sq_dist ASC, vec_id
             ) AS rn
      FROM final_assign
    ) WHERE rn <= {_DIVERSITY_PER_CLUSTER}
    ORDER BY cluster, pick_rank
    """,
)
def sample_cluster_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity sampling: the {m} vectors closest to each k-means
    centroid — one small, spread-out representative set per region of
    embedding space (the standard cluster-then-sample curation recipe).
    Per-cluster top-m is a window rank over the final assignment (an
    integer argsort, so rank ties are impossible to get wrong across
    engines); at scale this is TakeOrderedAndProject-per-group after
    the map-side assignment pass, never a global sort.
    """
    final = _kmeans_final_assignment(spark, sf_dir)
    w = Window.partitionBy("cluster").orderBy(F.asc("sq_dist"), F.asc("vec_id"))
    return (
        final.select("cluster", "vec_id", "sq_dist")
        .withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= _DIVERSITY_PER_CLUSTER)
        .select(
            "cluster",
            "vec_id",
            (F.col("sq_dist").cast("double") / (_MICRO * _MICRO)).alias("sq_dist"),
            "pick_rank",
        )
        .orderBy("cluster", "pick_rank")
    )


sample_cluster_diversity.__doc__ = sample_cluster_diversity.__doc__.format(
    m=_DIVERSITY_PER_CLUSTER
)


# --------------------------------------------------------------------------
# One-pass Gram / covariance matrix (the PCA / whitening primitive)
# --------------------------------------------------------------------------


@register(
    "embedding_gram_matrix",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             unnest(range(0, len(embedding))) AS dim,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS qv
      FROM embeddings
    )
    SELECT CAST(a.dim AS INT) AS i, CAST(b.dim AS INT) AS j,
           CAST(SUM(a.qv * b.qv) AS DOUBLE) / 1e12 AS gram
    FROM q a JOIN q b USING (vec_id)
    WHERE a.dim <= b.dim
    GROUP BY 1, 2
    """,
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Gram matrix X'X over the embedding corpus — the
    primitive under PCA, whitening, and linear-probe covariance: the
    d x d result (upper triangle, d=64 → 2080 rows) is tiny, so the
    right 100 TB shape computes PARTIAL Gram matrices inside each Arrow
    batch (numpy int64 matmul over the batch's rows) and ships only d²
    rows per batch to a (i, j) groupBy — corpus rows never shuffle, and
    downstream eigen-decomposition is a driver/consumer-side operation
    on a matrix that fits in L2 cache.

    Determinism: vectors quantize to integer micro-units with FLOOR
    (not round — numpy rint is half-even while SQL round is half-away,
    so a .5 tie would diverge; floor is identical everywhere), batch
    matmuls and the cross-batch decimal sum are exact integers, and the
    only float op is the final 1e-12 rescale of an exactly-representable
    integer. Per-batch int64 partials bound the magnitude (10k-row Arrow
    batches × (2e6)² products << 2^63); the cross-batch sum goes through
    decimal(38,0) so no row-count scale can overflow it.
    """
    import numpy as np
    import pandas as pd

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Q = np.floor(X * 1e6).astype(np.int64)
            g = Q.T @ Q
            iu, ju = np.triu_indices(g.shape[0])
            yield pd.DataFrame(
                {"i": iu.astype(np.int32), "j": ju.astype(np.int32),
                 "p": g[iu, ju]}
            )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    partials = e.mapInPandas(gram_partials, "i int, j int, p long")
    return partials.groupBy("i", "j").agg(
        (F.sum(F.col("p").cast("decimal(38,0)")).cast("double") / F.lit(1e12))
        .alias("gram")
    )


# ------------------------------------------- semantic dedup (SemDeDup)

_SEMDEDUP_TAU = 0.35  # cosine threshold (fixture embeddings are
                      # near-orthogonal; matches dedup.py's envelope)


def _semdedup_oracle() -> str:
    from .similarity import _sql_cosine

    cos = _sql_cosine("a.embedding", "b.embedding")
    return f"""
    {_kmeans_oracle_ctes()},
    members AS (
      SELECT f.vec_id, f.cluster, f.sq_dist, e.embedding
      FROM final_assign f JOIN embeddings e ON e.vec_id = f.vec_id
    ),
    pairs AS (
      SELECT a.cluster,
             a.vec_id AS va, b.vec_id AS vb,
             a.sq_dist AS da, b.sq_dist AS db,
             {cos} AS cosine
      FROM members a JOIN members b
        ON a.cluster = b.cluster AND b.vec_id > a.vec_id
      WHERE {cos} >= {_SEMDEDUP_TAU}
    ),
    dominated AS (
      -- per epsilon-pair, the member CLOSER to its centroid loses
      -- (SemDeDup keeps the farthest = most diverse); ties on the
      -- centroid distance break toward keeping the LOWER vec_id
      SELECT cluster,
             CASE WHEN db > da OR (db = da AND vb < va)
                  THEN va ELSE vb END AS vec_id,
             CASE WHEN db > da OR (db = da AND vb < va)
                  THEN vb ELSE va END AS kept_partner,
             cosine
      FROM pairs
    )
    SELECT cluster, vec_id, kept_partner, cosine
    FROM (
      SELECT cluster, vec_id, kept_partner, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY cosine DESC, kept_partner
             ) AS rn
      FROM dominated
    ) WHERE rn = 1
    ORDER BY cluster, vec_id
    """


@register("dedup_semantic_cluster", oracle=_semdedup_oracle())
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC deduplication, the SemDeDup recipe (Abbas et al. 2023,
    public): cluster the embedding space with the fixed-Lloyd k-means
    above, then WITHIN each cluster find ε-duplicate pairs (cosine ≥
    {tau}) and drop, per pair, the member CLOSER to its centroid —
    keeping the farthest preserves the diversity the paper optimizes
    for; ties break toward keeping the lower vec_id, so the drop set
    is a pure function of the data. Returns one row per DROPPED vector
    with the dominating partner it lost to (its highest-cosine
    dominator under a total order) — the drop list a curation pipeline
    would anti-join against the corpus.

    The entire pipeline — Lloyd rounds, final assignment, within-
    cluster ε-pairs, the keep-farthest rule — is replayed by the DuckDB
    oracle (the k-means CTEs nested like concurrency_gauge nests
    sessionize's).

    Scale notes (100 TB): clustering bounds the quadratic — pairwise
    runs per cluster, never globally, and k is chosen so |cluster| is
    bounded (SemDeDup's own design; at 10^9 vectors you raise k, the
    assignment stays a broadcast-centroid map). Per-vector centroid
    distance and norms are computed ONCE; each surviving pair costs one
    zip_with dot product. The cosine doubles are cross-engine
    bit-identical (sequential fold — ``_dot_dec``)."""
    from ..functions.planctl import nondet_keep
    from .similarity import _dot_dec

    final = _kmeans_final_assignment(spark, sf_dir)
    emb = _spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    # materialize ONCE: the a x b self-join below consumes `members`
    # twice, and without truncation each side re-derives the entire
    # k-means DAG (observed: 12 FileScans vs the 10-scan budget — the
    # graph_triangle recompute lesson); after the checkpoint the plan
    # reads a materialized RDD on both sides. The vector NORM is
    # computed here, once per vector: the r15 plan audit showed the
    # full 3-fold cosine (dot + both self-dots) inside the join
    # CONDITION and again in the survivor projection — ~6 array folds
    # per candidate pair for a quantity that is one fold plus a
    # divide when norms ride the fingerprint table. sqrt(dot(e,e)) is
    # the same double either way, so cosine values are bit-identical.
    members = (
        final.select("vec_id", "cluster", "sq_dist")
        .join(emb, "vec_id")
        .withColumn(
            "nrm", F.sqrt(_dot_dec(F.col("embedding"), F.col("embedding")))
        )
        .localCheckpoint(eager=True)
    )
    a = members.select(
        F.col("cluster"),
        F.col("vec_id").alias("va"),
        F.col("sq_dist").alias("da"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = members.select(
        F.col("cluster"),
        F.col("vec_id").alias("vb"),
        F.col("sq_dist").alias("db"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # nondet_keep pins the cosine in ONE projection above the join —
    # without it Catalyst folds the ≥ τ filter into the join condition
    # and re-evaluates the dot fold per pair there AND in the project
    pairs = (
        a.join(b, ["cluster"])
        .filter(F.col("vb") > F.col("va"))
        .withColumn(
            "cosine",
            nondet_keep(
                _dot_dec(F.col("ea"), F.col("eb"))
                / (F.col("na") * F.col("nb"))
            ),
        )
        .filter(F.col("cosine") >= _SEMDEDUP_TAU)
        .select("cluster", "va", "vb", "da", "db", "cosine")
    )
    loser_is_a = (F.col("db") > F.col("da")) | (
        (F.col("db") == F.col("da")) & (F.col("vb") < F.col("va"))
    )
    dominated = pairs.select(
        "cluster",
        F.when(loser_is_a, F.col("va")).otherwise(F.col("vb")).alias("vec_id"),
        F.when(loser_is_a, F.col("vb")).otherwise(F.col("va")).alias(
            "kept_partner"
        ),
        "cosine",
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), "kept_partner"
    )
    return (
        dominated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", "vec_id", "kept_partner", "cosine")
        .orderBy("cluster", "vec_id")
    )


dedup_semantic_cluster.__doc__ = dedup_semantic_cluster.__doc__.format(
    tau=_SEMDEDUP_TAU
)
