"""Graph-based ANN — a navigable-small-world (NSW/HNSW-family) index
expressed as DataFrames: a kNN GRAPH over the corpus (M nearest
neighbors per vector, candidate generation blocked by coarse cell),
a sparse upper LAYER of entry points (the hierarchical part — every
8th vector), and a fixed-hop BEAM SEARCH that starts from the best
entry points and repeatedly expands the frontier through graph edges,
keeping the beam's best B. (Malkov & Yashunin's HNSW, public; the
classic trade: graph search visits a tiny fraction of the corpus at
query time, paying an index-build join up front.)

The usual objection to oracling graph ANN is that the search path is
procedural — but with FIXED hop count, exact BIGINT micro distances
and a total order (distance, vec_id), both the graph and every beam
iteration are deterministic relational operators, so the ENTIRE search
result (not just a recall contract) is replayed by the DuckDB oracle
as unrolled MATERIALIZED CTEs — the graph sibling of pq.py's unrolled
Lloyd rounds. Recall vs the exact scorer is additionally pinned in
tests/test_nsw.py (the ann_int8_rerank_topk precedent).

Scale design (100 TB):
- Index build: the within-cell self-join is the standard BLOCKED
  kNN-graph construction — cost Σ|cell|², bounded by cell size, never
  N²; at real scale cells come from the IVF coarse quantizer already
  in the engine (finer blocking → smaller quadratic terms). The M·N
  edge list IS the stored index, written partitionBy(cell) like the
  IVF layout.
- Query: the frontier is |Q|·B rows and carries its query vector —
  ALWAYS the broadcast side against the edge list; each hop re-scores
  its ≤ |Q|·B·M candidates against the corpus, then sends frontier ∪
  candidates through ONE ``qid`` exchange that serves both the dedup
  and the window top-B. The corpus itself is never broadcast by hint.
- The entry layer (every 8th vector) is what HNSW's upper levels
  degenerate to with one level; at 10^9 vectors you add more levels,
  each a further 1/8 sample — the same geometric construction.

Reference: no counterpart (SURVEY.md §2l LLM-pipeline extension).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .clustering import (
    _MICRO,
    _SQL_QUANTIZE,
    _micro_corpus,
    _nearest,
    _sql_sqdist,
    _sqdist,
)

_NSW_CELLS = 8    # blocking cells for graph construction (centroids = vec 0..7)
_NSW_M = 6        # graph degree: M nearest within cell
_NSW_L1_MOD = 8   # entry layer: every 8th vector
_NSW_BEAM = 12    # beam width B
_NSW_HOPS = 3     # fixed expansion hops H
_NSW_NQ = 6       # queries: vec_id < _NSW_NQ
_NSW_TOPK = 8


def _nsw_oracle() -> str:
    sq = _sql_sqdist
    quant = _SQL_QUANTIZE.format(v="embedding")
    parts = [
        f"corpus AS MATERIALIZED (SELECT vec_id, {quant} AS m FROM embeddings)",
        f"""cents AS MATERIALIZED (
      SELECT vec_id AS cell, m AS cm FROM corpus WHERE vec_id < {_NSW_CELLS})""",
        f"""assigned AS MATERIALIZED (
      SELECT vec_id, m, cell FROM (
        SELECT e.vec_id, e.m, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sq('e.m', 'c.cm')} ASC, c.cell
               ) AS rn
        FROM corpus e CROSS JOIN cents c
      ) WHERE rn = 1)""",
        f"""adj AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.vec_id AS a, y.vec_id AS b,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {sq('x.m', 'y.m')} ASC, y.vec_id
               ) AS rn
        FROM assigned x JOIN assigned y
          ON x.cell = y.cell AND x.vec_id <> y.vec_id
      ) WHERE rn <= {_NSW_M})""",
        f"""q AS MATERIALIZED (
      SELECT vec_id AS qid, m AS qm FROM corpus WHERE vec_id < {_NSW_NQ})""",
        f"""f0 AS MATERIALIZED (
      SELECT qid, vec_id, d FROM (
        SELECT q.qid, e.vec_id, {sq('q.qm', 'e.m')} AS d,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY {sq('q.qm', 'e.m')} ASC, e.vec_id
               ) AS rn
        FROM q CROSS JOIN corpus e
        WHERE e.vec_id % {_NSW_L1_MOD} = 0
      ) WHERE rn <= {_NSW_BEAM})""",
    ]
    for h in range(1, _NSW_HOPS + 1):
        parts.append(f"""f{h} AS MATERIALIZED (
      SELECT qid, vec_id, d FROM (
        SELECT qid, vec_id, d,
               ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY d ASC, vec_id
               ) AS rn
        FROM (
          SELECT DISTINCT qid, vec_id, d FROM (
            SELECT qid, vec_id, d FROM f{h - 1}
            UNION ALL
            SELECT f.qid, a.b AS vec_id, {sq('q.qm', 'e.m')} AS d
            FROM f{h - 1} f
            JOIN adj a ON f.vec_id = a.a
            JOIN corpus e ON a.b = e.vec_id
            JOIN q ON f.qid = q.qid
          )
        )
      ) WHERE rn <= {_NSW_BEAM})""")
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT qid, CAST(rn AS INT) AS rank, vec_id,
           CAST(d AS DOUBLE) / {_MICRO * _MICRO} AS dist
    FROM (
      SELECT qid, vec_id, d,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d ASC, vec_id)
               AS rn
      FROM f{_NSW_HOPS} WHERE vec_id <> qid
    ) WHERE rn <= {_NSW_TOPK}
    ORDER BY qid, rank
    """
    )


def nsw_graph(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame | None = None,
    members_mod: int | None = None,
    hub: bool = False,
) -> DataFrame:
    """The index build alone: (a, b) edges — each vector's M nearest
    within its blocking cell. At scale this is written
    ``partitionBy(cell)`` next to the IVF layout. ``members_mod``
    restricts the graph to a LAYER (``vec_id % members_mod == 0``,
    plus the cell-centroid vectors) while keeping the FULL corpus's
    cell centroids, so every HNSW level shares one coarse blocking — a
    sparser layer just has sparser cells, shrinking the per-cell
    quadratic term with the layer. ``hub=True`` additionally adds the
    CENTROID CLIQUE (all centroid↔centroid edges, a constant
    ``_NSW_CELLS``² rows): blocked construction alone yields one
    connected component per cell, so without these navigation edges a
    cell not covered by the entry points is unreachable — the clique
    is the cross-cell router (the graph counterpart of IVF's coarse
    quantizer) that makes every cell reachable within one hop of any
    centroid."""
    if corpus is None:
        corpus = _micro_corpus(spark, sf_dir, "m")
    cents = corpus.filter(F.col("vec_id") < _NSW_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("m").alias("cm")
    )
    assigned = _nearest(corpus, "m", cents, "cell", "cm")
    if members_mod is not None:
        assigned = assigned.filter(
            (F.col("vec_id") % members_mod == 0)
            | (F.col("vec_id") < _NSW_CELLS)
        )
    # Per-cell pairwise top-M via ONE numpy matmul per group — the
    # textbook applyInPandas case: the relational formulation (self-
    # join + zip_with sqdist + window) allocates a 64-element temp
    # array per PAIR and ran 8.4 s at sf0.1; the matrix form is ~40x
    # less work for identical results. float64 is integer-EXACT here:
    # micro values <= ~2e6, so every product <= 4e12 and every 64-term
    # sum <= 2.6e14 — all below 2^53 — and d = |a|^2 + |b|^2 - 2a·b
    # reproduces the BIGINT distance bit-for-bit (asserted against the
    # relational form in tests/test_nsw.py).
    def knn_edges(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["vec_id"].to_numpy()
        mat = np.array(pdf["m"].tolist(), dtype=np.float64)
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"a": ids[:0], "b": ids[:0]})
        sq = (mat * mat).sum(axis=1)
        d = sq[:, None] + sq[None, :] - 2.0 * (mat @ mat.T)
        np.fill_diagonal(d, np.inf)
        # per-row order by (distance, vec_id) — lexsort's last key is
        # primary, so (ids, d) gives d-then-id, matching the window's
        # ORDER BY d, b
        order = np.lexsort((np.broadcast_to(ids, (n, n)), d), axis=1)
        m = min(_NSW_M, n - 1)
        nbrs = order[:, :m]
        return pd.DataFrame(
            {"a": np.repeat(ids, m), "b": ids[nbrs].reshape(-1)}
        )

    edges = assigned.groupBy("cell").applyInPandas(
        knn_edges, schema="a long, b long"
    )
    if hub:
        cids = corpus.filter(F.col("vec_id") < _NSW_CELLS).select("vec_id")
        clique = (
            cids.alias("x")
            .crossJoin(cids.alias("y"))
            .filter(F.col("x.vec_id") != F.col("y.vec_id"))
            .select(
                F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b")
            )
        )
        # no overlap with kNN edges: a centroid is assigned to its own
        # cell (self-distance 0), so clique edges are strictly
        # cross-cell while kNN edges are strictly within-cell
        edges = edges.unionByName(clique)
    return edges


# the stored-index memo: an ANN graph is built once per corpus
# version and served to every query — rebuilding it per query call
# (and per bench pass) was pure waste. App-id-scoped so a fresh
# session rebuilds (see operators/app_cache.py).
_GRAPH_CACHE: dict[tuple, DataFrame] = {}


def _nsw_adj(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame,
    members_mod: int | None = None,
    hub: bool = False,
) -> DataFrame:
    from .app_cache import app_scoped

    return app_scoped(
        _GRAPH_CACHE, spark, (sf_dir, "nsw-graph", members_mod, hub),
        lambda: nsw_graph(
            spark, sf_dir, corpus, members_mod=members_mod, hub=hub
        ),
    )


def _keep_beam(df: DataFrame, k: int = _NSW_BEAM) -> DataFrame:
    """Each query's best ``k`` rows by the total order (d, vec_id)."""
    w = Window.partitionBy("qid").orderBy("d", "vec_id")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def _qdist() -> Column:
    """``d``: the exact distance from the query vector ``qm`` to ``m``.
    Built once per search and reused: each ``_sqdist`` call costs tens
    of milliseconds of driver-side lambda plumbing."""
    return _sqdist(F.col("qm"), F.col("m")).alias("d")


def _hop_plan(
    frontier: DataFrame, adj: DataFrame, corpus: DataFrame, n: int, d: Column
) -> DataFrame:
    """One beam-expansion hop, before its checkpoint: frontier ∪
    exact-rescored graph neighbors of the frontier, keep the per-query
    best B. The frontier is |Q|·B rows and carries its query vector
    ``qm``, so neighbors are re-scored without a query-side join. It is
    the broadcast side against the edge list; the corpus join carries
    no hint. The hop plans ONE exchange: the ≤ |Q|·B·(M+1) rows of
    frontier ∪ expanded are hashed on ``qid`` into ``n`` partitions,
    which both the dedup aggregate and the ``qid`` window accept."""
    expanded = (
        adj.join(F.broadcast(frontier), adj["a"] == frontier["vec_id"])
        .select("qid", "qm", F.col("b").alias("vec_id"))
        .join(corpus, "vec_id")
        .select("qid", "qm", "vec_id", d)
    )
    return _keep_beam(
        frontier.unionByName(expanded)
        .repartition(n, "qid")
        # qm and d are functions of (qid, vec_id): a node reached twice
        # (from two frontier rows, or already in the frontier) collapses
        # to one row
        .distinct()
    ).drop("rn")


def _seed_beam(
    corpus: DataFrame, entries: DataFrame, n: int, d: Column
) -> DataFrame:
    """Each query's first frontier: its best B ``entries``, carrying
    the query vector ``qm`` that every hop re-scores against."""
    q = corpus.filter(F.col("vec_id") < _NSW_NQ).select(
        F.col("vec_id").alias("qid"), F.col("m").alias("qm")
    )
    return _keep_beam(
        q.join(F.broadcast(entries))
        .select("qid", "qm", "vec_id", d)
        .repartition(n, "qid")
    ).drop("rn")


def _beam_search(
    corpus: DataFrame, entries: DataFrame, adjs: list[DataFrame]
) -> DataFrame:
    """Seed each query's beam with its best B ``entries``, run one hop
    per edge list in ``adjs`` and rank the final top-K (the query
    itself excluded). ``corpus`` is cached by the caller and released
    here once every hop is materialized."""
    # no more hop partitions than queries or cores
    n = min(_NSW_NQ, corpus.sparkSession.sparkContext.defaultParallelism)
    d = _qdist()
    # Every frontier, the seed included, is an eager localCheckpoint.
    # Lineage is cut per hop (the connected-components recipe), or the
    # plan re-derives every earlier hop per consumer and the task
    # binary grows ~2x per hop (SCALE.md). A hop reads its frontier
    # twice (broadcast and union), so an unpinned seed would also scan
    # the cached corpus once per reference, one AQE cache-stage job each.
    # NOTE A/B, 4 vCPUs, sf0.01, warm in-process median of reps 3-6,
    # three alternating process pairs: the old hop (query broadcast,
    # pre-join distinct, three shuffles) ran ann_nsw_beam_topk in
    # 3.1-3.3 s with 41 jobs; this one-exchange hop with a pinned seed
    # and a single-partition final rank runs it in 1.9-2.1 s with 20
    # jobs (ann_hnsw_layered_topk 2.5-3.7 s, 52 jobs -> 1.7-2.0 s, 24).
    # Memoizing the corpus projection with app_cache.app_scoped was
    # measured at no wall gain and moves work into setup.
    frontier = _seed_beam(corpus, entries, n, d).localCheckpoint(eager=True)
    for adj in adjs:
        frontier = _hop_plan(frontier, adj, corpus, n, d).localCheckpoint(
            eager=True
        )
    # every consumer of the cache (graph build, entry scoring, hop
    # re-scores) has been EAGERLY materialized into checkpoints above —
    # drop the cache entry now, or it leaks into the session's cache
    # registry and substitutes into OTHER queries' matching subtrees
    # (observed: ann_pq_adc_topk's plan text doubled its FileScan count
    # when this cache was live)
    corpus.unpersist()
    # the last frontier is |Q|·B rows: one partition ranks and orders
    # it with no exchange and no range-sort sampling job
    last = frontier.filter(F.col("vec_id") != F.col("qid")).coalesce(1)
    return (
        _keep_beam(last, _NSW_TOPK)
        .select(
            "qid",
            F.col("rn").cast("int").alias("rank"),
            "vec_id",
            (F.col("d").cast("double") / (_MICRO * _MICRO)).alias("dist"),
        )
        .sortWithinPartitions("qid", "rank")
    )


@register("ann_nsw_beam_topk", oracle=_nsw_oracle())
def ann_nsw_beam_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ANN, driver-oracled END TO END (full value compare, not a
    recall contract): build the blocked kNN graph ({m} neighbors within
    coarse cell), seed each query's beam with its {beam} best ENTRY
    POINTS (the every-{l1}th-vector upper layer), then run {hops} fixed
    beam-expansion hops — frontier ∪ graph-neighbors-of-frontier,
    exact-rescored, keep best {beam} — and return the final top-{topk}
    (excluding the query itself). Deterministic by construction
    (integer micro distances, ties → lower vec_id), which is what lets
    the DuckDB oracle replay the whole search as unrolled CTEs."""
    # the slim (vec_id, micros) projection is consumed ~6 times (graph
    # build, entry scoring, and one re-score per hop) — cache it; at
    # scale this is the deliberate ANN-serving residency (~0.5 KB per
    # vector for d=64), the same projection every hop's candidate
    # lookup scans
    corpus = _micro_corpus(spark, sf_dir, "m").cache()
    # the edge list is consumed once per hop — the memoized
    # checkpoint IS the stored index at scale (M·N slim rows here),
    # built once per session and served to every later call
    adj = _nsw_adj(spark, sf_dir, corpus)
    entries = corpus.filter(F.col("vec_id") % _NSW_L1_MOD == 0)
    return _beam_search(corpus, entries, [adj] * _NSW_HOPS)


ann_nsw_beam_topk.__doc__ = ann_nsw_beam_topk.__doc__.format(
    m=_NSW_M, beam=_NSW_BEAM, l1=_NSW_L1_MOD, hops=_NSW_HOPS, topk=_NSW_TOPK
)


# ------------------------------------------------------ layered HNSW

_HNSW_MODS = (64, 8)   # upper layers: L2 = every 64th, L1 = every 8th
# hop schedule measured at sf0.001+sf0.01: with the centroid-clique
# navigation edges, (L2x1, L1x1, L0x2) already reaches recall 0.979 —
# identical to (L2x1, L1x2, L0x3) — so the shorter schedule wins (each
# extra hop is a checkpoint + two joins); (L0x1) drops to 0.94
_HNSW_L1_HOPS = 1      # expansion hops on the middle layer
_HNSW_HOPS0 = 2        # expansion hops on the base layer (all vectors)


def _hnsw_adj_cte(name: str, mod: int | None) -> str:
    """Adjacency CTE for one layer: each member's M nearest within its
    coarse cell (membership ``vec_id % mod == 0`` plus the centroids;
    None = base layer, all vectors), UNION ALL the centroid clique —
    the cross-cell navigation edges (see ``nsw_graph(hub=True)``).
    Every layer shares the full corpus's cell assignment."""
    member = (
        f"AND (x.vec_id % {mod} = 0 OR x.vec_id < {_NSW_CELLS}) "
        f"AND (y.vec_id % {mod} = 0 OR y.vec_id < {_NSW_CELLS})"
        if mod
        else ""
    )
    return f"""{name} AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT x.vec_id AS a, y.vec_id AS b,
               ROW_NUMBER() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY {_sql_sqdist('x.m', 'y.m')} ASC, y.vec_id
               ) AS rn
        FROM assigned x JOIN assigned y
          ON x.cell = y.cell AND x.vec_id <> y.vec_id {member}
      ) WHERE rn <= {_NSW_M}
      UNION ALL
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM corpus x JOIN corpus y
        ON x.vec_id < {_NSW_CELLS} AND y.vec_id < {_NSW_CELLS}
       AND x.vec_id <> y.vec_id)"""


def _hnsw_hop_cte(h: int, adj: str) -> str:
    """One unrolled beam hop through layer adjacency ``adj``."""
    sq = _sql_sqdist
    return f"""f{h} AS MATERIALIZED (
      SELECT qid, vec_id, d FROM (
        SELECT qid, vec_id, d,
               ROW_NUMBER() OVER (
                 PARTITION BY qid ORDER BY d ASC, vec_id
               ) AS rn
        FROM (
          SELECT DISTINCT qid, vec_id, d FROM (
            SELECT qid, vec_id, d FROM f{h - 1}
            UNION ALL
            SELECT f.qid, a.b AS vec_id, {sq('q.qm', 'e.m')} AS d
            FROM f{h - 1} f
            JOIN {adj} a ON f.vec_id = a.a
            JOIN corpus e ON a.b = e.vec_id
            JOIN q ON f.qid = q.qid
          )
        )
      ) WHERE rn <= {_NSW_BEAM})"""


def _hnsw_oracle() -> str:
    sq = _sql_sqdist
    quant = _SQL_QUANTIZE.format(v="embedding")
    top_mod = _HNSW_MODS[0]
    parts = [
        f"corpus AS MATERIALIZED (SELECT vec_id, {quant} AS m FROM embeddings)",
        f"""cents AS MATERIALIZED (
      SELECT vec_id AS cell, m AS cm FROM corpus WHERE vec_id < {_NSW_CELLS})""",
        f"""assigned AS MATERIALIZED (
      SELECT vec_id, m, cell FROM (
        SELECT e.vec_id, e.m, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sq('e.m', 'c.cm')} ASC, c.cell
               ) AS rn
        FROM corpus e CROSS JOIN cents c
      ) WHERE rn = 1)""",
    ]
    adj_names = []
    for mod in _HNSW_MODS:
        name = f"adj{mod}"
        adj_names.append(name)
        parts.append(_hnsw_adj_cte(name, mod))
    parts.append(_hnsw_adj_cte("adj0", None))
    parts.append(f"""q AS MATERIALIZED (
      SELECT vec_id AS qid, m AS qm FROM corpus WHERE vec_id < {_NSW_NQ})""")
    parts.append(f"""f0 AS MATERIALIZED (
      SELECT qid, vec_id, d FROM (
        SELECT q.qid, e.vec_id, {sq('q.qm', 'e.m')} AS d,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY {sq('q.qm', 'e.m')} ASC, e.vec_id
               ) AS rn
        FROM q CROSS JOIN corpus e
        WHERE e.vec_id % {top_mod} = 0 OR e.vec_id < {_NSW_CELLS}
      ) WHERE rn <= {_NSW_BEAM})""")
    schedule = (
        [adj_names[0]]
        + [adj_names[1]] * _HNSW_L1_HOPS
        + ["adj0"] * _HNSW_HOPS0
    )
    for h, adj in enumerate(schedule, start=1):
        parts.append(_hnsw_hop_cte(h, adj))
    last = len(schedule)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT qid, CAST(rn AS INT) AS rank, vec_id,
           CAST(d AS DOUBLE) / {_MICRO * _MICRO} AS dist
    FROM (
      SELECT qid, vec_id, d,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d ASC, vec_id)
               AS rn
      FROM f{last} WHERE vec_id <> qid
    ) WHERE rn <= {_NSW_TOPK}
    ORDER BY qid, rank
    """
    )


@register("ann_hnsw_layered_topk", oracle=_hnsw_oracle())
def ann_hnsw_layered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAYERED (hierarchical) graph ANN — full HNSW shape, driver-
    oracled end to end: three nested levels (every-{l2}th vectors,
    every-{l1}th vectors, all vectors — each level a 1/8 geometric
    sample of the next, Malkov & Yashunin's construction), each with
    its own blocked kNN graph over the SHARED coarse cells. The search
    seeds the beam from the sparse top level (a full scan of N/{l2}
    entry points — the scan HNSW's hierarchy exists to make cheap),
    hops once through each upper level's graph to descend, then runs
    {h0} expansion hops on the base graph; nested membership
    ({l2} | v ⇒ {l1} | v) means every descent lands on real members of
    the next level. Same fixed-hop total-order beam as
    ``ann_nsw_beam_topk``, so the DuckDB oracle replays the ENTIRE
    layered search as unrolled MATERIALIZED CTEs (one adjacency per
    level, one CTE per hop); recall vs an independent exact scorer is
    pinned in tests/test_nsw.py.

    Scale notes (100 TB): upper-level graphs are geometrically smaller
    (N/8, N/64 rows) and built with the SAME blocked construction —
    the added index cost is ~15%. Query-time cost gains the hierarchy
    payoff: the entry scan shrinks from N/{l1} (single-layer NSW) to
    N/{l2} rows, while frontiers stay |Q|·B broadcast rows and the
    corpus is never shuffled."""
    corpus = _micro_corpus(spark, sf_dir, "m").cache()
    l2, l1 = (
        _nsw_adj(spark, sf_dir, corpus, members_mod=mod, hub=True)
        for mod in _HNSW_MODS
    )
    adj0 = _nsw_adj(spark, sf_dir, corpus, hub=True)
    entries = corpus.filter(
        (F.col("vec_id") % _HNSW_MODS[0] == 0)
        | (F.col("vec_id") < _NSW_CELLS)
    )
    return _beam_search(
        corpus, entries, [l2] + [l1] * _HNSW_L1_HOPS + [adj0] * _HNSW_HOPS0
    )


ann_hnsw_layered_topk.__doc__ = ann_hnsw_layered_topk.__doc__.format(
    l2=_HNSW_MODS[0], l1=_HNSW_MODS[1], h0=_HNSW_HOPS0
)


# ------------------------- HNSW recall report (round 15)


def _hnsw_recall_oracle() -> str:
    """Compose the layered-search oracle with an exact integer-micro
    top-k ground truth — recall itself value-compared, the graph-path
    twin of ``ann_recall_report``."""
    from ..registry import QUERIES

    hnsw = QUERIES["ann_hnsw_layered_topk"].oracle
    quant = _SQL_QUANTIZE.format(v="embedding")
    sq = _sql_sqdist("q.qm", "c.m")
    return f"""
    WITH hnsw AS ({hnsw}),
    corpus AS (SELECT vec_id, {quant} AS m FROM embeddings),
    q AS (SELECT vec_id AS qid, m AS qm FROM corpus
          WHERE vec_id < {_NSW_NQ}),
    exact AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid ORDER BY {sq} ASC, c.vec_id
               ) AS rn
        FROM q JOIN corpus c ON c.vec_id <> q.qid
      ) WHERE rn <= {_NSW_TOPK}
    ),
    hits AS (
      SELECT e.qid, COUNT(*) AS n_hits
      FROM exact e JOIN hnsw h
        ON e.qid = h.qid AND e.vec_id = h.vec_id
      GROUP BY e.qid
    ),
    truth AS (SELECT qid, COUNT(*) AS k FROM exact GROUP BY qid)
    SELECT t.qid,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(t.k AS BIGINT) AS k,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.k AS recall
    FROM truth t LEFT JOIN hits h ON t.qid = h.qid
    ORDER BY t.qid
    """


@register(
    "ann_recall_hnsw_report", oracle=None, doc="placeholder",
    tags=("contract",),
)  # oracle composed below; "contract": exact ground truth exists only
# to grade the graph path — production runs the HNSW search alone
def ann_recall_hnsw_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@k of the LAYERED graph search against an exact
    integer-micro ground truth, per query — the graph-path twin of
    ``ann_recall_report``, and the number a production pipeline
    re-measures after every index rebuild or beam/hop-schedule
    change. Both sides ride the same deterministic total order
    (integer micro distances, ties → lower vec_id), so recall is
    bit-exact cross-engine, not a statistical contract.

    Scale notes: ground truth is the one deliberate O(|Q|·N) pass
    with the FIXED query sample broadcast (never the corpus),
    amortized per index build; the HNSW side reuses the session's
    memoized graphs (app_cache), so this report costs one search +
    one scan."""
    hnsw = ann_hnsw_layered_topk(spark, sf_dir).select("qid", "vec_id")
    corpus = _micro_corpus(spark, sf_dir, "m")
    q = corpus.filter(F.col("vec_id") < _NSW_NQ).select(
        F.col("vec_id").alias("qid"), F.col("m").alias("qm")
    )
    w = Window.partitionBy("qid").orderBy("d", "vec_id")
    # NOTE (r15): checkpointing this ground-truth set was A/B-measured
    # slower (3.42 s → 4.58 s at sf0.1) — eager materialization outweighs
    # the duplicate subtree, which AQE exchange reuse absorbs.
    exact = (
        corpus.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id",
                _sqdist(F.col("qm"), F.col("m")).alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NSW_TOPK)
        .select("qid", "vec_id")
    )
    hits = (
        exact.join(hnsw, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count("*").alias("n_hits"))
    )
    truth = exact.groupBy("qid").agg(F.count("*").alias("k"))
    return (
        truth.join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
            .alias("n_hits"),
            F.col("k").cast("long").alias("k"),
            (F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
             / F.col("k")).alias("recall"),
        )
        .orderBy("qid")
    )


from dataclasses import replace as _dc_replace  # noqa: E402

from ..registry import QUERIES as _Q  # noqa: E402

_Q["ann_recall_hnsw_report"] = _dc_replace(
    _Q["ann_recall_hnsw_report"], oracle=_hnsw_recall_oracle()
)
