"""IVF-PQ — the composed billion-scale ANN index (FAISS's default
shape, Jégou et al.): an IVF coarse quantizer prunes WHICH vectors a
query scores (only vectors in the query's nprobe nearest cells), and
a product quantizer over the RESIDUAL (vector − its cell centroid)
shrinks the cost of scoring each survivor to m table lookups. The two
halves already exist here separately (similarity.ann_ivf_topk prunes,
pq.ann_pq_adc_topk compresses); this module composes them the way
production systems do: PQ codebooks are trained on residuals, and each
query builds one ADC distance table PER PROBED CELL (because the
residual depends on the cell's centroid).

Determinism contract — everything runs in the shared BIGINT micro-unit
recipe (clustering.py): coarse assignment is an integer squared-L2
argmin (ties → lower cell), residuals are exact BIGINT differences,
codebook training is the fixed-round Lloyd of pq.py on residual
subvectors, and ADC sums are exact BIGINT — so the full
index-build → encode → probe → score pipeline is replayed by the
DuckDB oracle as unrolled MATERIALIZED CTEs.

Scale design (100 TB):
- Coarse centroids (8 here; ~2^14 real) and PQ codebooks broadcast;
  assignment and encoding are map-side projections — ZERO corpus
  shuffle for the index build beyond the k·d-row training partials.
- The encoded index is (vec_id, cell, m codes): written
  ``partitionBy("cell")`` the probe join prunes at the directory
  level, and the in-query join on cell touches only probed cells.
- Per-query work: nprobe·m·k-row distance tables (broadcast), then
  |probed candidates| slim partial sums — never N², never d-dim math
  per candidate.

Reference: no counterpart (SURVEY.md §2l LLM-pipeline extension).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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
from .pq import (
    _PQ_ITERS,
    _PQ_K,
    _PQ_M,
    _PQ_SUBDIM,
    _subvectors,
    _train_codebook,
)

_IVFPQ_CELLS = 8    # coarse centroids = emb of vec_id 0..7 (fixed seed set)

# stored-index memo: trained codebook + encoded corpus, built once
# per session per sf_dir (see operators/app_cache.py)
_IVFPQ_CACHE: dict[tuple, DataFrame] = {}
_IVFPQ_NPROBE = 2
_IVFPQ_NQ = 6       # queries: vec_id < _IVFPQ_NQ
_IVFPQ_TOPK = 5
# PQ codebook init: residual subvectors of vec_id CELLS..CELLS+K-1
# (the first K NON-centroid vectors — centroids' own residuals are 0)


def _ivfpq_oracle() -> str:
    """Unrolled-CTE DuckDB replay of coarse-assign → residual → PQ
    train → encode → probe → per-cell ADC (all MATERIALIZED — DuckDB
    inlines multiply-referenced CTEs exponentially otherwise)."""
    sq = _sql_sqdist
    quant = _SQL_QUANTIZE.format(v="embedding")
    dims = _PQ_M * _PQ_SUBDIM
    slices = ", ".join(
        f"({s}, {s * _PQ_SUBDIM + 1}, {(s + 1) * _PQ_SUBDIM})"
        for s in range(_PQ_M)
    )
    parts = [
        f"corpus AS MATERIALIZED (SELECT vec_id, {quant} AS emb_micro FROM embeddings)",
        f"""cents AS MATERIALIZED (
      SELECT vec_id AS cell, emb_micro AS c_micro FROM corpus
      WHERE vec_id < {_IVFPQ_CELLS})""",
        f"""assigned AS MATERIALIZED (
      SELECT vec_id, emb_micro, cell FROM (
        SELECT e.vec_id, e.emb_micro, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sq('e.emb_micro', 'c.c_micro')} ASC, c.cell
               ) AS rn
        FROM corpus e CROSS JOIN cents c
      ) WHERE rn = 1)""",
        f"""res AS MATERIALIZED (
      SELECT a.vec_id, a.cell,
             list_transform(range(1, {dims} + 1),
                            i -> a.emb_micro[i] - c.c_micro[i]) AS r_micro
      FROM assigned a JOIN cents c ON a.cell = c.cell)""",
        f"""svs AS MATERIALIZED (
      SELECT vec_id, cell, s.sub AS sub, r_micro[s.lo:s.hi] AS sv
      FROM res, (VALUES {slices}) s(sub, lo, hi))""",
        f"""cb0 AS MATERIALIZED (
      SELECT sub, vec_id - {_IVFPQ_CELLS} AS code, sv AS c_micro FROM svs
      WHERE vec_id >= {_IVFPQ_CELLS} AND vec_id < {_IVFPQ_CELLS + _PQ_K})""",
    ]
    for t in range(_PQ_ITERS):
        parts.append(f"""asg{t} AS MATERIALIZED (
      SELECT vec_id, sub, sv, code FROM (
        SELECT v.vec_id, v.sub, v.sv, c.code,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id, v.sub
                 ORDER BY {sq('v.sv', 'c.c_micro')} ASC, c.code
               ) AS rn
        FROM svs v JOIN cb{t} c ON v.sub = c.sub
      ) WHERE rn = 1)""")
        parts.append(f"""cb{t + 1} AS MATERIALIZED (
      SELECT sub, code, array_agg(mean_micro ORDER BY dim) AS c_micro FROM (
        SELECT sub, code, dim,
               CAST(floor(CAST(SUM(val) AS DOUBLE) / COUNT(val)) AS BIGINT)
                 AS mean_micro
        FROM (
          SELECT sub, code,
                 generate_subscripts(sv, 1) - 1 AS dim,
                 unnest(sv) AS val
          FROM asg{t}
        ) GROUP BY sub, code, dim
      ) GROUP BY sub, code)""")
    it = _PQ_ITERS
    parts.append(f"""codes AS MATERIALIZED (
      SELECT vec_id, cell, sub, code FROM (
        SELECT v.vec_id, v.cell, v.sub, c.code,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id, v.sub
                 ORDER BY {sq('v.sv', 'c.c_micro')} ASC, c.code
               ) AS rn
        FROM svs v JOIN cb{it} c ON v.sub = c.sub
      ) WHERE rn = 1)""")
    parts.append(f"""probes AS MATERIALIZED (
      SELECT qid, cell, qr FROM (
        SELECT e.vec_id AS qid, c.cell,
               list_transform(range(1, {dims} + 1),
                              i -> e.emb_micro[i] - c.c_micro[i]) AS qr,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {sq('e.emb_micro', 'c.c_micro')} ASC, c.cell
               ) AS prn
        FROM corpus e CROSS JOIN cents c
        WHERE e.vec_id < {_IVFPQ_NQ}
      ) WHERE prn <= {_IVFPQ_NPROBE})""")
    parts.append(f"""qsvs AS MATERIALIZED (
      SELECT qid, cell, s.sub AS sub, qr[s.lo:s.hi] AS sv
      FROM probes, (VALUES {slices}) s(sub, lo, hi))""")
    parts.append(f"""dtable AS MATERIALIZED (
      SELECT q.qid, q.cell, c.sub, c.code, {sq('q.sv', 'c.c_micro')} AS d
      FROM qsvs q JOIN cb{it} c ON q.sub = c.sub)""")
    parts.append("""adc AS MATERIALIZED (
      SELECT d.qid, a.vec_id, a.cell, CAST(SUM(d.d) AS BIGINT) AS adc_micro
      FROM codes a
      JOIN dtable d ON a.cell = d.cell AND a.sub = d.sub AND a.code = d.code
      GROUP BY d.qid, a.vec_id, a.cell)""")
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT qid, rank, vec_id, cell,
           CAST(adc_micro AS DOUBLE) / {_MICRO * _MICRO} AS adc_dist
    FROM (
      SELECT qid, vec_id, cell, adc_micro,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY adc_micro, vec_id) AS INT) AS rank
      FROM adc
    ) WHERE rank <= {_IVFPQ_TOPK}
    ORDER BY qid, rank
    """
    )


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN, driver-oracled end to end: coarse-assign every
    vector to its nearest of {cells} centroids (broadcast argmin, zero
    shuffle), train {m}x{k} PQ codebooks on RESIDUALS ({iters} integer
    Lloyd rounds), encode the corpus to (cell, {m} codes), then answer
    {nq} queries by probing their {nprobe} nearest cells, building one
    broadcast ADC table per probed cell from the query's residual
    against THAT cell's centroid, and summing m lookups per candidate
    — candidates outside probed cells are never touched (the join on
    cell is the prune). Top-{topk} per query under a total order."""
    corpus = _micro_corpus(spark, sf_dir)
    cents = corpus.filter(F.col("vec_id") < _IVFPQ_CELLS).select(
        F.col("vec_id").alias("cell"), F.col("emb_micro").alias("c_micro")
    )
    assigned = _nearest(corpus, "emb_micro", cents, "cell", "c_micro")
    res = assigned.join(F.broadcast(cents), "cell").select(
        "vec_id",
        "cell",
        F.zip_with("emb_micro", "c_micro", lambda x, y: x - y).alias("r_micro"),
    )
    svs = _subvectors(res, "r_micro", "vec_id", "cell")
    cb0 = svs.filter(
        (F.col("vec_id") >= _IVFPQ_CELLS)
        & (F.col("vec_id") < _IVFPQ_CELLS + _PQ_K)
    ).select(
        "sub",
        (F.col("vec_id") - _IVFPQ_CELLS).alias("code"),
        F.col("sv").alias("c_micro"),
    )
    # the trained codebook is m·k rows — materialize it once so the
    # THREE downstream consumers (encode, dtable, and the per-iteration
    # lineage they'd otherwise replay) don't re-plan two Lloyd rounds
    # each (the triangle-census lesson: 23 FileScans without this).
    # App-scoped memo (round 15): codebook training and corpus
    # encoding are INDEX BUILD — done once per corpus version, served
    # to every query call after; only the probe/ADC half is per-query.
    from .app_cache import app_scoped

    cb = app_scoped(_IVFPQ_CACHE, spark, (sf_dir, "cb"),
                    lambda: _train_codebook(svs, cb0))
    codes = app_scoped(
        _IVFPQ_CACHE, spark, (sf_dir, "codes"),
        lambda: _nearest(svs, "sv", cb, "code", "c_micro", within="sub")
        .select("vec_id", "cell", "sub", "code"))

    # --- query side: probe nprobe cells, residual PER PROBED CELL
    w_probe = Window.partitionBy("qid").orderBy("d", "cell")
    probes = (
        corpus.filter(F.col("vec_id") < _IVFPQ_NQ)
        .select(F.col("vec_id").alias("qid"), "emb_micro")
        .crossJoin(F.broadcast(cents))
        .select(
            "qid",
            "cell",
            _sqdist(F.col("emb_micro"), F.col("c_micro")).alias("d"),
            F.zip_with("emb_micro", "c_micro", lambda x, y: x - y).alias("qr"),
        )
        .withColumn("prn", F.row_number().over(w_probe))
        .filter(F.col("prn") <= _IVFPQ_NPROBE)
        .select("qid", "cell", "qr")
    )
    qsvs = _subvectors(probes, "qr", "qid", "cell")
    dtable = qsvs.join(F.broadcast(cb), "sub").select(
        "qid", "cell", "sub", "code",
        _sqdist(F.col("sv"), F.col("c_micro")).alias("d"),
    )
    adc = (
        codes.join(F.broadcast(dtable), ["cell", "sub", "code"])
        .groupBy("qid", "vec_id", "cell")
        .agg(F.sum("d").cast("long").alias("adc_micro"))
    )
    ranked = adc.withColumn(
        "rank",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy("adc_micro", "vec_id"))
        .cast("int"),
    )
    return (
        ranked.filter(F.col("rank") <= _IVFPQ_TOPK)
        .select(
            "qid",
            "rank",
            "vec_id",
            "cell",
            (F.col("adc_micro").cast("double") / (_MICRO * _MICRO)).alias(
                "adc_dist"
            ),
        )
        .orderBy("qid", "rank")
    )


ann_ivfpq_topk.__doc__ = ann_ivfpq_topk.__doc__.format(
    cells=_IVFPQ_CELLS, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS,
    nq=_IVFPQ_NQ, nprobe=_IVFPQ_NPROBE, topk=_IVFPQ_TOPK,
)
