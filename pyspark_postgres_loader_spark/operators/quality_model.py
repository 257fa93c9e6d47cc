"""Model-based quality filtering — the DCLM / fineweb-edu curation
stage: train a linear classifier on document features against a
labeled seed, then filter the corpus by model score. Heuristic
filters (text.py's C4/Gopher-style rules) cut by fixed thresholds;
the model-based stage LEARNS the weighting, which is the one standard
LLM-curation step this engine lacked.

The trainer is logistic regression by FIXED-ROUND integer gradient
descent with a QUANTIZED sigmoid — the integer-EM recipe
(operators/unigram.py) applied to supervised learning, for the same
reason: transcendental activations and float accumulation are not
bit-reproducible across engines, so the production-shaped algorithm
is re-expressed over integers and the DuckDB oracle replays every GD
round as unrolled CTEs. Concretely:

- features are BIGINT milli-ratios computed by closed-form JVM
  expressions (stopword ratio, chars-per-word, distinct-word ratio,
  saturated doc length, short-word share + a bias of 1000);
- labels are deterministic: a linear rule over the same feature space
  plus a ±200 milli "annotation noise" term keyed off doc_id, split
  at the corpus mean (so classes are balanced at any fixture and the
  task is learnable but NOT perfectly separable — like real rater
  labels);
- the sigmoid is a 34-bucket lookup table (250-milli z-buckets,
  values floor(1000·σ(center)+0.5)) — a DEFINED activation both
  engines index identically;
- weights live in integer micro-units; z = Σ w_j·x_j is an exact
  BIGINT dot product; the update w ← w − floor(LR·Σ(p−y)·x / 1000N)
  is one IEEE double division of exactly-representable integers (all
  magnitudes ≤ 7.5e12 ≪ 2^53, and quotients are ≥ 1/(1000N) away
  from the floor boundary whenever fractional), so both engines floor
  the same value — the floor-EM argument, see unigram.py;
- cross-engine gotcha pinned in tests: integer ``//`` and ``%``
  TRUNCATE toward zero in DuckDB but floor in Python/Spark — every
  division here is written floor(double/double) on both sides, and
  every modulus has non-negative operands.

Scale design (100 TB): the feature pass is one projection of the
corpus (persisted — here localCheckpointed — exactly like a real
pipeline materializes its feature table); each GD round is ONE
partial-aggregated shuffle of k·partitions rows (map-side combine of
Σ r·x_j), the weight table is k rows broadcast back; scoring is a
pure map. Training cost is O(rounds) tiny aggregations regardless of
corpus size — the fastText-style regime. No Python UDFs anywhere.

Reference: no counterpart (SURVEY.md §2l extension; DCLM/fineweb-edu
classifier-filter pattern).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

_LR_MILLI = 1_500   # learning rate 1.5 in milli-units
_ROUNDS = 6         # fixed GD rounds (statically known plan)
_KEEP_MILLI = 500   # filter threshold: quantized sigmoid >= 0.5
_NFEAT = 6          # bias + 5 document features
_FEATURE_NAMES = (
    "bias", "stop_ratio", "chars_per_word", "distinct_ratio",
    "doc_length", "short_word_ratio",
)
_SW_SQL = ", ".join(
    f"'{w}'" for w in ("the", "a", "of", "and", "in", "to")
)

# 34-bucket quantized sigmoid over z in [-4.25, 4.0] (250-milli
# buckets, value at the bucket center): bucket b in [-17, 16],
# SIG[b+18] = floor(1000*sigmoid((250 b + 125)/1000) + 0.5).
_SIG = tuple(
    math.floor(1000.0 / (1.0 + math.exp(-(250 * b + 125) / 1000.0)) + 0.5)
    for b in range(-17, 17)
)
_SIG_SQL = "[" + ", ".join(str(v) for v in _SIG) + "]"


# ------------------------------------------------------ feature pass

def _feature_cols() -> dict[str, Column]:
    """The five BIGINT milli-features (closed-form, JVM-side)."""
    words = F.split(F.lower(F.col("text")), r"\s+")
    nw = F.size(words)
    nc = F.length("text")
    n_stop = F.size(
        F.expr(
            f"filter(split(lower(text), '\\\\s+'), x -> x IN ({_SW_SQL}))"
        )
    )
    n_short = F.size(F.filter(words, lambda x: F.length(x) <= 3))
    nd = F.size(F.array_distinct(words))
    lng = lambda c: F.floor(c).cast("long")  # noqa: E731
    return {
        "x1": lng(F.lit(1000.0) * n_stop / nw),
        "x2": F.least(F.lit(1000).cast("long"), lng(F.lit(100.0) * nc / nw)),
        "x3": lng(F.lit(1000.0) * nd / nw),
        "x4": F.least(F.lit(1000).cast("long"), lng(nc / F.lit(2.0))),
        "x5": lng(F.lit(1000.0) * n_short / nw),
    }


_SQL_FEATURES = f"""
    f AS (
      SELECT doc_id,
             CAST(floor(1000.0 * len(list_filter(w, x ->
                    x IN ({_SW_SQL}))) / len(w)) AS BIGINT) AS x1,
             CAST(least(1000, floor(100.0 * nc / len(w))) AS BIGINT) AS x2,
             CAST(floor(1000.0 * len(list_distinct(w)) / len(w))
                  AS BIGINT) AS x3,
             CAST(least(1000, floor(nc / 2.0)) AS BIGINT) AS x4,
             CAST(floor(1000.0 * len(list_filter(w, x ->
                    length(x) <= 3)) / len(w)) AS BIGINT) AS x5
      FROM (SELECT doc_id,
                   regexp_split_to_array(lower(text), '\\s+') AS w,
                   length(text) AS nc
            FROM documents))"""


def _labeled_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, x array<long>[6], y_milli) — features plus the
    deterministic seed label, split at the corpus mean. Materialized
    once (the feature-table pass every real pipeline persists)."""
    d = load_table(spark, sf_dir, "documents")
    fc = _feature_cols()
    f = d.select("doc_id", *(c.alias(n) for n, c in fc.items()))
    s = (
        2 * F.col("x1") + F.col("x3") + F.col("x4")
        - F.col("x2") - F.col("x5")
        + ((F.col("doc_id") * 37) % 101 - 50) * 4
    )
    lab = f.select(
        "doc_id",
        F.array(
            F.lit(1000).cast("long"), "x1", "x2", "x3", "x4", "x5"
        ).alias("x"),
        s.alias("s"),
    )
    thr = lab.agg(
        F.floor(F.sum("s").cast("double") / F.count("*"))
        .cast("long")
        .alias("thr")
    )
    return (
        lab.crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "x",
            F.when(F.col("s") > F.col("thr"), F.lit(1000).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("y"),
        )
        .localCheckpoint(eager=True)
    )


# ------------------------------------------------------ GD training

def _score_col(x: str, wv: str) -> Column:
    """Quantized-sigmoid probability in milli-units for feature array
    ``x`` against weight array ``wv`` (exact BIGINT dot product,
    bucketed lookup)."""
    z = F.aggregate(
        F.zip_with(F.col(x), F.col(wv), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    bucket = F.greatest(
        F.lit(-17),
        F.least(F.lit(16), F.floor(z / F.lit(250_000_000.0))),
    ).cast("int")
    sig = F.array(*(F.lit(v).cast("long") for v in _SIG))
    return F.element_at(sig, bucket + F.lit(18))


def _fold_weights(w: DataFrame) -> DataFrame:
    """k-row (j, w) table → ONE broadcastable array row (dim order)."""
    return w.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "w"))),
            lambda s: s["w"],
        ).alias("wv")
    )


# Trained-weight artifact shared by the consumers (train + filter
# replay one full-corpus fit, eval a train-split fit — each would
# otherwise repeat its 6 GD rounds, ~3-4 s apiece in-suite). App-scoped
# (see operators/app_cache.py): a fresh session (the driver's vanilla
# rehearsal, a new bench process) rebuilds, and fixture files never
# change under a live session.
_QUALITY_CACHE: dict[tuple, DataFrame] = {}


def _cached_weights(
    spark: SparkSession, sf_dir: str, split: str,
    train_pred: Column | None,
) -> DataFrame:
    from .app_cache import app_scoped

    return app_scoped(
        _QUALITY_CACHE, spark, (sf_dir, "quality-weights", split),
        lambda: _train_quality_weights_raw(spark, sf_dir, train_pred),
    )


def train_quality_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoizing wrapper: one trained k-row weight table per
    (fixture, session)."""
    return _cached_weights(spark, sf_dir, "full", None)


def _train_quality_weights_raw(
    spark: SparkSession, sf_dir: str, train_pred: Column | None = None
) -> DataFrame:
    """The trainer: fixed-round integer-GD logistic regression.
    Returns the k-row weight table (j, w) in micro-units; every round
    but the last is localCheckpointed, and the memo pins the last one.
    ``train_pred`` restricts the GD passes to a training split (the
    eval query's holdout discipline); gradients and N then see ONLY
    training rows."""
    feats = _labeled_features(spark, sf_dir)
    if train_pred is not None:
        feats = feats.filter(train_pred)
    w = spark.range(_NFEAT).select(
        F.col("id").cast("int").alias("j"),
        F.lit(0).cast("long").alias("w"),
    )
    for r in range(_ROUNDS):
        if r:
            # k tiny rows: break the per-round lineage so the plan
            # scans documents once per round, not O(rounds²) times
            w = w.localCheckpoint(eager=True)
        scored = feats.crossJoin(F.broadcast(_fold_weights(w))).select(
            "x", (_score_col("x", "wv") - F.col("y")).alias("r")
        )
        grads = scored.select(
            "r", F.posexplode("x").alias("j", "xv")
        ).groupBy("j").agg(
            F.sum(F.col("r") * F.col("xv")).alias("g"),
            F.count("*").alias("n"),
        )
        w = grads.join(w, "j").select(
            "j",
            (
                F.col("w")
                - F.floor(
                    (F.lit(_LR_MILLI) * F.col("g")).cast("double")
                    / (F.lit(1000) * F.col("n"))
                ).cast("long")
            ).alias("w"),
        )
    return w


# ------------------------------------------------------ oracle CTEs

def _gd_oracle_ctes(train_where: str = "") -> str:
    """Feature pass + label split + every GD round unrolled (the
    unigram lesson: CTE layers that bind once, never recursive
    lateral aliases). ``train_where`` (e.g. "WHERE s.doc_id % 5 <> 4")
    restricts the gradient passes to a training split; with the
    default empty string the generated SQL is byte-identical to the
    original full-corpus program."""
    dot = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, {n} + 1), i -> s.x[i] * wv[i])), "
        "(a, b) -> a + b)"
    ).format(n=_NFEAT)
    p_of = (
        f"{_SIG_SQL}[CAST(greatest(-17, least(16, "
        f"floor(({dot}) / 250000000.0))) AS INT) + 18]"
    )
    parts = [
        _SQL_FEATURES.strip(),
        """lab AS (
      SELECT doc_id,
             [CAST(1000 AS BIGINT), x1, x2, x3, x4, x5] AS x,
             2 * x1 + x3 + x4 - x2 - x5
               + ((doc_id * 37) % 101 - 50) * 4 AS s
      FROM f)""",
        """tstat AS (
      SELECT CAST(floor(CAST(SUM(s) AS DOUBLE) / COUNT(*)) AS BIGINT)
        AS thr FROM lab)""",
        """feats AS (
      SELECT doc_id, x,
             CASE WHEN s > thr THEN CAST(1000 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS y
      FROM lab, tstat)""",
        "w0 AS (SELECT [CAST(0 AS BIGINT), 0, 0, 0, 0, 0] AS wv)",
    ]
    for t in range(_ROUNDS):
        parts.append(f"""g{t} AS (
      SELECT jj.j,
             SUM(({p_of} - s.y) * s.x[jj.j]) AS g,
             COUNT(*) AS n
      FROM feats s, w{t},
           (SELECT unnest(range(1, {_NFEAT} + 1)) AS j) jj
      {train_where}GROUP BY jj.j)""")
        parts.append(f"""w{t + 1} AS (
      SELECT list(wj ORDER BY j) AS wv FROM (
        SELECT g.j AS j,
               wv[g.j] - CAST(floor(CAST({_LR_MILLI} * g.g AS DOUBLE)
                 / (1000 * g.n)) AS BIGINT) AS wj
        FROM g{t} g, w{t}))""")
    return "WITH " + ",\n    ".join(parts)


_NAMES_SQL = "[" + ", ".join(f"'{n}'" for n in _FEATURE_NAMES) + "]"


@register(
    "quality_classifier_train",
    oracle=f"""
    {_gd_oracle_ctes()}
    SELECT CAST(j - 1 AS INTEGER) AS feature_idx,
           {_NAMES_SQL}[j] AS feature,
           wv[j] AS weight_micro
    FROM w{_ROUNDS}, (SELECT unnest(range(1, {_NFEAT} + 1)) AS j)
    ORDER BY feature_idx
    """,
)
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the quality classifier: {rounds} integer-GD rounds of
    logistic regression (quantized-sigmoid, micro-unit weights) over
    closed-form document features against the deterministic seed
    labels. Output: the learned weight vector, one row per feature —
    the artifact a 100 TB pipeline would broadcast to score shards.
    The DuckDB oracle replays every GD round as unrolled CTEs, so the
    weights must match to the last micro-unit."""
    w = train_quality_weights(spark, sf_dir)
    names = F.array(*(F.lit(n) for n in _FEATURE_NAMES))
    return (
        w.select(
            F.col("j").alias("feature_idx"),
            F.element_at(names, F.col("j") + 1).alias("feature"),
            F.col("w").alias("weight_micro"),
        )
        .orderBy("feature_idx")
    )


quality_classifier_train.__doc__ = quality_classifier_train.__doc__.format(
    rounds=_ROUNDS
)


@register(
    "quality_classifier_filter",
    oracle=f"""
    {_gd_oracle_ctes()}
    SELECT s.doc_id,
           CAST({_SIG_SQL}[CAST(greatest(-17, least(16,
             floor((list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, {_NFEAT} + 1), i -> s.x[i] * wv[i])),
               (a, b) -> a + b)) / 250000000.0))) AS INT) + 18]
             AS INTEGER) AS score_milli,
           CAST(s.y AS INTEGER) AS label_milli,
           {_SIG_SQL}[CAST(greatest(-17, least(16,
             floor((list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, {_NFEAT} + 1), i -> s.x[i] * wv[i])),
               (a, b) -> a + b)) / 250000000.0))) AS INT) + 18]
             >= {_KEEP_MILLI} AS kept
    FROM feats s, w{_ROUNDS}
    ORDER BY s.doc_id
    """,
)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained classifier to every document: quantized-
    sigmoid score in milli-units, the seed label (so score/label
    separation is visible in the output), and the keep verdict at
    {keep} milli — the corpus-filter pass of the DCLM/fineweb-edu
    pattern. Scoring is a pure broadcast-weights map over the feature
    projection: no shuffle, SF-linear."""
    feats = _labeled_features(spark, sf_dir)
    w = train_quality_weights(spark, sf_dir)
    scored = feats.crossJoin(F.broadcast(_fold_weights(w)))
    p = _score_col("x", "wv")
    return (
        scored.select(
            "doc_id",
            p.cast("int").alias("score_milli"),
            F.col("y").cast("int").alias("label_milli"),
            (p >= _KEEP_MILLI).alias("kept"),
        )
        .orderBy("doc_id")
    )


quality_classifier_filter.__doc__ = quality_classifier_filter.__doc__.format(
    keep=_KEEP_MILLI
)


# ------------------------------------------------------ holdout eval

_EVAL_MOD = 5  # doc_id % 5 == 4 is the held-out 20%
_TRAIN_WHERE = f"WHERE s.doc_id % {_EVAL_MOD} <> {_EVAL_MOD - 1} "


def _eval_pred() -> Column:
    return (F.col("doc_id") % _EVAL_MOD) == (_EVAL_MOD - 1)


@register(
    "quality_classifier_eval",
    oracle=f"""
    {_gd_oracle_ctes(_TRAIN_WHERE)},
    holdout AS (
      SELECT CASE WHEN {_SIG_SQL}[CAST(greatest(-17, least(16,
               floor((list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, {_NFEAT} + 1),
                                i -> s.x[i] * wv[i])),
                 (a, b) -> a + b)) / 250000000.0))) AS INT) + 18]
               >= {_KEEP_MILLI} THEN 1 ELSE 0 END AS pred,
             CASE WHEN s.y = 1000 THEN 1 ELSE 0 END AS actual
      FROM feats s, w{_ROUNDS}
      WHERE s.doc_id % {_EVAL_MOD} = {_EVAL_MOD - 1}
    ),
    conf AS (
      SELECT CAST(SUM(pred * actual) AS BIGINT) AS tp,
             CAST(SUM(pred * (1 - actual)) AS BIGINT) AS fp,
             CAST(SUM((1 - pred) * (1 - actual)) AS BIGINT) AS tn,
             CAST(SUM((1 - pred) * actual) AS BIGINT) AS fn,
             CAST(COUNT(*) AS BIGINT) AS n_eval
      FROM holdout
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM feats s
            {_TRAIN_WHERE.strip()}) AS n_train,
           n_eval, tp, fp, tn, fn,
           CAST(floor(1000.0 * (tp + tn) / n_eval) AS BIGINT) AS acc_milli,
           CASE WHEN tp + fp = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(1000.0 * tp / (tp + fp)) AS BIGINT)
                END AS prec_milli,
           CASE WHEN tp + fn = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(1000.0 * tp / (tp + fn)) AS BIGINT)
                END AS rec_milli
    FROM conf
    """,
)
def quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout evaluation of the quality classifier — the discipline
    the train/filter pair deliberately lacks (they train and score on
    the full corpus, the production filter shape): re-train the SAME
    integer-GD program on the 80% train split only (doc_id % {m} !=
    {m1}), then report the confusion matrix and milli-unit accuracy /
    precision / recall on the untouched 20% holdout. Every GD round
    over the SUBSET is replayed by the oracle's unrolled CTEs, so the
    metrics match exactly — an evaluation stage whose numbers are
    themselves differential-tested.

    Scale notes: identical regime to training (k-row shuffles per
    round); the eval pass is one broadcast-weights map + a single
    5-integer aggregate row."""
    feats = _labeled_features(spark, sf_dir)
    w = _cached_weights(spark, sf_dir, "train80", ~_eval_pred())
    holdout = feats.filter(_eval_pred()).crossJoin(
        F.broadcast(_fold_weights(w))
    )
    p = _score_col("x", "wv")
    scored = holdout.select(
        F.when(p >= _KEEP_MILLI, 1).otherwise(0).alias("pred"),
        F.when(F.col("y") == 1000, 1).otherwise(0).alias("actual"),
    )
    n_train = feats.filter(~_eval_pred()).count()
    conf = scored.agg(
        F.sum(F.col("pred") * F.col("actual")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("actual"))).alias("fp"),
        F.sum((1 - F.col("pred")) * (1 - F.col("actual"))).alias("tn"),
        F.sum((1 - F.col("pred")) * F.col("actual")).alias("fn"),
        F.count("*").alias("n_eval"),
    )
    guard = lambda num, den: F.when(  # noqa: E731
        den == 0, F.lit(0).cast("long")
    ).otherwise(F.floor(F.lit(1000.0) * num / den).cast("long"))
    return conf.select(
        F.lit(n_train).cast("long").alias("n_train"),
        F.col("n_eval").cast("long").alias("n_eval"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("tn").cast("long").alias("tn"),
        F.col("fn").cast("long").alias("fn"),
        F.floor(
            F.lit(1000.0) * (F.col("tp") + F.col("tn")) / F.col("n_eval")
        ).cast("long").alias("acc_milli"),
        guard(F.col("tp"), F.col("tp") + F.col("fp")).alias("prec_milli"),
        guard(F.col("tp"), F.col("tp") + F.col("fn")).alias("rec_milli"),
    )


quality_classifier_eval.__doc__ = quality_classifier_eval.__doc__.format(
    m=_EVAL_MOD, m1=_EVAL_MOD - 1
)
