"""Central query registry powering the driver contract.

Every implemented operator registers here with a PySpark callable
``(spark, sf_dir) -> DataFrame`` and (when SQL-expressible) a matching
ANSI-SQL oracle string for DuckDB. ``__spark_entry__.queries()`` /
``oracle_sql()`` are thin views over this registry.

Determinism contract (why hashes match): any aggregate over doubles is
computed as ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`` on both
sides — per-row double arithmetic is IEEE-identical across engines, the
decimal sum is exact and order-independent, and the final double cast is
deterministic. Averages are ``double_sum / count`` (double division of
identical operands). See ``functions/deterministic.py``.
"""

from __future__ import annotations

import importlib
import json
import pkgutil
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    # "contract" marks queries that deliberately compute an EXACT
    # reference result alongside an approximate/sketch result purely to
    # assert the sketch's error envelope (the production path at scale
    # is the sketch alone — the exact side exists for the differential
    # harness). bench.py surfaces these in BENCH_DETAIL so their wall
    # time is read as harness cost, not production cost.
    tags: tuple[str, ...] = ()


QUERIES: dict[str, QuerySpec] = {}

# Work a query run does that its wall time does not show: one dict per
# event, each with a "kind" ("substrate_build" from app_cache.app_scoped,
# "stream" from the streaming runner). Measurement only: bench.py slices
# it per query into BENCH_DETAIL's attribution block; no query path
# reads it.
RUN_LOG: list[dict] = []


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator: register a query under ``name`` with an optional oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags
        )
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in QUERIES.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}


_LOADED = False
_PKG_DIR = Path(__file__).resolve().parent
# The round driver records CORRECTNESS_r{N}.json here: the queries it
# checked in round N, one row each, taken from the front of queries().
_LEDGER_DIR = _PKG_DIR.parent

# Driver order: queries whose code changed since the driver last checked
# them come first, then every other query, stalest first. A query's
# staleness is the highest N of any CORRECTNESS_r{N}.json that lists it
# (0 if none does), so the freshest greens go last. Add a query here,
# mapped to the round its result could move in, when a change touches
# its semantics (its result, verdicts or error classes); an entry
# expires once a ledger from that round or later lists the query.
_TOUCHED: dict[str, int] = {
    # sink chunk writer: DuckDB chunks become one Arrow relation; one
    # load path: shared DuckDB target/readback helpers, no pipeline=
    "sink_upsert_final_state": 17,
    "sink_staging_merge_final_state": 17,
    "sink_async_upsert_final_state": 17,
    # walkbatch.decode_walk: NotImplementedError now reports unsupported
    "audio_adpcm_decode": 17,
    "ingest_cbor_walk": 17,
    "iceberg_partition_pruning": 17,
    "multimodal_jpeg_decode": 17,
    "ingest_parquet_page_index_walk": 17,
    "ingest_tfrecord_walk": 17,
    "ingest_zstd_seekable_walk": 17,
    "ingest_avro_single_object": 17,
    # hub customers filtered by a count before the supplier sets build
    "graph_triangle_count_suppliers": 17,
    # beam hop: frontier carries the query vector, one qid exchange
    "ann_nsw_beam_topk": 17,
    "ann_hnsw_layered_topk": 17,
    "ann_recall_hnsw_report": 17,
    # one nearest-centroid argmin kernel owns the tie-break
    "cluster_kmeans_embeddings": 17,
    "sample_cluster_diversity": 17,
    "dedup_semantic_cluster": 17,
    "ann_pq_adc_topk": 17,
    "ann_ivfpq_topk": 17,
    "ann_ivf_incremental_topk": 17,
}


def last_checked(ledger_dir: Path = _LEDGER_DIR) -> dict[str, int]:
    """Query name → the newest round whose CORRECTNESS ledger lists it."""
    last: dict[str, int] = {}
    for path in ledger_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            for name in json.loads(path.read_text()):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def driver_order(
    names: Iterable[str], last: dict[str, int], touched: dict[str, int]
) -> list[str]:
    """Live touched names, then the rest; each group by (last, name)."""

    def key(n: str) -> tuple[bool, int, str]:
        return last.get(n, 0) >= touched.get(n, 0), last.get(n, 0), n

    return sorted(names, key=key)


def _ensure_loaded() -> None:
    """Import every module of the package (each registers its queries on
    import; idempotent), then reorder the registry to the driver order."""
    global _LOADED
    if _LOADED:
        return
    for mod in pkgutil.walk_packages([str(_PKG_DIR)], prefix=__package__ + "."):
        importlib.import_module(mod.name)
    missing = sorted(set(_TOUCHED) - set(QUERIES))
    if missing:
        raise RuntimeError(f"_TOUCHED names not registered: {missing}")
    order = driver_order(QUERIES, last_checked(), _TOUCHED)
    ordered = {n: QUERIES[n] for n in order}
    QUERIES.clear()
    QUERIES.update(ordered)
    _LOADED = True
