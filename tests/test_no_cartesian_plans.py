"""Global plan-quality gate: no registered batch query may plan a
CartesianProduct. An accidental unkeyed join is O(n^2) shuffle I/O at
100 TB; every intentional cross join in this repo is a 1-row scalar
broadcast (BroadcastNestedLoopJoin over a 1-row build side), which is
a different physical node. Streaming queries are skipped: building
their result executes the stream (plan inspection happens in their own
plan-shape and recovery tests).

Both gates read every plan a query produces: the returned DataFrame's
executed plan AND the plan of each SQL execution the build itself ran.
An eager ``localCheckpoint`` or an ``app_cache`` substrate build
executes while the query is built, and the returned plan shows only a
``Scan ExistingRDD`` in its place (the triangle census returns a plan
with no FileScan; the execution its build runs has four). Build-time
executions are read from the SQL status store, which is kept with the
UI disabled. A substrate already memoized by an earlier test in the
session is not rebuilt, so its build plan is gated only when this test
is the first to build it.
"""

from __future__ import annotations

import re

import pytest

from pyspark_postgres_loader_spark.registry import QUERIES, _ensure_loaded

_ensure_loaded()
BATCH_QUERIES = sorted(n for n in QUERIES if not n.startswith("stream_"))


# formatted-mode plans list every node once as a details header
# "(<id>) <NodeName>"; a substring count would hit the tree line too
_FORMATTED_SCAN = re.compile(r"^\(\d+\) Scan parquet\b", re.M)


def _build(spark, sf_dir, name):
    """Build ``name`` → (returned executed plan as a tree string,
    formatted plans of the SQL executions the build ran)."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def last_id():
        # the store lists executions by id; its retention limit drops
        # the oldest, so count differences undercount once it is full
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    before = last_id()
    df = QUERIES[name].fn(spark, sf_dir)
    after = last_id()
    plan = df._jdf.queryExecution().executedPlan().toString()
    if after == before:
        return plan, []
    n = store.executionsCount()
    k = min(after - before, n)
    new = store.executionsList(n - k, k)
    built = [new.apply(i) for i in range(new.size())]
    return plan, [
        e.physicalPlanDescription() for e in built if e.executionId() > before
    ]


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_cartesian_product(spark, sf_dir, name):
    plan, built = _build(spark, sf_dir, name)
    for i, p in enumerate([plan] + built):
        assert "CartesianProduct" not in p, (
            f"{name} plans a CartesianProduct "
            f"({'returned plan' if i == 0 else f'build-time execution {i}'}):"
            f"\n{p[:1500]}"
        )


# FileScan budget per query (the triangle-census lesson, round 5: a
# query whose edge set was consumed five times re-planned the whole
# pair-support pipeline per consumer — 48 FileScans for a 300-row
# result). Most queries scan each input table once or twice; a plan
# suddenly exceeding its historical scan count means a shared
# sub-DAG lost its materialization or a rewrite duplicated a branch.
# Budgets are deliberately loose (~2x the measured round-6 counts):
# plan details drift a little with session state and fixture size, and
# the gate's job is catching BLOWUPS (the triangle census hit 48),
# not 1-2 scans of benign Catalyst variation. Everything unlisted gets
# the default.
_DEFAULT_SCAN_BUDGET = 10
_SCAN_BUDGETS = {
    "q2_min_cost_supplier": 18,     # decorrelated min-cost subquery re-scans
    "ann_recall_report": 14,        # composes brute-force + IVF pipelines
    "q8_market_share": 14,
    "dedup_prefix_containment": 14,
    "contamination_bloom_prefilter": 13,
}


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_scan_count_within_budget(spark, sf_dir, name):
    plan, built = _build(spark, sf_dir, name)
    budget = _SCAN_BUDGETS.get(name, _DEFAULT_SCAN_BUDGET)
    counts = [plan.count("FileScan parquet")] + [
        len(_FORMATTED_SCAN.findall(p)) for p in built
    ]
    assert max(counts) <= budget, (
        f"{name}: FileScans per plan {counts} (returned plan first, then "
        f"each build-time execution) exceed its budget of {budget} — a "
        "shared sub-DAG probably lost its cache/localCheckpoint (see the "
        "round-5 triangle-census recompute) or a rewrite duplicated a branch"
    )
