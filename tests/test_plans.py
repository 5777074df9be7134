"""Physical-plan regression tests — the 100 TB contract.

Results matching the oracle is necessary but not sufficient: these tests pin
the plan SHAPES that make the queries viable at scale (broadcast joins on
dims, predicate pushdown into the parquet scan, column pruning, no
row-at-a-time Python in hot paths)."""

from __future__ import annotations

from mapreduce_6_824_lab1_spark import QUERIES
from mapreduce_6_824_lab1_spark.plans.inspect import (
    formatted_plan,
    has_broadcast_hash_join,
    pushed_filters,
)
from tests.conftest import SF_DIR


def test_star_join_broadcasts_dims(spark):
    df = QUERIES["join_inner_equi"](spark, SF_DIR)
    plan = formatted_plan(df)
    # nation and region must broadcast; the orders side must not shuffle
    # for the join (only the final aggregate shuffles).
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_explicit_broadcast_join(spark):
    df = QUERIES["join_broadcast"](spark, SF_DIR)
    assert has_broadcast_hash_join(df, min_count=2)


def test_theta_join_broadcasts_band_table(spark):
    df = QUERIES["join_theta_range"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["filter_project"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "l_quantity" in pushed and "l_returnflag" in pushed, pushed


def test_column_pruning_on_scan(spark):
    df = QUERIES["topk"](spark, SF_DIR)
    plan = formatted_plan(df)
    # orders scan must read only the three projected columns
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m and "o_orderdate" not in m[0] and "o_orderpriority" not in m[0], m


def test_topk_uses_take_ordered(spark):
    df = QUERIES["topk"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_pretraining_corpus_hash_aggregates(spark):
    """Round-14: the exact-dedup stage must HASH-aggregate. The old
    min(struct(doc_id, text, …)) winner forced a SortAggregate fallback
    (struct buffers don't fit UnsafeRow's mutable layout), which sorted
    the full gated TEXT CORPUS on both sides of the exchange — at 100 TB
    that is two corpus-body sorts the algorithm never needed. Grouping by
    (digest, text) with primitive-only aggregates restores hash
    aggregation; this pins the fallback from creeping back."""
    df = QUERIES["pipeline_pretraining_corpus"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "SortAggregate" not in plan, plan


def test_jaccard_pair_gen_length_filter_in_plan(spark):
    """Round-14: the size-ratio length filter must sit INSIDE the
    pair-gen lambda (pre-shuffle, guide §2.3), visible as a filter(...)
    over the sliced posting list in the Generate node."""
    df = QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "filter(slice(" in plan, plan


def test_no_python_udf_in_relational_paths(spark):
    # Python only appears where mandated (mapInPandas in multimodal, RDD in
    # udf_mapreduce); every relational/text/window plan must stay JVM-side.
    for key in (
        "wordcount",
        "agg_hash",
        "join_inner_equi",
        "window_analytic",
        "dedup_ngram_jaccard",
        "similarity_topk",
        "text_tfidf",
        "customer_rfm",
        "basket_pair_support",
        "timeseries_ewma",
        "window_rolling_corr",
        "window_sliding_median",
        "window_time_range",
        "events_attribution",
        "join_asof_tolerance",
        "quality_gopher_filter",
        "pareto_frontier",
        "sample_weighted",
        "events_path_topk",
        "dedup_substring_ngrams",
        "partition_range_bounds",
        "timeseries_ohlc",
        "table_expectations",
        "text_vocab_coverage",
        "events_chi_square",
        "stats_benford_digits",
        "sample_reservoir",
        "pipeline_pretraining_corpus",
        "text_bm25_ranking",
        "events_max_concurrency",
        "interval_union_length",
        "agg_weighted_percentile",
        "timeseries_twap",
        "events_markov_2step",
        "mdm_survivorship",
        "set_ops_all",
        "score_tree_ensemble",
        "sample_contrastive_negatives",
        "diagnose_partition_skew",
        "estimate_join_cardinality",
        "events_forecast_baseline",
        "cohort_revenue_ltv",
        "supplier_scorecard",
        "eval_binary_classifier",
        "scalar_timezone_business_hours",
        "scalar_collation_match",
        "scalar_try_parse",
        "agg_bitmap_distinct",
        "scalar_array_quantifiers",
        "similarity_knn_graph",
        "quality_assert_gate",
        "timeseries_decay_sum",
        "join_fallback_keys",
        "hierarchy_share_rollup",
    ):
        plan = formatted_plan(QUERIES[key](spark, SF_DIR))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, key


def test_window_functions_share_one_window_node(spark):
    plan = formatted_plan(QUERIES["window_analytic"](spark, SF_DIR))
    assert plan.count("Window") - plan.count("WindowGroupLimit") <= 2, plan


def test_multimodal_uses_arrow_python(spark):
    # the one sanctioned Python path must be Arrow-batched (mapInPandas),
    # never row-at-a-time BatchEvalPython
    plan = formatted_plan(QUERIES["multimodal_features"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan


def test_gram_matrix_uses_arrow_python(spark):
    # round 6 moved the Gram fold to the sanctioned Arrow path on purpose
    # (numpy partial-Gram per task); it must stay batched, never per-row
    plan = formatted_plan(QUERIES["embedding_gram_matrix"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_bucketed_join_has_no_exchange(spark):
    # inspect the LIVE plan via the helper (the registered query collects
    # and detaches so it can clean up its scratch tables before returning)
    import shutil
    import tempfile

    from mapreduce_6_824_lab1_spark.operators.storage import (
        bucketed_join_frame,
    )

    scratch = tempfile.mkdtemp(prefix="mr_plan_bucketed_")
    try:
        df = bucketed_join_frame(spark, SF_DIR, scratch, "plantest")
        plan = formatted_plan(df)
        # bucket-aligned SMJ: the only Exchange allowed is the final agg's
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    finally:
        for name in (
            "mr_bucketed_lineitem_plantest",
            "mr_bucketed_orders_plantest",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(scratch, ignore_errors=True)


def test_partitioned_sink_prunes_partitions(spark):
    # inspect the pruned scan of the key's own write/read helper (the
    # query returns a detached frame)
    import tempfile
    from mapreduce_6_824_lab1_spark.operators.storage import (
        partitioned_sink_frame,
    )

    with tempfile.TemporaryDirectory(prefix="mr_plan_part_") as path:
        back = partitioned_sink_frame(spark, SF_DIR, path)
        plan = formatted_plan(back)
        assert "PartitionFilters" in plan and "o_year" in plan, plan


def test_q6_predicates_push_to_scan(spark):
    df = QUERIES["sql_tpch_q6"](spark, SF_DIR)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed


def test_q14_broadcasts_part(spark):
    df = QUERIES["sql_tpch_q14"](spark, SF_DIR)
    assert has_broadcast_hash_join(df, min_count=1)


def test_q4_exists_becomes_semi_join(spark):
    plan = formatted_plan(QUERIES["sql_tpch_q4"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan


def test_q22_not_exists_becomes_anti_join(spark):
    plan = formatted_plan(QUERIES["sql_tpch_q22"](spark, SF_DIR))
    assert "LeftAnti" in plan, plan


def test_dedup_embedding_single_pair_exchange(spark):
    # candidate generation must be an equi-join on the LSH cell (shuffle or
    # broadcast, never a cartesian), and the final groupBy must partial-agg
    plan = formatted_plan(QUERIES["dedup_embedding"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partial_min" in plan or "HashAggregate" in plan, plan


def test_rollup_multires_single_expand(spark):
    # both resolutions must come from ONE scan + ONE Expand + ONE aggregate
    plan = formatted_plan(QUERIES["rollup_multires"](spark, SF_DIR))
    # formatted plans list each operator twice (tree line + detail header),
    # so a single scan/expand appears at most twice
    assert 1 <= plan.count("Expand") <= 2, plan
    assert 1 <= plan.count("Scan parquet") <= 2, plan


def test_topk_batch_broadcasts_probes(spark):
    plan = formatted_plan(QUERIES["similarity_topk_batch"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pipeline_broadcasts_drop_list(spark):
    # the near-dup drop list must broadcast into the anti-join; the corpus
    # itself must never become the build side
    plan = formatted_plan(QUERIES["pipeline_training_data"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    # the eval n-gram set must be the broadcast side; the corpus must never
    # sort-merge against it (eval sets stay MB-sized at any corpus scale)
    plan = formatted_plan(QUERIES["decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack_sequences_no_global_window(spark):
    # packing windows are partitioned by (lang, source) — a single-partition
    # global window would serialize the corpus through one task
    plan = formatted_plan(QUERIES["pack_sequences"](spark, SF_DIR))
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_range_bucketed_is_equi_join(spark):
    # the bucketization rewrite must produce a hash equi-join, never the
    # nested-loop the raw range predicate would force between big sides
    plan = formatted_plan(QUERIES["join_range_bucketed"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_null_safe_join_is_hash_join(spark):
    # <=> must not degrade to a nested loop; Spark hash-joins null-safe keys
    plan = formatted_plan(QUERIES["join_null_safe"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_partition_pruned_join_has_dpp_filter(spark):
    """The fact scan must carry a dynamicpruning subquery in its partition
    filters — proof the dim filter reaches the directory listing."""
    import shutil
    import tempfile

    from mapreduce_6_824_lab1_spark.operators.storage import dpp_plan_frame

    scratch = tempfile.mkdtemp(prefix="mr_test_dpp_")
    try:
        plan = formatted_plan(dpp_plan_frame(spark, SF_DIR, scratch))
        assert "dynamicpruning" in plan.lower(), plan
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_quality_lm_score_broadcasts_vocab(spark):
    # vocabulary and corpus-total are broadcast; the word stream must never
    # sort-merge against the vocab (vocab stays MB-sized at any corpus SF)
    plan = formatted_plan(QUERIES["quality_lm_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dedup_chunks_uses_algebraic_ownership(spark):
    # ownership is min() under groupBy(chunk) — map-side combinable; a
    # row_number Window over chunk text would serialize hot chunks
    plan = formatted_plan(QUERIES["dedup_chunks"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "HashAggregate" in plan, plan


def test_mix_sources_admission_is_broadcast(spark):
    plan = formatted_plan(QUERIES["mix_sources_uniform"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_embedding_quantize_broadcasts_stats(spark):
    # 1-row stats frame must broadcast; quantize/error stays map-only
    plan = formatted_plan(QUERIES["embedding_quantize_int8"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cdc_apply_latest_single_key_partitioning(spark):
    # the merge window partitions on o_custkey; no single-partition window
    plan = formatted_plan(QUERIES["cdc_apply_latest"](spark, SF_DIR))
    assert "Window" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_bloom_filter_injected_into_fact_scan(spark):
    """Under the lowered injection gate the filtered orders side must
    build a runtime Bloom filter applied to the lineitem side
    (might_contain) — pre-shuffle row pruning on a non-partition key."""
    from mapreduce_6_824_lab1_spark.operators.storage import bloom_plan_frame

    from mapreduce_6_824_lab1_spark.operators.storage import _BLOOM_CONFS
    from mapreduce_6_824_lab1_spark.session import scoped_conf

    with scoped_conf(spark, _BLOOM_CONFS):
        plan = formatted_plan(bloom_plan_frame(spark, SF_DIR))
    assert "might_contain" in plan, plan


def test_q3_broadcasts_dims_and_pushes_filters(spark):
    # customer/orders dims broadcast against lineitem; segment + date
    # predicates reach the scans
    plan = formatted_plan(QUERIES["sql_tpch_q3"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "PushedFilters" in plan, plan


def test_q18_in_subquery_becomes_semi_join(spark):
    # the grouped IN-subquery must decorrelate to a semi join, never a
    # nested-loop re-evaluation per outer row
    plan = formatted_plan(QUERIES["sql_tpch_q18"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan


def test_q21_exists_pair_becomes_semi_and_anti(spark):
    # EXISTS → semi, NOT EXISTS → anti: both of Q21's correlated subqueries
    # must decorrelate to joins
    plan = formatted_plan(QUERIES["sql_tpch_q21"](spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_chunk_sliding_has_no_exchange(spark):
    """Sliding-window chunking must be map-only: explode+slice in one
    codegen'd stage, zero shuffles (fan_out is not applied here — chunking
    follows whatever partitioning the caller established)."""
    df = QUERIES["chunk_sliding"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan


def test_interpolate_windows_share_partitioning(spark):
    """The two carry windows (backward + forward) both partition by prio:
    exactly one Exchange may separate them (the sort direction flips), and
    the fact table contributes only its daily partial-agg shuffle — raw
    orders rows never reach a window."""
    df = QUERIES["timeseries_interpolate"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("Window") >= 1, plan
    # the grid side joins daily + dims via broadcast, not shuffle
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_mix_temperature_broadcasts_stats(spark):
    """Admission must be map-only: the per-source count table and the min
    scalar reach the documents scan via broadcast, never a shuffle of the
    documents themselves before the audit aggregate."""
    df = QUERIES["mix_sources_temperature"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_attribution_broadcasts_eval_grams(spark):
    plan = formatted_plan(
        QUERIES["decontaminate_attribution"](spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
    # the train side must never sort-merge on grams
    assert "SortMergeJoin" not in plan


def test_ohlc_is_single_aggregate_shuffle(spark):
    plan = formatted_plan(QUERIES["timeseries_ohlc"](spark, SF_DIR))
    # struct-min/max candles: exactly one exchange (the group-by; the
    # formatted plan mentions it in the tree AND the detail section),
    # no Window node, and the struct fold runs as a partial-merged
    # SortAggregate (hash agg cannot buffer struct min/max)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "(6) Exchange" in plan or plan.count("Exchange") >= 1
    assert "Window" not in plan
    assert "SortAggregate" in plan and "partial_min" in plan


def test_vocab_coverage_uses_takeordered_head(spark):
    plan = formatted_plan(QUERIES["text_vocab_coverage"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_gram_matrix_has_no_join(spark):
    # X^T X is generate + one hash aggregate — any Join means someone
    # rewrote it as the self-join form
    plan = formatted_plan(QUERIES["embedding_gram_matrix"](spark, SF_DIR))
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_char_entropy_uses_arrow_python(spark):
    # round 6 moved the per-char entropy fold to the sanctioned Arrow path
    # (single-bincount histogram per batch); it must stay batched
    plan = formatted_plan(QUERIES["text_char_entropy"](spark, SF_DIR))
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_pmi_topk_uses_takeordered_head(spark):
    # the global PMI ranking must TakeOrdered the top-20 BEFORE the
    # row_number window — a window over the full bigram vocabulary plans
    # a single-partition global sort that grows with the corpus
    plan = formatted_plan(QUERIES["text_collocations_pmi"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_streaming_fact_grain_sinks_are_file_backed(spark):
    """The round-7 sink-grain ruling, pinned as a plan shape: a
    corpus-scaled streaming result (grep matches, sessions) must come
    back as a LAZY parquet read of the file-sink output — a FileScan in
    the plan — never a driver-materialized LocalTableScan (the memory-
    sink + collect detach that OOM'd the JVM at the sf10 sweep). An
    aggregate-grade complete-mode key keeps the memory sink by the same
    ruling (its plan reads the in-memory sink table)."""
    grep_plan = formatted_plan(QUERIES["stream_grep"](spark, SF_DIR))
    assert "Scan parquet" in grep_plan, grep_plan
    assert "LocalTableScan" not in grep_plan, grep_plan

    sess_plan = formatted_plan(
        QUERIES["stream_session_stateful"](spark, SF_DIR)
    )
    assert "Scan parquet" in sess_plan, sess_plan
    assert "LocalTableScan" not in sess_plan, sess_plan

    # counter-case: domain-bounded complete-mode aggregate stays on the
    # memory sink (driver-held is CORRECT for type-grain cardinality)
    tumb_plan = formatted_plan(QUERIES["stream_tumbling"](spark, SF_DIR))
    assert "Scan parquet" not in tumb_plan, tumb_plan

    # event-grain foreachBatch enrichment: the result comes home as a
    # lazy read of the per-batch parquet output (round-8 conversion off
    # the driver collect — the last key that escaped the ruling)
    asof_plan = formatted_plan(QUERIES["stream_asof_enrich"](spark, SF_DIR))
    assert "Scan parquet" in asof_plan, asof_plan
    assert "LocalTableScan" not in asof_plan, asof_plan


# Sink-grain ruling as a LINT (round-8 verdict ask #7): a doc ruling alone
# let stream_asof_enrich keep a corpus-grain driver collect for a round —
# this walks every registered streaming/source key's own source text for a
# `.collect()` detach and allows it ONLY on keys whose result grain is
# declared bounded below. Adding a collect to a new streaming key without
# declaring (and justifying) its grain fails this test.
_DECLARED_BOUNDED_GRAIN_COLLECT = {
    # jobs.py — audited round 7 (VERDICT.md "What's wrong"): each collect
    # detaches a groupBy over a bounded domain, not a corpus-scaled result.
    "stream_foreach_batch",       # per-batch audit rows: O(batches)
    "stream_rate_limited",        # per-micro-batch counts: O(batches)
    "stream_restart_exactly_once",  # type-grain counts + a bounded
                                    # distinct-years driver loop
    "stream_cdc_apply",           # year-grain audit + distinct-years loop
    "stream_update_mode",         # group×batch emissions: hour-domain ×
                                  # 4 staged batches, domain-bounded
    # sources — aggregate/partition-grain audits (5 rows/lang, file-grain)
    "source_roundtrip_csv",
    "source_roundtrip_json",
    "source_roundtrip_orc",
    "source_roundtrip_text",
    "source_roundtrip_xml",
    "source_schema_evolution",
    "source_corrupt_records",
    "source_corrupt_json",
    "source_binaryfile",
    "sink_dynamic_partition_overwrite",
    "sink_codec_roundtrip",
    "source_python_stream",
}


def test_streaming_collects_only_on_declared_bounded_grain():
    """AST-based, not substring: docstrings/comments mentioning collect()
    cannot false-positive, only actual `.collect()/.toPandas()/
    .toLocalIterator()` CALL nodes count. Scope limit (deliberate): the
    lint walks each KEY's own function body; shared helpers
    (_run_session_stream, _run_to_parquet) are audited once at the
    ruling site, not per key. The allowlist must stay live — a renamed
    or deleted key in it fails the test."""
    import ast
    import inspect
    import textwrap

    stale = _DECLARED_BOUNDED_GRAIN_COLLECT - set(QUERIES)
    assert not stale, f"allowlist entries for unregistered keys: {stale}"

    detach_names = {"collect", "toPandas", "toLocalIterator"}
    offenders = {}
    unsourceable = {}
    for key, fn in QUERIES.items():
        mod = inspect.getmodule(fn)
        name = getattr(mod, "__name__", "")
        if not name.startswith("mapreduce_6_824_lab1_spark"):
            # a registration that doesn't resolve to a package module
            # (functools.partial resolves to `functools`, a C callable or
            # module-less wrapper to nothing) would bypass the
            # `.streaming./.sources.` scope filter entirely — flag it
            # rather than silently exempting it from the ruling
            unsourceable[key] = (
                f"module {name!r} outside the package — register a "
                "plain package-defined function"
            )
            continue
        if ".streaming." not in name and ".sources." not in name:
            continue
        try:
            tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        except (OSError, TypeError, SyntaxError) as exc:
            # a key whose source can't be read (wrapper decorator,
            # functools.partial registration, …) would silently drop out
            # of the lint — surface it instead of narrowing coverage
            # (round-8 ADVICE row 3)
            unsourceable[key] = repr(exc)
            continue
        calls = {
            node.func.attr
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
        }
        if calls & detach_names and key not in (
            _DECLARED_BOUNDED_GRAIN_COLLECT
        ):
            offenders[key] = name
    assert not unsourceable, (
        f"sink-grain lint could not read the source of registered "
        f"streaming/source keys: {unsourceable} — register plain "
        f"functions (or extend the lint to unwrap), don't let keys "
        f"silently fall out of the ruling's coverage"
    )
    assert not offenders, (
        f"driver detach on undeclared grain (sink-grain ruling, "
        f"jobs.py:92): {offenders} — corpus-scaled results must drain "
        f"through _run_to_parquet / a lazy file-sink read; if the grain "
        f"is genuinely bounded, declare it in "
        f"_DECLARED_BOUNDED_GRAIN_COLLECT with a justification"
    )
