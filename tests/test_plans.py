"""Physical-plan regression tests: the properties that decide 100 TB
viability, pinned at the smallest SF. A green result here means Catalyst
produced the plan we designed for, not merely a correct one."""

from __future__ import annotations

import pytest

from etl_airflow_spotify_spark.plans import (has_broadcast_hash_join,
                                             has_cartesian_product,
                                             num_exchanges, num_nodes,
                                             plan_string, pushed_filters,
                                             read_schemas)
from etl_airflow_spotify_spark.registry import all_queries

SPECS = all_queries()


def _df(name, spark, sf_dir):
    return SPECS[name].spark_fn(spark, sf_dir)


def test_filter_battery_pushdown_and_pruning(spark, sf_dir):
    df = _df("filter_battery", spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    # compound predicate reached the parquet scan
    assert "l_extendedprice" in pf and "l_quantity" in pf
    assert "IsNotNull" in pf
    # column pruning: the scan reads only the referenced columns
    (schema,) = read_schemas(df)
    assert "l_partkey" not in schema and "l_shipdate" not in schema
    assert "l_quantity" in schema


def test_pricing_summary_partial_aggregation(spark, sf_dir):
    df = _df("pricing_summary", spark, sf_dir)
    # partial+final hash aggregate around exactly one shuffle
    assert num_nodes(df, "HashAggregate") == 2
    assert num_exchanges(df) == 1
    # the shipdate filter is pushed to the scan
    assert "l_shipdate" in " ".join(pushed_filters(df))


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = _df("revenue_by_region", spark, sf_dir)
    plan = plan_string(df)
    assert has_broadcast_hash_join(df)
    # nation and region must not shuffle the fact side: no sort-merge
    # join anywhere in this star query at these dim sizes
    assert "SortMergeJoin" not in plan


def test_topk_window_single_shuffle(spark, sf_dir):
    df = _df("top_orders_per_customer", spark, sf_dir)
    # one hash-partitioning exchange on the group key feeds the window
    assert num_exchanges(df) == 1


def test_minhash_no_cartesian_product(spark, sf_dir):
    df = _df("near_dup_minhash", spark, sf_dir)
    assert not has_cartesian_product(df)


def test_exact_dedup_prunes_scan(spark, sf_dir):
    df = _df("dedup_first_event", spark, sf_dir)
    (schema,) = read_schemas(df)
    # props/value are not read for the dedup projection
    assert "props" not in schema and "value" not in schema


@pytest.mark.parametrize("name", ["join_left", "top_revenue_orders",
                                  "segment_stats"])
def test_no_cartesian_anywhere(name, spark, sf_dir):
    assert not has_cartesian_product(_df(name, spark, sf_dir))


def test_exists_subquery_becomes_semi_join(spark, sf_dir):
    df = _df("late_ship_priority", spark, sf_dir)
    plan = plan_string(df)
    # Catalyst decorrelates EXISTS into a semi join, never a subquery loop
    assert "LeftSemi" in plan or "ExistenceJoin" in plan
    # the order-date range predicate reaches the orders scan
    assert "o_orderdate" in " ".join(pushed_filters(df))


def test_not_exists_becomes_anti_join(spark, sf_dir):
    df = _df("rich_idle_customers", spark, sf_dir)
    assert "LeftAnti" in plan_string(df)


def test_ivf_no_cartesian_and_broadcast_probe(spark, sf_dir):
    # IVF replaces the exact path's product join with an equi-join on
    # cell: no cartesian product, probe side broadcast
    df = _df("vector_topk_ivf", spark, sf_dir)
    assert not has_cartesian_product(df)
    assert has_broadcast_hash_join(df)


def test_trailing_window_single_shuffle(spark, sf_dir):
    df = _df("events_trailing_window", spark, sf_dir)
    # RANGE frame = one hash exchange on user_id, no self-join
    assert num_exchanges(df) == 1
    assert "Join" not in plan_string(df)


def test_ivf_persisted_search_partition_prunes(spark, sf_dir):
    # the persisted-index search must plan only the probed cell
    # directories: the isin filter lands in PartitionFilters on the
    # index scan, not as a post-scan Filter over all cells
    df = _df("vector_topk_ivf_persisted", spark, sf_dir)
    plan = plan_string(df)
    import re
    pf = re.findall(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan)
    assert pf, f"no cell partition filter in scan:\n{plan[:2000]}"


def test_not_in_is_null_aware_anti_join(spark, sf_dir):
    # NOT IN must land as a single-column null-aware BroadcastHashJoin
    # LeftAnti (the supplier exclusion list is dimension-sized at any
    # SF) — never a BroadcastNestedLoopJoin, which is quadratic
    df = _df("part_supplier_variety", spark, sf_dir)
    plan = plan_string(df)
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan
    assert not has_cartesian_product(df)


def test_double_correlated_exists_decorrelates(spark, sf_dir):
    # both correlated subqueries decorrelate to hash semi/anti joins on
    # l_orderkey — co-partitioned self-joins at scale, no re-execution
    # per outer row
    df = _df("sole_fault_suppliers", spark, sf_dir)
    plan = plan_string(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "NestedLoop" not in plan and not has_cartesian_product(df)


def test_in_grouped_having_semi_join(spark, sf_dir):
    # the IN (... GROUP BY ... HAVING) probe becomes a semi join against
    # the AGGREGATED per-order rows, not against raw lineitem
    df = _df("big_volume_orders", spark, sf_dir)
    plan = plan_string(df)
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_bucketed_join_zero_exchange(spark, sf_dir):
    # both sides bucketed+sorted on the join key -> sort-merge join AND
    # the per-order aggregate plan with NO Exchange anywhere: the
    # catalog proves co-partitioning. This is the plan property that
    # deletes the shuffle stage at 100 TB.
    df = _df("bucketed_zero_shuffle_join", spark, sf_dir)
    assert num_exchanges(df) == 0
    plan = plan_string(df)
    assert "SortMergeJoin" in plan


def test_salted_join_no_plain_key_shuffle(spark, sf_dir):
    # the join key must be the composite (key, salt) — a shuffle on the
    # bare hot key would defeat the whole point
    df = _df("skew_salted_join", spark, sf_dir)
    plan = plan_string(df)
    assert "_salt" in plan


def test_interval_overlap_join_is_equi_bucketed(spark, sf_dir):
    # the overlap predicate alone would plan BroadcastNestedLoopJoin;
    # month-bucketing must turn it into a hash equi-join on
    # (custkey, bucket) with the exact predicate as a residual
    df = _df("concurrent_orders", spark, sf_dir)
    plan = plan_string(df)
    assert "NestedLoop" not in plan
    assert not has_cartesian_product(df)
    assert "bucket" in plan


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The benchmark/eval n-gram side is MBs against TBs of training
    docs: it must broadcast, never shuffle the training explode."""
    df = _df("decontaminate_ngram", spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_cartesian_product(df)


def test_countmin_sketch_broadcast_and_partial_agg(spark, sf_dir):
    """Sketch build collapses via map-side partial aggregation; the
    depth*width sketch broadcasts to the probe join."""
    df = _df("countmin_heavy_hitters", spark, sf_dir)
    plan = plan_string(df)
    assert has_broadcast_hash_join(df)
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_packing_single_exchange(spark, sf_dir):
    """One hash exchange on the shard key serves both the running-total
    window and the per-shard aggregate — parallelism == shard count,
    independent of corpus size."""
    df = _df("sequence_packing", spark, sf_dir)
    assert num_exchanges(df) == 1


def test_stratified_mix_filters_before_shuffle(spark, sf_dir):
    """Membership is a scan predicate: exactly the stats aggregation's
    exchange, nothing upstream."""
    df = _df("stratified_corpus_mix", spark, sf_dir)
    assert num_exchanges(df) == 1
    assert not has_cartesian_product(df)


def test_ivfpq_persisted_prunes_codes_and_pushes_id_fetch(spark, sf_dir):
    """The IVF-PQ serving layout must (a) partition-prune the CODES
    scan to the probed cells and (b) push the candidate-id filter into
    the vectors scan (the point-lookup fetch) — the two properties that
    make the layout a memory-bandwidth win at scale."""
    df = _df("vector_topk_ivfpq_persisted", spark, sf_dir)
    plan = plan_string(df)
    import re
    assert re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*\]", plan), \
        "codes scan is not partition-pruned to probed cells"
    assert re.search(r"PushedFilters: \[[^\]]*[Ii]n\(cand_id[^\]]*\]", plan), \
        "candidate-id fetch filter not pushed to the vectors scan"


def test_funnel_single_shuffle(spark, sf_dir):
    """The funnel's whole point: sorted-array fold = ONE exchange on
    user_id for the entire multi-stage state machine (the relational
    formulation would shuffle once per stage)."""
    df = _df("funnel_view_click_purchase", spark, sf_dir)
    assert num_exchanges(df) == 1
    assert not has_cartesian_product(df)


def test_zorder_probe_prunes_and_partial_aggs(spark, sf_dir):
    from etl_airflow_spotify_spark.queries.scale import (build_zorder_layout,
                                                         zorder_probe)

    build_zorder_layout(spark, sf_dir)
    df = zorder_probe(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "l_partkey" in pf and "l_suppkey" in pf
    # scan reads only the probe's columns
    (schema,) = read_schemas(df)
    assert "l_orderkey" not in schema
    assert num_nodes(df, "HashAggregate") == 2  # partial + final


def test_ivm_partials_are_map_side_combined(spark, sf_dir):
    """Each IVM slice must plan partial+final aggregates (map-side
    combine) — the property that keeps per-batch shuffle volume at
    group count, not row count. 4 slices + 4 merges, each pair
    2 HashAggregates; the final projection adds none."""
    df = _df("ivm_signed_aggregate", spark, sf_dir)
    assert num_nodes(df, "HashAggregate") >= 8
    assert not has_cartesian_product(df)


def test_snapshot_diff_is_change_sized(spark, sf_dir):
    """snapshot_diff must emit only changed rows (its 100 TB contract:
    diff output is change-sized, not table-sized) and plan without a
    cartesian product."""
    import pyspark.sql.functions as F

    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators.cdc import snapshot_diff

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal")
    # new version: one key changed, one deleted, one added
    changed = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") == 1, F.col("c_acctbal") + 1)
        .otherwise(F.col("c_acctbal"))).filter(F.col("c_custkey") != 2)
    added = cust.filter(F.col("c_custkey") == 3).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        "c_name", "c_acctbal")
    new = changed.unionByName(added)
    d = snapshot_diff(cust, new, "c_custkey")
    assert not has_cartesian_product(d)
    rows = {r["change_type"]: r["c_custkey"] for r in d.collect()}
    assert rows == {"changed": 1, "deleted": 2, "added": 1_000_003}


def test_fuzzy_linkage_no_cartesian(spark, sf_dir):
    """X33: every blocking pass must candidate-join on the block key —
    an unblocked similarity join would be a cartesian product."""
    df = _df("fuzzy_name_pairs", spark, sf_dir)
    assert not has_cartesian_product(df)


def test_nearest_centroid_scoring_is_broadcast(spark, sf_dir):
    """X35: the vector scan must meet the k centroids via a broadcast
    (map-only scoring); a shuffle join per (vector, dim) row would move
    N x dim rows at corpus scale."""
    df = _df("nearest_centroid_confusion", spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert not has_cartesian_product(df)


def test_repetition_filter_single_wide_agg(spark, sf_dir):
    """X34: the word histogram is a sorted fold over each document's own
    tokens and the bigram stats are per-row array ops, so the plan is a
    map: no explode, no aggregate, no join back, no cartesian."""
    df = _df("repetition_filter", spark, sf_dir)
    assert not has_cartesian_product(df)
    assert num_nodes(df, "Generate") == 0
    assert num_nodes(df, "HashAggregate") == 0


def test_equidepth_histogram_no_global_sort(spark, sf_dir):
    """The equi-depth histogram must assign buckets via broadcast
    boundaries, never a whole-table window sort (one-reducer killer)."""
    df = _df("equidepth_price_histogram", spark, sf_dir)
    plan = plan_string(df)
    assert "Window" not in plan, "ntile/window formulation leaked in"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert not has_cartesian_product(df)


def test_word_entropy_single_exchange_chain(spark, sf_dir):
    """Entropy is a sorted fold over each document's own tokens: no
    explode, no (doc, word) or doc aggregate, no cartesian."""
    df = _df("word_entropy", spark, sf_dir)
    assert not has_cartesian_product(df)
    assert num_nodes(df, "Generate") == 0
    assert num_nodes(df, "HashAggregate") == 0


def test_dpp_partitioned_join_prunes_at_runtime(spark, sf_dir):
    """X38: the partitioned-fact join must plan a dynamicpruning
    subquery on the partition column — without it every partition
    directory of a 100 TB fact is scanned."""
    from etl_airflow_spotify_spark.queries.scale import dpp_partitioned_join

    df = dpp_partitioned_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_hierarchy_rollup_no_cartesian(spark, sf_dir):
    """X37: each recursion step must be a hash join of the frontier
    against the base table."""
    df = _df("hierarchy_rollup", spark, sf_dir)
    assert not has_cartesian_product(df)


def test_triangle_count_no_cartesian(spark, sf_dir):
    """X39: the oriented-wedge triangle count must be pure hash joins."""
    df = _df("fuzzy_cluster_triangles", spark, sf_dir)
    assert not has_cartesian_product(df)


def _v2_distributed(spark, sf_dir, monkeypatch):
    """``training_data_prep_v2``'s distributed plan: the test tables fit
    its driver finish, so the gate is set below any corpus."""
    import etl_airflow_spotify_spark.queries.curation as Q

    monkeypatch.setattr(Q, "V2_LOCAL_TEXT_BYTES_MAX", -1)
    return _df("training_data_prep_v2", spark, sf_dir)


def test_training_prep_v2_no_cartesian(spark, sf_dir, monkeypatch):
    """The composed curation pipeline must stay all-hash-join. Its gate
    signals are row-local folds, so the only explodes are the two
    n-gram sides of the contamination join."""
    df = _v2_distributed(spark, sf_dir, monkeypatch)
    assert not has_cartesian_product(df)
    assert num_nodes(df, "Generate") == 2


def test_training_prep_v2_ngrams_read_the_cache_unshuffled(spark, sf_dir,
                                                           monkeypatch):
    """Both n-gram explodes read the cached document frame, which
    ``_text_docs`` already hash-partitioned by doc_id. The initial plan
    still holds ``spread``'s REPARTITION_BY_NUM exchange above the
    train side's InMemoryTableScan; the executed plan must not, or every
    call re-shuffles the whole training text."""
    df = _v2_distributed(spark, sf_dir, monkeypatch)
    df.collect()
    lines = (df._jdf.queryExecution().executedPlan().executedPlan()
             .toString().splitlines())
    explodes = [i for i, line in enumerate(lines) if "Generate" in line]
    assert len(explodes) == 2
    for i in explodes:
        scan = next(j for j in range(i, len(lines))
                    if "InMemoryTableScan" in lines[j])
        assert not any("Exchange" in line for line in lines[i:scan]), \
            "\n".join(lines[i:scan + 1])


def test_ngram_contamination_tokenizes_once(spark, sf_dir):
    """The n-gram lambda reads a projected token column: an inlined split
    would re-tokenize the whole text once per n-gram."""
    df = _df("decontaminate_ngram", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    explodes = [line for line in plan.splitlines() if "Generate" in line]
    assert len(explodes) == 2
    assert not any("split(" in line for line in explodes)


def test_twap_single_exchange(spark, sf_dir):
    """TWAP's docstring claims ONE shuffle: the lead window partitions
    by user and the aggregate reuses that partitioning."""
    df = _df("twap_user_value", spark, sf_dir)
    assert num_exchanges(df) == 1


def test_weighted_median_no_full_table_window(spark, sf_dir):
    """The weighted median must never window-sort the raw fact table
    partitioned by the 3-value l_returnflag (3 tasks would sort
    everything at scale). Every Window in the plan must sit above an
    aggregate (the bucket histogram) or a broadcast join (the
    crossing-bucket filter) on its path to the scan."""
    from etl_airflow_spotify_spark.plans import scan_paths

    df = _df("weighted_median_price", spark, sf_dir)
    paths = scan_paths(df)
    assert paths, "no scan found in plan"
    windowed = 0
    for path in paths:
        widx = [i for i, label in enumerate(path)
                if label.startswith("Window")]
        if not widx:
            continue
        windowed += 1
        below = path[max(widx) + 1:]
        assert any(label.startswith(("HashAggregate", "SortAggregate",
                                     "ObjectHashAggregate",
                                     "BroadcastHashJoin"))
                   for label in below), (
            f"Window directly over the raw scan: {path}")
    assert windowed, "expected at least one windowed scan path"


def test_global_topk_uses_heap_merge_not_sort(spark, sf_dir):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition
    heaps, driver merges P x N rows) — a global Sort would serialize
    the table through one reducer at scale."""
    df = _df("global_topk_orders", spark, sf_dir)
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan
    assert num_nodes(df, "Sort") == 0


def test_bm25_prunes_explode_and_heap_merges(spark, sf_dir):
    """BM25: the query-term IN predicate must filter the exploded
    tokens before any shuffle, idf/stats must broadcast, and the final
    top-N must be TakeOrderedAndProject."""
    df = _df("bm25_relevance", spark, sf_dir)
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan
    assert has_broadcast_hash_join(df)
    assert not has_cartesian_product(df)


def test_cooccurrence_pmi_no_cartesian(spark, sf_dir):
    """PMI: unigram/bigram aggregates + word-keyed joins; the two
    scalar totals ride broadcast nested-loop single-row joins, never a
    CartesianProduct."""
    df = _df("cooccurrence_pmi", spark, sf_dir)
    assert not has_cartesian_product(df)


def test_range_search_broadcasts_queries(spark, sf_dir):
    """Range search: the query side must broadcast; corpus side stays
    a scan (no shuffle of the big side, no window)."""
    df = _df("vector_range_search", spark, sf_dir)
    plan = plan_string(df)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# ---- round 3 additions: X42-X50 ----------------------------------------


def test_pagerank_no_cartesian_and_bounded_plan(spark, sf_dir):
    df = _df("part_pagerank", spark, sf_dir)
    plan = plan_string(df)
    assert not has_cartesian_product(df)
    # the persisted edge frame is reused by every iteration
    assert "InMemoryTableScan" in plan


def test_part_skyline_windows_stay_bucket_partitioned(spark, sf_dir):
    df = _df("part_skyline", spark, sf_dir)
    plan = plan_string(df)
    # the two big-side windows partition by bucket / price_c; the only
    # unpartitioned window runs on the per-bucket aggregate (tiny).
    # Assert: every Window node over the part scan partitions by
    # something — i.e. no "Window [...], [price_c ASC" without a
    # partition spec feeding from the full table. Cheap proxy: the
    # carry side is broadcast, so the full-table side never sorts
    # globally (no Exchange SinglePartition above the part scan).
    assert plan.count("SinglePartition") <= 1  # only the bucket prefix
    assert has_broadcast_hash_join(df)


def test_data_quality_audit_single_wide_aggregate(spark, sf_dir):
    df = _df("data_quality_audit", spark, sf_dir)
    # one scan of lineitem, one of orders — no re-reads per check
    assert len(read_schemas(df)) == 2


def test_sft_assembly_is_map_only(spark, sf_dir):
    df = _df("sft_example_assembly", spark, sf_dir)
    assert num_exchanges(df) == 0  # pure projection: no shuffle at all


def test_event_anomaly_windows_on_aggregated_days(spark, sf_dir):
    df = _df("event_anomaly_days", spark, sf_dir)
    plan = plan_string(df)
    # the day-keyed aggregate runs BELOW the global-order window: the
    # window's single partition only ever sees |days| rows
    agg_pos = plan.find("date_trunc")
    assert agg_pos != -1
    assert num_nodes(df, "Window") >= 1


def test_boilerplate_anti_join_unhinted(spark, sf_dir):
    # the boilerplate set is frequency-thresholded but unbounded at
    # corpus scale: the anti join carries NO broadcast hint, so the
    # planner downgrades to a shuffle join whenever stats outgrow the
    # threshold (at this SF it rightly picks broadcast — that's fine)
    df = _df("boilerplate_removal", spark, sf_dir)
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    assert not has_cartesian_product(df)


def test_ab_test_single_user_aggregate(spark, sf_dir):
    df = _df("ab_test_cuped", spark, sf_dir)
    # one scan of events feeds everything (user agg -> scalar math)
    assert len(read_schemas(df)) == 1
    assert not has_cartesian_product(df)


def test_pointintime_join_no_cartesian(spark, sf_dir):
    df = _df("orders_pointintime_dim", spark, sf_dir)
    # interval containment rides the custkey equi-join as a residual
    # predicate — never a cartesian/nested-loop over the fact table
    assert not has_cartesian_product(df)


def test_cluster_quality_broadcasts_centroids(spark, sf_dir):
    df = _df("cluster_quality_metrics", spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_cartesian_product(df)


def test_association_rules_prunes_before_rule_join(spark, sf_dir):
    df = _df("association_rules", spark, sf_dir)
    plan = plan_string(df)
    # the support threshold filters the pair aggregate BEFORE the item
    # joins (a Filter on sup_ab/count sits under the rule join)
    assert "sup_ab" in plan
    assert not has_cartesian_product(df)


def test_split_leakage_labels_are_map_only(spark, sf_dir):
    # split labels derive from the pair ids by md5 — the plan must not
    # join back to documents to fetch them (one extra corpus join per
    # label would double the heavy side at scale)
    df = _df("split_leakage_audit", spark, sf_dir)
    assert not has_cartesian_product(df)
    plan = plan_string(df)
    # exactly the dedup pipeline's scans of documents; no extra scan
    # for the split labels
    assert plan.count("documents.parquet") <= 2


def test_semantic_dedup_no_cartesian_and_no_forced_broadcast(spark, sf_dir):
    df = _df("semantic_dedup_clusters", spark, sf_dir)
    assert not has_cartesian_product(df)
    # r3 advisor: cluster count scales with the corpus's near-dup
    # volume, so the size lookup must NOT carry a broadcast HINT (a
    # driver-OOM risk at corpus scale); AQE may still elect a broadcast
    # at runtime when the table is actually small, so the assertion is
    # on the logical plan's hints, not the physical join choice.
    from pyspark.sql.functions import broadcast  # noqa: F401 (doc only)
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical
    assert "hint" not in logical.lower() or "broadcast" not in logical.lower()


def test_bigram_lm_single_corpus_model_no_cartesian(spark, sf_dir):
    df = _df("bigram_lm_perplexity", spark, sf_dir)
    plan = plan_string(df)
    # the vocab-size scalar enters via broadcast, not a shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_source_overlap_distinct_before_self_join(spark, sf_dir):
    df = _df("source_overlap_matrix", spark, sf_dir)
    assert not has_cartesian_product(df)
    plan = plan_string(df)
    # per-source set sizes broadcast onto the pair counts
    assert has_broadcast_hash_join(df)
    # the self-join runs on the persisted distinct frame, not on two
    # recomputations of the shingle pipeline
    assert plan.count("InMemoryTableScan") >= 2


def test_k_anonymity_single_rollup_pass(spark, sf_dir):
    # the three generalization levels must come from ONE Expand-based
    # rollup over customer, not three separate scans
    df = _df("k_anonymity_generalization", spark, sf_dir)
    plan = plan_string(df)
    # one corpus scan; coarser levels fold as window sums over the
    # group-cardinality table — no Expand, no second scan, no join
    assert plan.count("customer.parquet") == 1
    assert "Expand" not in plan
    assert "Join" not in plan


def test_attribution_no_cartesian_bounded_fanout(spark, sf_dir):
    df = _df("attribution_multitouch", spark, sf_dir)
    assert not has_cartesian_product(df)
    # the time band is a residual on the user equi-join, so the join
    # itself must be a hash/sort-merge join on user_id, not a BNLJ
    assert "BroadcastNestedLoopJoin" not in plan_string(df)


def test_corr_matrix_one_wide_aggregate(spark, sf_dir):
    df = _df("lineitem_corr_matrix", spark, sf_dir)
    # partial+final pair around a single-row exchange; one lineitem scan
    plan = plan_string(df)
    assert plan.count("lineitem.parquet") == 1
    assert num_exchanges(df) == 1


def test_sq4_stats_broadcast_map_only_quantize(spark, sf_dir):
    df = _df("sq4_recall_at_k", spark, sf_dir)
    plan = plan_string(df)
    # the per-dim stats row reaches the corpus as a broadcast
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert not has_cartesian_product(df)


def test_epsilon_join_no_cartesian_product(spark, sf_dir):
    """X104 must join on grid-cell keys, never a nested-loop over the
    full theta predicate. The single allowed nested-loop is the 1-row
    corpus-min scalar broadcast; neighbor offsets are explodes, not
    joins."""
    from etl_airflow_spotify_spark.plans import num_nodes
    df = _df("event_epsilon_pairs", spark, sf_dir)
    assert not has_cartesian_product(df)
    plan = plan_string(df)
    # the min-scalar broadcast appears on both sides of the persisted
    # cell frame; the cell join itself must be a hash join
    assert num_nodes(df, "BroadcastNestedLoopJoin") <= 2
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_pooled_topk_no_cartesian_product(spark, sf_dir):
    """X105 retrieval is a position-keyed matmul join, not a pairwise
    vector crossJoin."""
    df = _df("pooled_doc_topk", spark, sf_dir)
    assert not has_cartesian_product(df)
    assert "BroadcastNestedLoopJoin" not in plan_string(df)


def test_bootstrap_single_scan_partial_aggregation(spark, sf_dir):
    """X103: the replicate fold must partial-aggregate map-side (the
    shuffle carries 64 groups, not 64x rows)."""
    df = _df("bootstrap_ci_mean", spark, sf_dir)
    plan = plan_string(df)
    # partial + final aggregate pairs exist (HashAggregate x2 around
    # the replicate groupBy); no md5 inside the explode fan-out
    assert "HashAggregate" in plan
    assert plan.count("md5") <= 2  # one per point/replicate scan branch


def test_incremental_dedup_probe_is_increment_sided(spark, sf_dir):
    """X101's candidate join probes the corpus with the NEW side only —
    no corpus-vs-corpus self-join."""
    df = _df("incremental_corpus_dedup", spark, sf_dir)
    assert not has_cartesian_product(df)


# ---- round 5: the five most expensive bench queries (r4 verdict 6) ----

def _percolation_edges_df(spark, sf_dir):
    import pyspark.sql.functions as F
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators import graph as G
    from etl_airflow_spotify_spark.queries.graph import (
        percolation_scenario_edges)
    li = load_table(spark, sf_dir, "lineitem")
    e0 = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    deg = e0.groupBy(F.col("src").alias("node")) \
        .agg(F.count("*").alias("d"))
    rm = deg.orderBy(F.desc("d"), F.asc("node")).limit(10).select("node")
    return percolation_scenario_edges(e0, rm)


def test_percolation_removal_is_anti_join_not_literal_list(spark, sf_dir):
    """X157 (r4 verdict item 3): removal sets must reach the plan as
    LEFT ANTI joins against a distributed frame — at 100 TB the top-1%
    hub set is millions of nodes, so a collected isin() list would
    inline them all as plan literals (INSET)."""
    df = _percolation_edges_df(spark, sf_dir)
    plan = plan_string(df)
    # one anti join per endpoint; the formatted plan lists each node
    # in both the tree and the detail section (and Catalyst may push
    # the anti join below the pair-generating join, one per branch)
    assert plan.count("LeftAnti") >= 2
    assert "INSET" not in plan and " IN (" not in plan
    assert not has_cartesian_product(df)


def test_boruvka_round_pick_single_window(spark, sf_dir):
    """X161: one Boruvka round's per-component argmin is exactly one
    ranking window (two label hash joins feed it) — never a
    min-subquery rejoin or a per-component loop."""
    import pyspark.sql.functions as F
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators import graph as G
    from etl_airflow_spotify_spark.queries.graph import boruvka_min_edges
    li = load_table(spark, sf_dir, "lineitem")
    e0 = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    eu = (e0.filter(F.col("src") < F.col("dst"))
          .select(F.col("src").alias("lo"), F.col("dst").alias("hi"),
                  (F.lit(1) + (F.col("src") + F.col("dst")) % 7)
                  .cast("long").alias("w")))
    ed = (eu.select(F.col("lo").alias("u"), F.col("hi").alias("v"),
                    "w", "lo", "hi")
          .unionByName(eu.select(F.col("hi").alias("u"),
                                 F.col("lo").alias("v"),
                                 "w", "lo", "hi")))
    lab = (ed.select(F.col("u").alias("node")).distinct()
           .withColumn("lab", F.col("node")))
    df = boruvka_min_edges(ed, lab)
    from etl_airflow_spotify_spark.plans import num_nodes
    assert num_nodes(df, "Window") == 1
    assert not has_cartesian_product(df)


def test_dbscan_no_cartesian_product(spark, sf_dir):
    """X162: candidate pairs come from the integer grid's 3x3 probe
    join, never an all-pairs product (the quadratic lives only in the
    DuckDB oracle)."""
    assert not has_cartesian_product(_df("dbscan_rfm_segments",
                                         spark, sf_dir))


def test_deepwalk_no_cartesian_product(spark, sf_dir):
    """X193: each hop is a hash join against the sorted neighbor
    index; walk state never cross-joins the graph."""
    assert not has_cartesian_product(_df("deepwalk_corpus",
                                         spark, sf_dir))


def test_bagged_stump_forest_broadcast_only_fanout(spark, sf_dir):
    """X142: the only nested-loop joins are crossJoin(broadcast(...))
    against tiny constant frames (bag list, OOB row) — no
    CartesianProduct over data-sized inputs."""
    df = _df("bagged_stump_forest", spark, sf_dir)
    assert not has_cartesian_product(df)


def test_lof_no_cartesian_product(spark, sf_dir):
    """X214: LOF candidates come from the grid probe, never an
    all-pairs product (the quadratic lives only in the oracle)."""
    assert not has_cartesian_product(_df("lof_rfm_outliers",
                                         spark, sf_dir))


def test_ktruss_round_no_cartesian(spark, sf_dir):
    """X225: the triangle enumeration is the adjacency-intersect shape
    (r7 re-plan); no cartesian product anywhere in the trajectory."""
    assert not has_cartesian_product(_df("ktruss_peeling_profile",
                                         spark, sf_dir))


def _ktruss_enumeration_inputs(spark, sf_dir):
    import pyspark.sql.functions as F
    from etl_airflow_spotify_spark.catalog import load_table
    from etl_airflow_spotify_spark.operators import graph as G

    li = load_table(spark, sf_dir, "lineitem")
    e = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    eu = (e.filter(F.col("src") < F.col("dst"))
          .select(F.col("src").alias("lo"), F.col("dst").alias("hi")))
    deg = (eu.select(F.col("lo").alias("n"))
           .unionByName(eu.select(F.col("hi").alias("n")))
           .groupBy("n").agg(F.count("*").cast("long").alias("d")))
    return eu, deg


def test_ktruss_enumeration_is_broadcast_intersect(spark, sf_dir):
    """X225 round-1 inner plan, small-graph branch: triangles close
    via array_intersect against BROADCAST neighbor arrays — broadcast
    joins present, no cartesian, no join keyed on the wedge fan-out."""
    from etl_airflow_spotify_spark.queries.graph import \
        _ktruss_round1_triangles

    eu, deg = _ktruss_enumeration_inputs(spark, sf_dir)
    tri = _ktruss_round1_triangles(eu, deg, n_edges=1)
    plan = plan_string(tri)
    assert not has_cartesian_product(tri)
    assert "BroadcastHashJoin" in plan
    assert "array_intersect" in plan
    # Below the gate the broadcasts are intentional hard hints (deg
    # orientation + adjacency arrays); the exact count in the analyzed
    # tree string is repetition-sensitive, so assert presence only.
    from etl_airflow_spotify_spark.plans import num_broadcast_hints
    assert num_broadcast_hints(tri) > 0


def test_ktruss_enumeration_scale_fallback_is_wedge_join(spark, sf_dir):
    """X225 round-1 inner plan, big-graph branch (r7 verdict item 3):
    above KTRUSS_BCAST_EDGE_MAX the enumeration must NOT broadcast
    anything graph-sized — the degree-oriented wedge join closes
    triangles by equi-join, no cartesian, no neighbor-array build."""
    from etl_airflow_spotify_spark.queries.graph import (
        KTRUSS_BCAST_EDGE_MAX, _ktruss_round1_triangles)

    eu, deg = _ktruss_enumeration_inputs(spark, sf_dir)
    tri = _ktruss_round1_triangles(eu, deg,
                                   n_edges=KTRUSS_BCAST_EDGE_MAX + 1)
    plan = plan_string(tri)
    assert not has_cartesian_product(tri)
    assert "array_intersect" not in plan
    assert "collect_list" not in plan
    # r8 ADVICE: the degree-orientation pre-stage must not hard-hint a
    # broadcast of deg either — above the gate NOTHING graph-sized
    # (adjacency OR the |V|-row degree table) carries a forced
    # broadcast; AQE picks the strategy from runtime sizes. Hints are
    # counted in the analyzed logical plan because physical
    # BroadcastHashJoin at a tiny test SF is legitimate.
    from etl_airflow_spotify_spark.plans import num_broadcast_hints
    assert num_broadcast_hints(tri) == 0


def test_ktruss_enumeration_branches_agree(spark, sf_dir):
    """X225: both enumeration branches produce the identical triangle
    set (each triangle exactly once, same (u, v, w) orientation)."""
    from etl_airflow_spotify_spark.queries.graph import (
        KTRUSS_BCAST_EDGE_MAX, _ktruss_round1_triangles)

    eu, deg = _ktruss_enumeration_inputs(spark, sf_dir)
    small = _ktruss_round1_triangles(eu, deg, n_edges=1)
    big = _ktruss_round1_triangles(eu, deg,
                                   n_edges=KTRUSS_BCAST_EDGE_MAX + 1)
    assert sorted(map(tuple, small.collect())) \
        == sorted(map(tuple, big.collect()))


def test_phash_pipeline_no_cartesian(spark, sf_dir):
    """X223: candidates come from band-key equi-joins over the Arrow
    UDF signatures — never an all-pairs hamming scan."""
    assert not has_cartesian_product(_df("multimodal_phash_dedup",
                                         spark, sf_dir))


def test_funnel_alignment_single_shuffle(spark, sf_dir):
    """X227: the whole DP is one collect_list aggregate per user — a
    single hash-partitioning exchange, zero joins."""
    df = _df("funnel_alignment_scores", spark, sf_dir)
    plan = plan_string(df)
    assert "Join" not in plan
    assert num_exchanges(df) == 1


def test_betweenness_no_cartesian(spark, sf_dir):
    """X242: both Brandes sweeps are (seed, v)-keyed hash joins
    against the edge table — no cartesian product anywhere."""
    assert not has_cartesian_product(_df("betweenness_kseeds",
                                         spark, sf_dir))


def test_beam_search_no_cartesian(spark, sf_dir):
    """X232: each beam step is a <=B-row hash join against the scored
    bigram table; the corpus is never cross-joined."""
    assert not has_cartesian_product(_df("beam_search_decode",
                                         spark, sf_dir))


def test_temporal_census_no_cartesian(spark, sf_dir):
    """X243: triangle enumeration is two dated-edge hash joins; no
    all-pairs product."""
    assert not has_cartesian_product(_df("temporal_triangle_census",
                                         spark, sf_dir))


def test_langid_profiles_broadcast(spark, sf_dir):
    """X239: the lang-profile side of the scoring join is broadcast
    (profiles are langs x K rows); no data-sized cartesian."""
    df = _df("langid_rank_profile", spark, sf_dir)
    assert not has_cartesian_product(df)
    assert has_broadcast_hash_join(df)


def test_kruskal_ranks_from_histogram(spark, sf_dir):
    """X245: ranks come off the value histogram — the per-row table
    is aggregated before any window; no cartesian, no row-level
    global sort (the only ordered window runs on the histogram)."""
    df = _df("kruskal_wallis_values", spark, sf_dir)
    assert not has_cartesian_product(df)


def test_zonemap_predicates_broadcast(spark, sf_dir):
    """X246: the predicate battery joins rows/groups via broadcast
    (8-row frame); no data-sized cartesian."""
    assert not has_cartesian_product(_df("zonemap_skip_audit",
                                         spark, sf_dir))


def test_gmm_em_histogram_folded(spark, sf_dir):
    """X238: every EM iteration touches only the value histogram —
    the raw event rows aggregate ONCE (one exchange feeding the
    histogram localCheckpoint); iterations are scans of that
    checkpoint, no cartesian over data-sized frames."""
    assert not has_cartesian_product(_df("gmm_em_values",
                                         spark, sf_dir))


def test_smith_waterman_single_shuffle(spark, sf_dir):
    """X247: like X227 — the whole local-alignment DP is one
    collect_list aggregate per user: single exchange, zero joins."""
    df = _df("funnel_local_alignment", spark, sf_dir)
    plan = plan_string(df)
    assert "Join" not in plan
    assert num_exchanges(df) == 1


def test_randomization_test_single_pass_no_fanout(spark, sf_dir):
    """X252 (round-6 re-plan): all K+1 labelings fold as conditional
    aggregates over ONE scan — the plan contains no Expand/Generate
    row fan-out and exactly one lineitem scan feeds the fold (the
    stack unpivot runs on the 1-row aggregate, after it)."""
    df = _df("randomization_test_discount", spark, sf_dir)
    plan = plan_string(df)
    assert not has_cartesian_product(df)
    # the only Generate/Expand allowed is the post-aggregate stack on
    # the single-row fold; no data-sized explode before the aggregate
    agg_pos = plan.find("HashAggregate")
    gen_pos = plan.find("Generate")
    assert agg_pos != -1
    if gen_pos != -1:
        # formatted plans list operators leaf-last: the stack Generate
        # must sit ABOVE (before) the aggregate in the printed tree
        assert gen_pos < agg_pos


def test_bagged_forest_no_bag_fanout(spark, sf_dir):
    """X142 (round-6 re-plan): membership bits fold as conditional
    aggregates — no BAGS-way crossJoin against the bag/stump frames
    anywhere (the model is a collected bounded constant)."""
    df = _df("bagged_stump_forest", spark, sf_dir)
    plan = plan_string(df)
    assert not has_cartesian_product(df)
    # exactly one BNLJ — stumps(8 rows) x oob(1 row); the formatted
    # plan prints each operator twice (tree + detail section)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_window_funnel_pushdown(spark, sf_dir):
    """X257: each step scan prunes to the step's event type (filters
    reach the parquet scan) and joins stay hash equi-joins."""
    df = _df("window_funnel_depths", spark, sf_dir)
    assert not has_cartesian_product(df)
    pf = " ".join(pushed_filters(df))
    assert "event_type" in pf


def test_horvitz_thompson_broadcast_dims(spark, sf_dir):
    """X258: nation/region joins broadcast; no cartesian product."""
    df = _df("horvitz_thompson_regions", spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_cartesian_product(df)


def test_knn_shapley_broadcast_tests_no_cartesian(spark, sf_dir):
    """X267: the held-out test set fans out via a BROADCAST nested-loop
    (corpus-scan x bounded test frame), never a shuffled cartesian; the
    ranking is a keyed window, so exchanges stay O(1) regardless of
    corpus size."""
    df = _df("knn_shapley_valuation", spark, sf_dir)
    assert not has_cartesian_product(df)
    s = plan_string(df)
    assert "BroadcastNestedLoopJoin" in s or "BroadcastExchange" in s


def test_mmr_rounds_bounded_no_cartesian(spark, sf_dir):
    """X268: candidate generation is the only corpus-sized stage; the
    6 greedy rounds run over localCheckpointed pool/pairs frames (scan
    reuse, no cartesian, no corpus re-read per round)."""
    df = _df("mmr_diverse_topk", spark, sf_dir)
    assert not has_cartesian_product(df)
    # the returned plan reads checkpointed round state, not 6x parquet
    assert plan_string(df).count("Scan parquet") == 0


def test_fairness_audit_broadcast_dim_no_cartesian(spark, sf_dir):
    """X272: one fact pass; the nation dim joins broadcast; the pooled
    row rides a 1-row broadcast cross join — no shuffled cartesian."""
    df = _df("fairness_group_audit", spark, sf_dir)
    assert not has_cartesian_product(df)
    assert has_broadcast_hash_join(df)


def test_lossy_counting_rounds_no_cartesian(spark, sf_dir):
    """X271: per-bucket counts come from one keyed aggregate; the 10
    merge/prune rounds are keyed full joins over localCheckpointed
    candidate frames — no cartesian, no parquet re-scan per round."""
    df = _df("lossy_count_users", spark, sf_dir)
    assert not has_cartesian_product(df)
    assert plan_string(df).count("Scan parquet") == 0


def test_coloring_rounds_no_cartesian(spark, sf_dir):
    """X277: each Jones-Plassmann round is neighbor joins + keyed
    aggregates over the checkpointed label frame; no cartesian."""
    df = _df("greedy_graph_coloring", spark, sf_dir)
    assert not has_cartesian_product(df)


def test_hdbscan_no_cartesian(spark, sf_dir):
    """X295: candidates come from the grid probe (equi-join on cell
    keys); the all-pairs quadratic lives only in the oracle. The only
    nested-loop joins are crossJoin(broadcast) against 1-row frames."""
    assert not has_cartesian_product(_df("hdbscan_mutual_reachability",
                                         spark, sf_dir))


def test_jonckheere_no_cartesian_and_bounded_pairs(spark, sf_dir):
    """X293: the pair statistic joins per-group prefix tables on the
    VALUE key (equi-join over the bounded 5x5 group pairs) — never a
    data-sized pair join; the only cross joins are broadcast scalars
    and the 5-row group list against the distinct-value grid."""
    assert not has_cartesian_product(_df("jonckheere_priority_trend",
                                         spark, sf_dir))


def test_logrank_riskset_is_value_bounded_window(spark, sf_dir):
    """X292: the risk-set suffix sums run over the whole-second
    duration grid — one window, no self-join of subjects."""
    df = _df("logrank_purchase_groups", spark, sf_dir)
    assert not has_cartesian_product(df)
    plan = plan_string(df)
    assert plan.count("Window") >= 1
