"""Plan-shape regression net (SURVEY §5.4): the physical-plan features the
scale design depends on. A refactor that silently turns a broadcast join into
a sort-merge join, or loses a pushed filter, fails here — long before it
would show up as a 100 TB incident."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_DIR


def _plan(spark, key: str) -> str:
    from engine.registry import collect

    queries, _ = collect()
    return queries[key](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dims(spark):
    plan = _plan(spark, "join_star_multiway")
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan


def test_filters_reach_parquet_scan(spark):
    plan = _plan(spark, "filter_compound")
    assert re.search(r"PushedFilters: \[[^\]]", plan), plan


def test_scan_prunes_columns(spark):
    # Q1 needs 7 of 11 lineitem cols; the key columns must be pruned out of
    # the parquet read (the plan string truncates ReadSchema, so assert on
    # the leading, untruncated part).
    plan = _plan(spark, "agg_group_hash")
    m = re.search(r"ReadSchema: struct<[^\n]*", plan)
    assert m, plan
    head = m.group(0)
    assert "l_quantity" in head
    assert "l_orderkey" not in head and "l_partkey" not in head, head


def test_topk_uses_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "topk_order_limit")


def test_window_topk_uses_group_limit(spark):
    # rank-filter pushdown: per-partition top-k state instead of full sort+filter
    assert "WindowGroupLimit" in _plan(spark, "win_row_number_topk")
    assert "WindowGroupLimit" in _plan(spark, "dedup_key_latest")


def test_broadcast_hint_respected(spark):
    assert "BroadcastHashJoin" in _plan(spark, "join_broadcast_hint")


def test_partition_prune(spark):
    # partition-column filter must prune at the source, not post-filter
    plan = _plan(spark, "scan_partition_prune")
    assert "PartitionFilters: [" in plan, plan


def test_no_cartesian_in_similarity(spark):
    # the blocked-matmul rewrite must keep cross joins out of the plan
    plan = _plan(spark, "sim_topk_pairs")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_no_exchange(spark):
    # At sf0.001 Catalyst rightly broadcasts the tiny dim instead of using
    # the buckets, so assert the co-location property directly: force the
    # merge join on the bucketed tables and require ZERO Exchange — bucket i
    # joins bucket i with no shuffle on either side.
    from engine.registry import collect

    queries, _ = collect()
    queries["join_bucketed_colocate"](spark, SF_DIR)  # writes the bucketed tables
    tag = "".join(c if c.isalnum() else "_" for c in SF_DIR.strip("/"))
    bo = spark.table(f"sg_bucket_orders_{tag}").hint("merge")
    bc = spark.table(f"sg_bucket_customer_{tag}")
    plan = (
        bo.join(bc, bo.o_custkey == bc.c_custkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan


def test_bucketed_join_mismatched_counts_shuffles_correctly(spark, tmp_path):
    # docs/SCALE.md: bucket counts must MATCH across sides for exchange-free
    # colocation. A mismatched count (8 vs 4 here) must degrade to a correct
    # shuffled join — Spark re-exchanges at least one side — never silently
    # colocate bucket i with the wrong bucket i. Guards against a planner or
    # write-path regression that no correctness test would otherwise see.
    from pyspark.sql import functions as F

    from engine.tables import load

    tag = "".join(c if c.isalnum() else "_" for c in SF_DIR.strip("/"))
    base = str(tmp_path)
    cust = load(spark, SF_DIR, "customer")
    name4 = f"sg_bucket_customer4_{tag}"
    if not spark.catalog.tableExists(name4):
        (
            cust.write.bucketBy(4, "c_custkey")
            .sortBy("c_custkey")
            .option("path", f"{base}/{name4}")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name4)
        )
    # 8-bucket orders from the colocate key's own write
    from engine.registry import collect

    queries, _ = collect()
    queries["join_bucketed_colocate"](spark, SF_DIR)
    bo = spark.table(f"sg_bucket_orders_{tag}").hint("merge")
    bc4 = spark.table(name4)
    joined = bo.join(bc4, bo.o_custkey == bc4.c_custkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" in plan, plan  # mismatch ⇒ at least one side re-shuffles
    # and the result is still correct vs the plain unbucketed join
    expected = (
        load(spark, SF_DIR, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .count()
    )
    assert joined.count() == expected


def test_q18_semi_join_before_wide_joins(spark):
    # the HAVING pre-aggregate must drive a semi join (not a full join+dedup)
    plan = _plan(spark, "tpch_q18_large_orders")
    assert "LeftSemi" in plan, plan


def test_q6_pushes_all_filters(spark):
    plan = _plan(spark, "tpch_q6_forecast")
    assert re.search(r"PushedFilters: \[[^\]]", plan), plan
    m = re.search(r"ReadSchema: struct<[^\n]*", plan)
    assert m and "l_extendedprice" in m.group(0), plan
    assert "l_orderkey" not in m.group(0), m.group(0)


def test_interval_join_preaggregates(spark):
    # r02: count-only interval join must never enumerate the O(n·w) pair
    # space — the range join runs on per-day AGGREGATES (both join children
    # contain a HashAggregate below them), and the big side is never joined
    # raw.
    plan = _plan(spark, "join_interval")
    join_pos = plan.find("BroadcastNestedLoopJoin")
    if join_pos < 0:
        join_pos = plan.find("BroadcastHashJoin")
    assert join_pos >= 0, plan
    below = plan[join_pos:]
    assert below.count("HashAggregate") >= 2, plan


def test_ngram_keys_single_generate(spark):
    # r02: the explode's implicit size()>0 filter must NOT duplicate the
    # shingling transform into the scan — each side of the inverted-index
    # join carries exactly one Generate and no transform() inside a scan
    # DataFilter.
    for key in ("dedup_ngram_jaccard", "text_containment"):
        plan = _plan(spark, key)
        scans = re.findall(r"DataFilters: \[[^\]]*\]", plan)
        assert not any("transform(" in s for s in scans), (key, scans)


def test_tpch_q8_q9_broadcast_dims(spark):
    # every dimension of the adapted Q8/Q9 must broadcast — exactly one
    # fact-scale shuffle join (lineitem ⋈ orders) is allowed
    for key, n_bc in (("tpch_q8_market_share", 5), ("tpch_q9_profit_rollup", 3)):
        plan = _plan(spark, key)
        assert plan.count("BroadcastHashJoin") >= n_bc, (key, plan)


def test_funnel_no_window_sort(spark):
    # the funnel is anchored min-aggs + joins; a Window/Sort over the raw
    # event stream would be the non-scalable formulation
    plan = _plan(spark, "etl_funnel_stages")
    assert "Window" not in plan, plan


def test_decontaminate_broadcast_eval_pushed_split(spark):
    # r03: the eval-shingle side must broadcast (it is benchmark-sized, not
    # corpus-sized), the doc_id split predicates must reach the scans, and
    # the shingle transform must not be duplicated into a scan DataFilter
    # (SCALE.md rule 3).
    plan = _plan(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    scans = re.findall(r"DataFilters: \[[^\]]*\]", plan)
    assert any("% 11" in s for s in scans), scans
    assert not any("transform(" in s for s in scans), scans


def test_pack_sequences_bucketed_windows_no_global_sort(spark):
    # r03: no global (non-partitioned) sort — that would serialize the
    # cumsum at scale. r12: the per-source window became the two-level
    # range-bucket pair (bucket-offset cumsum over ~20x64 partials +
    # per-row window partitioned (source, bkt)); every window partition
    # spec must include source, and the per-row one must also bucket.
    plan = _plan(spark, "text_pack_sequences")
    specs = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert len(specs) == 2, plan
    assert all("source" in s for s in specs), specs
    assert any("bkt" in s for s in specs), specs


def test_bloom_prune_filter_on_probe_side(spark):
    # r04: the Bloom bit test (shiftleft + element_at on the broadcast
    # array) must sit in a FILTER on the probe scan, joined to the one-row
    # bloom via BroadcastNestedLoopJoin — never a shuffle of unpruned
    # orders. The exact dim join afterwards broadcasts.
    plan = _plan(spark, "join_bloom_prune")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "shiftleft" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cms_buckets_built_in_one_pass(spark):
    # r04: the d=4 CMS bucket tables must come from ONE unpivot (Expand) +
    # one (row, bucket) aggregate — not d separate scans of the fact table.
    # Three column-pruned scans are by design (buckets, exact-top, bound);
    # the guard is against the d-fold Expand-less blowup (6+ scans).
    plan = _plan(spark, "agg_cms_estimate")
    assert "Expand" in plan, plan
    assert plan.count("Scan parquet") <= 3, plan


def test_reservoir_sample_uses_window_group_limit(spark):
    # r04: rank<=k per group must run as WindowGroupLimit (bounded state
    # top-k per partition), not a full per-group sort + post-filter.
    plan = _plan(spark, "sample_reservoir_group")
    assert "WindowGroupLimit" in plan, plan


def test_ewma_taps_broadcast(spark):
    # r04: the 12-tap weight table must broadcast (it is 12 rows); the
    # expensive events scan must appear once — the fan-out happens on the
    # post-aggregation hourly table, never on raw events.
    plan = _plan(spark, "win_ewma_smoothing")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("Scan parquet") <= 2, plan


def test_recursive_cte_single_plan(spark):
    # r04: WITH RECURSIVE must stay one Catalyst plan (a loop node), not a
    # driver-side re-plan per iteration.
    plan = _plan(spark, "sql_recursive_cte_chain")
    assert "Loop" in plan or "Recursion" in plan.replace("recursive", "Recursion"), plan


def test_null_safe_join_is_hash_join(spark):
    # r04: <=> must plan as a HASH join (null hashes to a bucket like any
    # key value) — never a nested loop or cartesian fallback.
    plan = _plan(spark, "join_null_safe_eq")
    assert "HashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rp_lsh_signatures_computed_once(spark):
    # r03: the signature MapInPandas must run once; no embedding payload
    # crosses the candidate shuffle (only bucket/vec_id int columns).
    # r06: the candidate stage is groupBy(bucket) -> collect_list ->
    # double explode — ONE shuffle of the signature explosion, no window
    # sort, no bucket self-join (the old shape's ReusedExchange is gone
    # because the join it fed is gone). Pin: zero sorts before the final
    # top-k, two Generates (the explodes), no cartesian. The r07
    # exact-dup collapse leaves this plan untouched on dup-free corpora
    # (the dup probe routes around it); the collapse path's own shape is
    # covered by tests/test_vecops.py::test_rp_lsh_exact_dup_collapse.
    plan = _plan(spark, "sim_ann_rp_lsh")
    assert plan.count("MapInPandas") == 1, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Generate") == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_iterations_reuse_cached_edges(spark):
    """The normalized edge relation must come from the cache (InMemory
    scan), not re-run the 4-join derivation spine per iteration, and the
    tiny rank relation must broadcast into every iteration join."""
    plan = _plan(spark, "graph_pagerank_iter")
    assert "InMemoryTableScan" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_semdedup_join_has_no_broadcast_matrix_or_cartesian(spark):
    """SemDeDup's verify stage must be a keyed cluster join — no
    cartesian product, and the PAIRWISE stage must shuffle on cid (the
    blocking structure). BNLJ is now present but only as the bounded
    broadcast-centroid assignment (k ≤ 64 rows — the relational k-means
    shape), never as the pair matrix."""
    plan = _plan(spark, "dedup_semdedup")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cid" in plan, plan


def test_bm25_is_single_stats_broadcast_over_map(spark):
    """BM25 must broadcast ONE corpus-stats row onto a pure map — a
    per-doc shuffle would mean the scoring lost its map-side shape."""
    plan = _plan(spark, "text_bm25_rank")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # top-20 must be TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_bitmap_distinct_partial_aggregates(spark):
    """Both bitmap levels must partial-aggregate map-side before their
    exchanges (bitmap_construct_agg plans as SortAggregate — not
    hash-aggregable — but still splits into partial + final), never
    collect raw keys to one node."""
    plan = _plan(spark, "agg_bitmap_distinct")
    assert "partial_bitmap_construct_agg" in plan, plan
    assert "partial_sum" in plan, plan


def test_asof_tolerance_keeps_range_in_join_condition(spark):
    """The 7-day tolerance must live in the join (bounding the per-user
    candidate range), not in a post-join filter over the full history."""
    plan = _plan(spark, "join_asof_tolerance")
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scd2_pointintime_is_equi_join_not_bnlj(spark):
    """The interval predicate must ride an equi-join on user_id as a
    residual — never a BroadcastNestedLoopJoin/CartesianProduct (the
    shape that explodes at fact scale)."""
    plan = _plan(spark, "join_scd2_pointintime")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan


def test_unpivot_clause_is_zero_shuffle_expand(spark):
    """UNPIVOT must compile to an Expand inside codegen with no Exchange —
    the melt is row-local."""
    plan = _plan(spark, "sql_unpivot_clause")
    assert "Expand" in plan, plan
    assert "Exchange" not in plan, plan


def test_histogram_2d_single_exchange_with_partial_agg(spark):
    """One shuffle, partial aggregation before it (map-side collapse to
    ≤240 cells per task)."""
    plan = _plan(spark, "agg_histogram_2d")
    assert plan.count("Exchange") == 1, plan
    assert "partial" in plan.lower(), plan


def test_pareto_cut_broadcasts_nation_totals(spark):
    """The per-nation totals join must broadcast (25 rows at any SF) —
    the fact-sized side never reshuffles for it."""
    plan = _plan(spark, "win_pareto_cut")
    assert "BroadcastHashJoin" in plan, plan


def test_ohlc_minby_is_partial_aggregable(spark):
    """min_by/max_by over the (ts, event_id) struct must run as a
    two-phase hash aggregate (partial + final), not a sort-based plan."""
    plan = _plan(spark, "etl_ohlc_resample")
    assert plan.count("Exchange") == 1, plan
    assert "partial" in plan.lower(), plan


def test_ngram_novelty_single_split_single_gram_shuffle(spark):
    """r06 reshape pins: text is tokenized ONCE (Catalyst does not CSE a
    repeated split(text) across lambda scopes — the old plan re-split every
    row four times), and the cap/first-doc logic is a gram-keyed aggregate,
    not a window (no shuffle+sort of the gram fan-out)."""
    plan = _plan(spark, "text_ngram_novelty")
    assert plan.count("split(") == 1, plan
    assert "Window" not in plan, plan
    assert plan.count("Generate") == 2, plan  # doc-set + gram explodes


def test_top_bigrams_single_split_grouplimit(spark):
    """r06 reshape pins: one tokenize per row feeding the bigram explode,
    and the per-lang rank window carries WindowGroupLimit so rank state
    stays k rows per partition (the win_row_number_topk shape)."""
    plan = _plan(spark, "text_top_bigrams_per_lang")
    assert plan.count("split(") == 1, plan
    assert plan.count("Generate") == 1, plan
    assert "WindowGroupLimit" in plan, plan
