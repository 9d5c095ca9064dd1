"""Plan-shape pins for the scale-sensitive extension queries: these
assert the SHAPE that makes each operator viable at 100 TB, so a refactor
that silently degrades to a quadratic or single-partition plan fails CI
even while results stay correct at test SF."""

from __future__ import annotations

import os

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fuzzy_join_stays_equi_join(spark):
    # deletion-neighborhood blocking must plan as a hash/merge equi-join —
    # a CartesianProduct or nested-loop means the blocking key was lost
    from usw_big_data_analysis_spark.queries.corpus_ops import fuzzy_join_names

    plan = _plan(fuzzy_join_names(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_wau_has_no_window(spark):
    # the sliding distinct is contribute-to-spine explode + hash aggregate;
    # a Window operator here would mean a per-day sort crept back in
    from usw_big_data_analysis_spark.queries.behavior import rolling_wau

    plan = _plan(rolling_wau(spark, SF_DIR))
    assert "Window" not in plan


def test_basket_pairs_topk_is_take_ordered(spark):
    # the final top-50 must be distributed top-k, not a global sort
    from usw_big_data_analysis_spark.queries.pipeline_ops import basket_pairs

    plan = _plan(basket_pairs(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan or "Sort [" not in plan.split(
        "TakeOrderedAndProject"
    )[0]


def test_q3_topk_is_take_ordered(spark):
    from usw_big_data_analysis_spark.queries.tpch_ext import q3_shipping_priority

    plan = _plan(q3_shipping_priority(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_heavy_hitters_candidates_broadcast(spark):
    # the exact verify pass must semi-join against BROADCAST candidates —
    # a shuffled join would re-shuffle the full key stream
    from usw_big_data_analysis_spark.queries.scale_ops import heavy_hitters_mg

    plan = _plan(heavy_hitters_mg(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q10_topk_is_take_ordered(spark):
    # Q10's top-20 customers must be distributed top-k on the exact cents
    from usw_big_data_analysis_spark.queries.tpch_ext2 import q10_returned_items

    plan = _plan(q10_returned_items(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_q4_semi_join_no_fact_duplication(spark):
    # the EXISTS must stay a left-semi join: an inner join + distinct would
    # duplicate orders rows per late lineitem before deduplicating
    from usw_big_data_analysis_spark.queries.tpch_ext2 import q4_order_priority

    plan = _plan(q4_order_priority(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_q17_correlated_avg_is_division_free(spark):
    # the 0.2*avg predicate must compare exact integers — no Divide in the
    # join filter (final output division is fine; check the filter node)
    from usw_big_data_analysis_spark.queries.tpch_ext2 import q17_small_qty_revenue

    plan = _plan(q17_small_qty_revenue(spark, SF_DIR))
    # the qualifying filter appears as (5 * qty * n_part) < sum_qty
    assert "(5 *" in plan or "* 5)" in plan


def test_bloom_probe_prunes_before_exact_join(spark):
    # every bitmap test must be a broadcast join (the bitmap relation is
    # ~1k rows); a shuffle of the probe before the exact semi join defeats
    # the point of the bloom
    from usw_big_data_analysis_spark.queries.incremental import bloom_prune_join

    plan = _plan(bloom_prune_join(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3  # k bitmap tests (+ maybe semi)
    assert "CartesianProduct" not in plan


def test_bloom_actually_prunes(spark):
    # the bloom-survivor count must be far below the probe row count —
    # otherwise the filter is set up wrong (all-ones bitmap, bad hash)
    from usw_big_data_analysis_spark.queries.incremental import bloom_prune_join
    from usw_big_data_analysis_spark.sources import load_table

    n_probe = load_table(spark, SF_DIR, "orders").count()
    matched = (
        bloom_prune_join(spark, SF_DIR).agg({"n_orders": "sum"}).collect()[0][0]
    )
    # one segment of five: survivors (== exact matches + ~0 fp) ~ 20% of probe
    assert matched < 0.5 * n_probe


def test_mview_merge_equals_rebuild_and_stays_partial(spark):
    # the merged refresh must keep ONE shuffle for the final combine — the
    # partials are map-side — and no raw-row single-partition exchange
    from usw_big_data_analysis_spark.queries.incremental import mview_incremental

    plan = _plan(mview_incremental(spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_zorder_rescan_pushes_both_dimensions(spark):
    # the rectangle predicate must reach the parquet scan on BOTH columns
    from usw_big_data_analysis_spark.queries.storage_ops import sink_zorder_scan

    plan = _plan(sink_zorder_scan(spark, SF_DIR))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("pk_mod" in ln and "sk_mod" in ln for ln in pushed), pushed


def test_topk_per_group_sketch_refine(spark):
    # sketch-and-refine contract: the fact itself is never exchanged —
    # the only full-table shuffle is the (flag, bucket) histogram, the
    # threshold comes back via a BROADCAST join, and a salted guard
    # window bounds the all-ties case (VERDICT r2 #3, round-3 re-plan)
    from usw_big_data_analysis_spark.queries.windows_sorts import topk_per_group

    plan = _plan(topk_per_group(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the sketch aggregation shuffles bucket ids, not raw fact rows
    assert "hashpartitioning(l_returnflag" in plan and "_b#" in plan
    # no exchange may carry the fact's row-identity columns (that would
    # mean the 600k-row table itself was shuffled pre-filter)
    for seg in plan.split("hashpartitioning(")[1:]:
        head = seg[:120]
        assert "l_orderkey" not in head, head
    # guard window present (salt expression) + final per-flag window
    assert plan.count("Window") >= 2
    assert "pmod(hash(l_orderkey" in plan


def test_incremental_bands_is_equi_join(spark):
    # the batch-vs-standing probe must stay a hash equi-join on
    # (band, band_key) — a nested-loop means the band key was lost
    from usw_big_data_analysis_spark.queries.dedup import dedup_incremental_bands

    plan = _plan(dedup_incremental_bands(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_search_is_kernel_topk(spark):
    # ADC search is one mapInPandas pass with the tiny query lookup table
    # closed over: no join touches the corpus codes, the only exchange is
    # the per-query top-k shuffle, and that top-k is distributed
    # (per-partition WindowGroupLimit heaps)
    from usw_big_data_analysis_spark.queries.similarity import embed_pq_search

    plan = _plan(embed_pq_search(spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 1
    assert "WindowGroupLimit" in plan


def test_priority_sample_is_take_ordered(spark):
    # weighted top-k must be distributed top-k (per-partition heaps),
    # not a global sort of the corpus
    from usw_big_data_analysis_spark.queries.corpus_ops import (
        sample_weighted_priority,
    )

    plan = _plan(sample_weighted_priority(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_kmeans_centroids_broadcast(spark):
    # both assignment rounds must broadcast the centroid side — a shuffled
    # join would re-exchange the exploded corpus per round
    from usw_big_data_analysis_spark.queries.clustering import kmeans_spherical

    plan = _plan(kmeans_spherical(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
