"""Physical-plan shape audits: the optimizations SURVEY.md §4 promises must
actually appear in the executed plans — broadcast joins for dims, pushed
filters at the parquet scan, TakeOrderedAndProject for top-k, partial
aggregation before the shuffle. These are the properties that survive a
100× scale-up; this suite pins them against regressions."""

from __future__ import annotations

import contextlib
import io

import pytest

from data_engineering_projects_spark import contract

contract.load_all()


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_dim_joins_broadcast(spark, sf_dir):
    p = plan(contract.QUERIES["star_region_revenue"](spark, sf_dir))
    # formatted mode lists each node in the tree and the detail section
    assert len([l for l in p.splitlines()
                if l.strip().startswith("(") and "BroadcastHashJoin" in l]) == 3, p
    assert "SortMergeJoin" not in p


def test_topk_is_take_ordered(spark, sf_dir):
    """limit-k over orderBy must compile to a distributed top-k (per-
    partition heaps), never a global sort."""
    p = plan(contract.QUERIES["aws_tti_top10"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    p2 = plan(contract.QUERIES["star_top_orders_by_revenue"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p2, p2


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = plan(contract.QUERIES["star_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p, p
    # column pruning: quantity/price/discount/tax/flags only — no orderkey
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]


def test_selective_dim_filter_pushed_and_broadcast(spark, sf_dir):
    p = plan(contract.QUERIES["star_top_orders_by_revenue"](spark, sf_dir))
    assert "EqualTo(c_mktsegment,BUILDING)" in p, p
    assert "BroadcastHashJoin" in p


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """Map-side combine: HashAggregate appears below and above the
    exchange (partial + final)."""
    p = plan(contract.QUERIES["star_pricing_summary"](spark, sf_dir))
    assert len([l for l in p.splitlines()
                if l.strip().startswith("(") and "HashAggregate" in l]) >= 2
    assert "hashpartitioning(l_returnflag" in p


def test_full_outer_coalesces_keys(spark, sf_dir):
    """J3: list-form join keys produce coalesced output columns — exactly
    one location_id/recorded_hour in the output schema."""
    df = contract.QUERIES["dbt_congestion_hourly"](spark, sf_dir)
    assert df.columns.count("location_id") == 1
    assert df.columns.count("recorded_hour") == 1
    assert "FullOuter" in plan(df) or "full_outer" in plan(df).lower()


def test_whole_stage_codegen_active(spark, sf_dir):
    """The hot path stays inside codegen stages. AQE defers stage planning,
    so assert on the non-adaptive plan ('*(n)' = codegen stage markers)."""
    df = contract.QUERIES["star_pricing_summary"](spark, sf_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(df, "simple")
        assert "*(1)" in p and "*(2)" in p, p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_dedup_queries_never_cartesian(spark, sf_dir):
    """Every dedup operator must candidate-generate via equi-joins
    (inverted index / band buckets / sign buckets) — an O(n²) cross join
    would be fatal at corpus scale. ``dedup_simhash`` is the first stage
    of ``dedup_simhash_pairs``, not a registered query."""
    from data_engineering_projects_spark.contract.extensions import (
        dedup_simhash)
    frames = {name: contract.QUERIES[name](spark, sf_dir)
              for name in ["dedup_ngram_jaccard", "dedup_minhash_lsh",
                           "dedup_embed_cosine", "dedup_exact",
                           "docs_levenshtein_near",
                           "dedup_incremental_ingest"]}
    frames["dedup_simhash"] = dedup_simhash(spark, sf_dir)
    for name, df in frames.items():
        p = plan(df)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_cap_hot_lists_ride_broadcast_anti_joins(spark, sf_dir):
    """The round-10 output-cardinality caps must not add a shuffled
    join: the oversized-bucket / oversized-block exclusions are
    BroadcastHashJoin LeftAnti (the hot list is tiny by nature — a
    mega-cluster contributes <= 8 band keys / 1 block key)."""
    import re
    for name in ["dedup_minhash_lsh", "docs_levenshtein_near",
                 "dedup_incremental_ingest"]:
        p = plan(contract.QUERIES[name](spark, sf_dir))
        anti = re.findall(r"(\w+Join) LeftAnti", p)
        assert anti and all(j == "BroadcastHashJoin" for j in anti), (name, p)


def test_sessionize_single_shuffle_key(spark, sf_dir):
    """Both windows AND the final rollup share the user_id partitioning:
    the whole plan has exactly one Exchange (hashpartitioning(user_id)
    satisfies the (user_id, session_no) grouping requirement too)."""
    import re
    p = plan(contract.QUERIES["events_sessionize"](spark, sf_dir))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, re.M))
    assert n_exchanges == 1, p
    assert "hashpartitioning(user_id" in p, p


def test_asof_join_is_window_not_nested_loop(spark, sf_dir):
    """The as-of join must compile to a single keyed window scan — never
    the BroadcastNestedLoopJoin an inequality join would produce."""
    p = plan(contract.QUERIES["events_asof_latest_order"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "Window" in p, p


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """The bucketed interval join must be a hash/sort-merge equi-join on
    (key, bucket) — never a nested loop over the inequality predicate."""
    p = plan(contract.QUERIES["events_range_join_clicks"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_vocab_topk_is_take_ordered(spark, sf_dir):
    p = plan(contract.QUERIES["text_vocab_top"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p


def test_split_assign_no_shuffle(spark, sf_dir):
    """Hash-bucket split assignment is a pure scan-time projection."""
    p = plan(contract.QUERIES["docs_split_assign"](spark, sf_dir))
    assert "Exchange" not in p, p


#: Queries whose plan legitimately contains a nested-loop join: a 1-row
#: aggregate relation broadcast against the fact table (the 3-sigma /
#: quantile-band shape) — a single-row NLJ, not an O(n*m) cartesian.
_ONE_ROW_BROADCAST_OK = {"dbt_outlier_3sigma", "docs_length_band",
                         "text_tfidf_top_terms",
                         # IVF probe selection: queries x the (tiny by
                         # construction) coarse-quantizer centroid table —
                         # the search itself stays a cell-keyed equi-join
                         "embed_knn_ivf_nprobe",
                         # ADC scan: the broadcast side is the per-QUERY
                         # distance-table relation (bounded by the query
                         # set, kilobytes); the corpus side reads codes
                         # only — the PQ scan shape by definition
                         "embed_pq_adc_topk",
                         # corpus-total scalar broadcast into the scoring
                         # join (1-row NLJ, the tfidf/n_docs shape)
                         "docs_unigram_score",
                         # node-count scalar broadcast into the uniform
                         # rank init (1-row NLJ, same shape; checkpointed
                         # once before the iteration loop)
                         "events_pagerank_types",
                         # grand-total scalar broadcast into the
                         # expected-count / lift arithmetic (1-row NLJ)
                         "events_chi2_residuals", "events_type_lift",
                         # global [min,max] / max-weight / avg-balance
                         # scalar broadcast into the scan projection
                         "events_value_histogram", "docs_weighted_sample",
                         "star_prospect_customers",
                         # per-round 1-row v-array / norm broadcast of the
                         # power iteration
                         "embed_top_eigenvector",
                         # 1-row Gini-moments broadcast into the decile
                         # rollup
                         "events_value_concentration",
                         # k-row label-centroid table broadcast into the
                         # row-local assignment map (the IVF-centroid shape)
                         "embed_centroid_confusion",
                         # incremental ingest: the centroid-table NLJ of
                         # ivf_assign (embed_centroid_confusion shape) +
                         # the 1-row totals broadcast of ivf_index_health
                         "embed_ivf_extend_health"}


@pytest.mark.parametrize("name", sorted(contract.QUERIES))
def test_no_accidental_cartesian_or_python_row_udf(spark, sf_dir, name):
    """Global plan lint: no contract query may contain a cartesian
    product, an unexpected nested-loop join, or a row-at-a-time Python
    UDF (BatchEvalPython) — the three plan shapes that do not survive a
    100x scale-up. Arrow-batched mapInPandas/ArrowEvalPython stages are
    allowed (that's the sanctioned Python boundary)."""
    p = plan(contract.QUERIES[name](spark, sf_dir), "formatted")
    assert "CartesianProduct" not in p, f"{name}: cartesian product\n{p}"
    assert "BatchEvalPython" not in p, f"{name}: row-at-a-time Python UDF\n{p}"
    if name not in _ONE_ROW_BROADCAST_OK:
        assert "BroadcastNestedLoopJoin" not in p, \
            f"{name}: unexpected nested-loop join\n{p}"


#: Queries whose plans carry non-empty PushedFilters at a parquet scan
#: (snapshot from tools/plan_audit.py after its round-6 `pushed` fix).
#: A rewrite that silently strips pushdown from any of these — e.g. a
#: filter moved behind a UDF or a non-deterministic expression — fails
#: here instead of surfacing as a 100x-scale full-scan regression.
_PUSHED_FILTER_PINNED = [
    "dbt_hourly_speed_metrics", "star_orders_between", "star_pricing_summary",
    "star_top_orders_by_revenue", "star_small_quantity_revenue",
    "star_region_revenue", "star_exclusive_late_supplier",
    "star_customers_without_orders", "dbt_fk_orphans",
    "events_range_join_clicks", "orders_with_bigticket_items",
    "customers_cohort_setops", "dedup_embed_cosine",
]


@pytest.mark.parametrize("name", _PUSHED_FILTER_PINNED)
def test_selective_scans_keep_pushed_filters(spark, sf_dir, name):
    import re
    p = plan(contract.QUERIES[name](spark, sf_dir))
    assert re.search(r"PushedFilters: \[[^\]]", p), (
        f"{name}: no non-empty PushedFilters at any parquet scan\n{p}")


def test_q21_single_lineitem_scan_no_self_join(spark, sf_dir):
    """star_exclusive_late_supplier: the per-order counts are a window
    over the reduced relation, NOT a groupBy + join-back that would
    recompute the lineitem⋈orders subtree on both sides — lineitem must
    appear exactly once in the plan."""
    p = plan(contract.QUERIES["star_exclusive_late_supplier"](spark, sf_dir))
    assert p.count("lineitem.parquet") == 1, p
    assert "CartesianProduct" not in p


def test_q13_aggregates_orders_below_the_join(spark, sf_dir):
    """star_order_count_distribution: the orders side must be aggregated
    to one row per custkey BEFORE joining customer (HashAggregate below
    the join in the orders branch), so the join shuffle is |customers|-
    sized at any scale."""
    p = plan(contract.QUERIES["star_order_count_distribution"](spark, sf_dir))
    join_pos = p.find("Join")
    agg_pos = p.find("HashAggregate")
    assert join_pos != -1 and agg_pos != -1
    # formatted-mode plans list operators top-down; the orders-branch
    # aggregate must exist in addition to the final histogram aggregate
    assert p.count("HashAggregate") >= 4, p  # partial+final x (oc, histogram)


def test_winsorize_windows_share_one_exchange(spark, sf_dir):
    """events_winsorized_mean: both windows (row_number + count) must
    ride ONE event_type exchange, and the bounds join back by broadcast."""
    p = plan(contract.QUERIES["events_winsorized_mean"](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    n_type_exchanges = len([l for l in p.splitlines()
                            if "Exchange hashpartitioning(event_type" in l
                            and "n#" not in l.split(",")[1]])
    # exactly one exchange keyed by event_type alone feeds the windows
    assert p.count("Window") >= 1
    assert n_type_exchanges <= 2, p


def test_mode_daily_is_aggregate_not_window(spark, sf_dir):
    """events_mode_daily: arg-max must compile to two hash aggregates
    (struct-max), never a row_number window."""
    p = plan(contract.QUERIES["events_mode_daily"](spark, sf_dir))
    assert "Window" not in p, p
    assert "HashAggregate" in p or "SortAggregate" in p


def test_type_lift_pair_join_is_keyed_not_cartesian(spark, sf_dir):
    """events_type_lift: the pair fan-out must be a user-keyed equi-join
    (type inequality as a post-filter), never a cartesian."""
    p = plan(contract.QUERIES["events_type_lift"](spark, sf_dir))
    assert "CartesianProduct" not in p, p
    # margins come back via broadcast, so BroadcastNestedLoopJoin appears
    # only for the 1-row total — no data-proportional NLJ on the pair side
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or \
        "BroadcastHashJoin" in p
