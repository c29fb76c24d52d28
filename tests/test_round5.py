"""Round-5 additions: long-chain star-contraction CC, the approx-p95
error-bound contract, streaming single-batch enforcement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def queries():
    from data_engineering_projects_spark import contract
    contract.load_all()
    return contract.QUERIES


def test_chain_defeats_fixed_k_but_not_star(spark):
    """The planted 64-chain is genuinely adversarial: k=8 min-label
    propagation leaves nodes >8 hops from the head mislabeled, while
    star contraction labels the whole chain with its head."""
    from data_engineering_projects_spark.operators.clustering import (
        connected_components_star, propagate_min_labels)

    edges = spark.range(63).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))
    star = {r["id"]: r["label"]
            for r in connected_components_star(edges).collect()}
    assert star == {i: 0 for i in range(64)}
    fixed = {r["id"]: r["label"]
             for r in propagate_min_labels(edges, iters=8).collect()}
    # 8 iterations reach 8 hops: node 63 can see down to node 55 at best
    assert fixed[63] > 0
    assert fixed != star


def test_p95_approx_within_bound_all_true(spark, queries):
    out = queries["star_pricing_p95_approx"](spark, SF_DIR).collect()
    assert len(out) > 0
    assert all(r["within_bound"] for r in out)
    assert all(r["p95_exact"] is not None and r["n"] > 0 for r in out)


def test_single_batch_assert_trips_on_split_admission(spark):
    """_assert_single_batch raises when a progress log shows rows
    admitted across two micro-batches, and passes on one."""
    from data_engineering_projects_spark.contract.sessions import (
        _assert_single_batch)

    class FakeQuery:
        def __init__(self, progress):
            self.recentProgress = progress

    _assert_single_batch(FakeQuery([{"numInputRows": 10},
                                    {"numInputRows": 0}]), "ok")
    with pytest.raises(RuntimeError, match="2 micro-batches"):
        _assert_single_batch(FakeQuery([{"numInputRows": 10},
                                        {"numInputRows": 5}]), "split")


def test_pagerank_symmetric_cycle_uniform(spark):
    """On a symmetric cycle every node keeps the uniform rank at every
    iteration — a closed-form fixed point the operator must preserve."""
    from data_engineering_projects_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    edges = spark.createDataFrame(
        [(i, (i + 1) % 4, 1.0) for i in range(4)], "src long, dst long, w double")
    got = {r["node"]: r["r"] for r in pagerank(nodes, edges).collect()}
    assert len(got) == 4
    for v in got.values():
        assert abs(v - 0.25) < 1e-12


def test_pagerank_sink_attracts_mass(spark):
    """Two sources pointing at one hub: the hub must outrank the
    sources; run result is identical across repeated invocations
    (determinism of the fold path)."""
    from data_engineering_projects_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    edges = spark.createDataFrame(
        [(0, 2, 1.0), (1, 2, 1.0), (2, 0, 0.5), (2, 1, 0.5)],
        "src long, dst long, w double")
    a = {r["node"]: r["r"] for r in pagerank(nodes, edges).collect()}
    b = {r["node"]: r["r"] for r in pagerank(nodes, edges).collect()}
    assert a == b
    assert a[2] > a[0] and a[2] > a[1]


def test_pagerank_nodes_none_derives_edge_endpoints(spark):
    """``nodes=None`` (round 17) derives the node set from the edge
    checkpoint's endpoints — BIT-identical to passing the explicit
    endpoint node set, on an asymmetric weighted graph with a pure-sink
    node (2 appears only as dst), in both the local-bypass and
    distributed paths."""
    from data_engineering_projects_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    edges = spark.createDataFrame(
        [(0, 1, 0.7), (0, 2, 0.3), (1, 2, 1.0), (3, 0, 1.0)],
        "src long, dst long, w double")
    for lfe in (100_000, 0):
        explicit = {r["node"]: repr(r["r"])
                    for r in pagerank(nodes, edges,
                                      local_finish_edges=lfe).collect()}
        derived = {r["node"]: repr(r["r"])
                   for r in pagerank(None, edges,
                                     local_finish_edges=lfe).collect()}
        assert explicit == derived


def test_pagerank_local_bypass_bit_identical(spark):
    """The driver bypass (graphs under LOCAL_ITER_EDGES iterate locally)
    must be BIT-identical to the distributed fold path — same IEEE
    multiplies, same ascending fold from 0.0 — on an asymmetric graph
    with uneven weights, a dangling node (2: no out-edges, mass dropped)
    and rank leakage; repr-compared so a single-ulp drift fails."""
    from data_engineering_projects_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(5)], "node long")
    edges = spark.createDataFrame(
        [(0, 1, 0.7), (0, 2, 0.3), (1, 2, 0.9), (1, 3, 0.1),
         (3, 0, 1.0), (4, 2, 1.0)],
        "src long, dst long, w double")
    local = {r["node"]: r["r"] for r in pagerank(nodes, edges).collect()}
    dist = {r["node"]: r["r"]
            for r in pagerank(nodes, edges, local_finish_edges=0).collect()}
    assert {k: repr(v) for k, v in local.items()} \
        == {k: repr(v) for k, v in dist.items()}
    assert local[2] > local[0]  # hub attracts mass either way


def test_hll_reach_bound_and_exactness(spark, queries):
    out = queries["events_user_reach_hll"](spark, SF_DIR).collect()
    assert len(out) > 0
    assert all(r["within_bound"] for r in out)
    assert all(r["n_users_exact"] > 0 for r in out)


def test_topn_per_source_is_exactly_k_capped(spark, queries):
    out = queries["docs_sample_topn_per_source"](spark, SF_DIR)
    per = {r["source"]: r["cnt"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    from data_engineering_projects_spark.sources import load_table
    totals = {r["source"]: r["cnt"] for r in
              load_table(spark, SF_DIR, "documents").groupBy("source")
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for src, n in per.items():
        assert n == min(5, totals[src])


def test_pagerank_mass_conserved_no_dangling(spark):
    """With no dangling nodes the total rank mass stays 1 (up to float
    fold error) — the invariant that catches weight-normalization bugs."""
    from data_engineering_projects_spark.operators.graph import pagerank

    nodes = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    edges = spark.createDataFrame(
        [(0, 2, 1.0), (1, 2, 1.0), (2, 0, 0.5), (2, 1, 0.5)],
        "src long, dst long, w double")
    total = sum(r["r"] for r in pagerank(nodes, edges).collect())
    assert abs(total - 1.0) < 1e-9


def test_token_budget_selects_prefix_of_quality_order(spark, queries):
    """Within each source the selected set must be a prefix of the
    (n_chars desc, doc_id) order and stop at the 10k budget."""
    rows = queries["docs_select_token_budget"](spark, SF_DIR).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: (-r["n_chars"], r["doc_id"]))
        seen_unselected = False
        total = 0
        for r in rs:
            total += r["n_chars"]
            assert r["cum_chars"] == total
            if r["selected"]:
                assert not seen_unselected  # prefix property
                assert r["cum_chars"] <= 10000
            else:
                seen_unselected = True


def test_negative_samples_deterministic_k_fanout(spark, queries):
    """Every anchor draws at most K negatives, never itself, and two
    invocations pick identical partners."""
    out1 = queries["docs_negative_samples"](spark, SF_DIR).collect()
    out2 = queries["docs_negative_samples"](spark, SF_DIR).collect()
    key = lambda r: (r["anchor_id"], r["neg_no"], r["negative_id"])
    assert sorted(map(key, out1)) == sorted(map(key, out2))
    per_anchor = {}
    for r in out1:
        assert r["negative_id"] != r["anchor_id"]
        per_anchor.setdefault(r["anchor_id"], set()).add(r["neg_no"])
    assert per_anchor and all(len(v) <= 2 for v in per_anchor.values())
