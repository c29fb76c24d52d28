"""Semantic property tests for the round-4 operators, beyond the oracle
hash (which test_contract_parity covers for every registry query)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_projects_spark import contract

contract.load_all()


def _rows(spark, sf_dir, name):
    return contract.QUERIES[name](spark, sf_dir).collect()


def test_rolling_7d_frame_narrows_at_series_start(spark, sf_dir):
    """The first day of each series has a 1-day frame, growing to 7; the
    rolling average over a full frame equals w7_total / 7."""
    rows = _rows(spark, sf_dir, "events_rolling_7d")
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r.day)
        assert series[0].w7_days == 1
        assert series[0].w7_avg == series[0].daily_total
        for r in series:
            assert 1 <= r.w7_days <= 7
            assert r.w7_avg == r.w7_total / r.w7_days


def test_gap_fill_is_dense_per_type(spark, sf_dir):
    """Every type's hour axis is contiguous from its min to its max, and
    filled rows carry n=0."""
    rows = _rows(spark, sf_dir, "events_gap_fill_hourly")
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        hours = sorted(r.hour for r in series)
        span_hours = int((hours[-1] - hours[0]).total_seconds()) // 3600 + 1
        assert len(hours) == span_hours == len(set(hours))
    assert all(r.n == 0 for r in rows if r.gap_filled)
    assert all(r.n > 0 for r in rows if not r.gap_filled)


def test_pack_chunks_respects_budget_and_order(spark, sf_dir):
    """Chunks are contiguous doc_id ranges per source; every chunk except
    possibly the last in each source starts within budget of the previous
    (concat-then-chunk: chunk boundaries are exact 2048-token offsets)."""
    rows = _rows(spark, sf_dir, "docs_pack_chunks")
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for chunks in by_src.values():
        chunks.sort(key=lambda r: r.chunk_id)
        # contiguous, non-overlapping doc ranges in chunk order
        for a, b in zip(chunks, chunks[1:]):
            assert a.last_doc < b.first_doc
        # a doc spanning a boundary is assigned to the chunk its OFFSET
        # starts in, so a chunk's token total can exceed the budget by at
        # most one doc's length, and chunk_ids are dense
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))


def test_unigram_score_bounds_and_discrimination(spark, sf_dir):
    """Scores are probabilities (0, 1); a doc made only of the corpus's
    most common tokens must outscore one made only of rare tokens."""
    rows = _rows(spark, sf_dir, "docs_unigram_score")
    assert all(0.0 < r.mean_token_p < 1.0 for r in rows)
    # the corpus is word-salad over a small vocab: the spread between the
    # most and least templatey docs should be real, not degenerate
    scores = sorted(r.mean_token_p for r in rows)
    assert scores[-1] > scores[0]


def test_levenshtein_near_finds_planted_pairs(spark, sf_dir):
    """The blocked join must surface the planted near-identical pairs
    (distance <= 20) and never a pair violating doc_a < doc_b."""
    rows = _rows(spark, sf_dir, "docs_levenshtein_near")
    assert len(rows) > 0
    assert all(r.doc_a < r.doc_b for r in rows)
    assert all(0 <= r.edit_dist <= 20 for r in rows)


def test_pack_chunks_window_is_keyed_not_global(spark, sf_dir):
    """The packing cumsum must shuffle by source (parallel across
    shards), never collapse to a single partition."""
    df = contract.QUERIES["docs_pack_chunks"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_profile_long_form_is_consistent(spark, sf_dir):
    rows = _rows(spark, sf_dir, "dbt_profile_events")
    assert {r.column_name for r in rows} == {
        "event_id", "user_id", "event_type", "value"}
    n = rows[0].n_rows
    for r in rows:
        assert r.n_rows == n
        assert 0 <= r.n_null <= n and 0 <= r.n_distinct <= n
        assert r.null_rate == r.n_null / n


def test_zscore_flags_are_grouped_not_global(spark, sf_dir):
    """z is computed against the row's own type: reconstructing the
    per-type moments from the full hourly relation must reproduce the
    reported z for every flagged hour."""
    import math

    ev = contract.QUERIES["events_zscore_hourly"](spark, sf_dir).collect()
    assert ev, "no anomalies flagged at sf0.01"
    from data_engineering_projects_spark.sources import load_table
    h = (load_table(spark, sf_dir, "events")
         .groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
         .count().collect())
    by_type: dict = {}
    for r in h:
        by_type.setdefault(r.event_type, []).append(r["count"])
    for r in ev:
        ns = by_type[r.event_type]
        mean = sum(ns) / len(ns)
        var = max(sum(x * x for x in ns) / len(ns) - mean * mean, 0.0)
        assert abs(r.z) >= 2
        assert r.z == pytest.approx((r.n - mean) / math.sqrt(var), rel=1e-9)


def test_mixture_sample_tracks_rate_map(spark, sf_dir):
    """Achieved rates follow the per-source targets (hash gate is uniform
    enough at 500+ docs/source to land within a wide tolerance), and the
    rate map actually differentiates sources."""
    rows = _rows(spark, sf_dir, "docs_mixture_sample")
    by_src = {r.source: r for r in rows}
    assert by_src["src0"].rate_per_mille == 1000
    assert by_src["src0"].n_kept == by_src["src0"].n_total  # 100% keeps all
    for r in rows:
        assert r.achieved_rate == r.n_kept / r.n_total
        if r.n_total >= 20:
            assert abs(r.achieved_rate - r.rate_per_mille / 1000.0) < 0.35
    rates = {r.rate_per_mille for r in rows}
    assert len(rates) >= 3


def test_incremental_ingest_finds_cross_split_near_dups(spark, sf_dir):
    """The planted near-identical pairs that straddle the 80/20 id split
    must surface as duplicates; novel docs carry NULL dup_of."""
    rows = _rows(spark, sf_dir, "dedup_incremental_ingest")
    dups = [r for r in rows if r.is_dup]
    assert len(dups) >= 3
    for r in dups:
        assert r.dup_of is not None and r.dup_of % 10 < 8
        assert r.best_jaccard >= 0.1
    for r in rows:
        if not r.is_dup:
            assert r.dup_of is None and r.best_jaccard is None
        assert r.doc_id % 10 >= 8


def test_ntiles_are_equal_count_and_ordered(spark, sf_dir):
    rows = _rows(spark, sf_dir, "events_value_ntiles")
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for tiles in by_type.values():
        tiles.sort(key=lambda r: r.quartile)
        assert [t.quartile for t in tiles] == [1, 2, 3, 4]
        assert max(t.n for t in tiles) - min(t.n for t in tiles) <= 1
        for a, b in zip(tiles, tiles[1:]):
            assert a.hi <= b.lo
        assert tiles[-1].max_cume == 1.0
