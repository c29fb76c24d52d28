"""Mergeable-sketch partition tables (operators/sketches.py).

Policy tier: BOUND-checked (KLL compaction is randomized by design — the
sketch guarantees rank error, not bit stability), same tier as the GK
error-bound contract on ``star_pricing_p95_approx``. HLL estimates are
deterministic and exact-checked where cardinality permits.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_engineering_projects_spark.operators.sketches import (
    build_sketch_partitions,
    kll_rank_error,
    rollup_sketch_partitions,
    sketch_quantiles,
    upsert_sketch_partitions,
)

VALUE_COLS = ["value"]
PART = ["event_type", "day"]
KLL_K = 2048


def _events_with_day(spark, sf_dir):
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return ev.withColumn("day", F.to_date(F.col("ts"))).select(
        "event_type", "day", "value", "user_id")


@pytest.fixture(scope="module")
def sketch_table(spark, sf_dir):
    sk = build_sketch_partitions(
        _events_with_day(spark, sf_dir), PART, VALUE_COLS,
        distinct_col="user_id", kll_k=KLL_K)
    sk.persist()
    sk.count()
    yield sk
    sk.unpersist()


def _exact_rank(spark, sf_dir, event_type, value):
    ev = _events_with_day(spark, sf_dir).filter(
        F.col("event_type") == event_type)
    total = ev.count()
    below = ev.filter(F.col("value") <= value).count()
    return below / total


def test_rollup_quantiles_within_kll_bound(spark, sf_dir, sketch_table):
    """p50/p85/p95 per event_type from merged DAILY sketches land within
    the published KLL rank bound of the exact percentile — the sketch
    tier answers the reference's TTI/PTI-style query without re-reading
    raw rows."""
    merged = rollup_sketch_partitions(
        sketch_table, ["event_type"], VALUE_COLS, distinct_col="user_id")
    out = sketch_quantiles(
        merged, "value", {"p50": 0.5, "p85": 0.85, "p95": 0.95},
        distinct_col="user_id", keep_cols=["event_type"])
    eps = kll_rank_error(KLL_K) * 1.5  # merge + discreteness headroom
    rows = out.collect()
    assert rows
    for r in rows:
        for name, target in (("p50", .5), ("p85", .85), ("p95", .95)):
            achieved = _exact_rank(spark, sf_dir, r["event_type"], r[name])
            assert abs(achieved - target) <= eps, (
                r["event_type"], name, achieved, target, eps)


def test_hll_distinct_exact_at_fixture_cardinality(spark, sf_dir,
                                                   sketch_table):
    """HLL union over daily sketches: deterministic, and at fixture
    cardinality (≤ a few thousand users per type at lgK=14) within 2%
    of exact COUNT(DISTINCT); the global union is compared to the exact
    global distinct too (union must deduplicate across days)."""
    merged = rollup_sketch_partitions(
        sketch_table, ["event_type"], VALUE_COLS, distinct_col="user_id")
    got = {r["event_type"]: r["est"] for r in merged.select(
        "event_type",
        F.hll_sketch_estimate("hll_user_id").alias("est")).collect()}
    exact = {r["event_type"]: r["d"] for r in
             _events_with_day(spark, sf_dir).groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("d")).collect()}
    assert set(got) == set(exact)
    for t, d in exact.items():
        assert abs(got[t] - d) <= max(1, 0.02 * d), (t, got[t], d)
    g = rollup_sketch_partitions(sketch_table, [], VALUE_COLS,
                                 distinct_col="user_id")
    est = g.select(F.hll_sketch_estimate("hll_user_id").alias("e")).first()["e"]
    d = _events_with_day(spark, sf_dir).select("user_id").distinct().count()
    assert abs(est - d) <= max(1, 0.02 * d)


def test_algebraic_stats_merge_exactly(spark, sf_dir, sketch_table):
    """n/sum/min/max ride along and merge EXACTLY (no sketch error):
    the rollup's algebraic tier must equal a direct groupBy on raw."""
    merged = rollup_sketch_partitions(
        sketch_table, ["event_type"], VALUE_COLS, distinct_col="user_id")
    got = {r["event_type"]: (r["n_rows"], round(r["sum_value"], 6),
                             r["min_value"], r["max_value"])
           for r in merged.collect()}
    exact = {r["event_type"]: (r["n"], round(r["s"], 6), r["mn"], r["mx"])
             for r in _events_with_day(spark, sf_dir).groupBy("event_type")
             .agg(F.count("*").alias("n"), F.sum("value").alias("s"),
                  F.min("value").alias("mn"), F.max("value").alias("mx"))
             .collect()}
    assert got == exact


def test_parquet_round_trip_preserves_sketches(spark, sketch_table,
                                               tmp_path):
    """The sketch partition table IS the persisted state: binary sketch
    columns must survive a parquet round trip and still merge/query."""
    p = str(tmp_path / "sk")
    sketch_table.write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p)
    # parquet read-back relaxes nullability; names + types must survive
    assert [(f.name, f.dataType) for f in back.schema.fields] == \
           [(f.name, f.dataType) for f in sketch_table.schema.fields]
    merged = rollup_sketch_partitions(back, [], VALUE_COLS,
                                      distinct_col="user_id")
    row = sketch_quantiles(merged, "value", {"p50": 0.5},
                           distinct_col="user_id").first()
    assert row["n_rows"] == sketch_table.agg(F.sum("n_rows")).first()[0]
    assert row["p50"] is not None and row["distinct_user_id"] > 0


def test_incremental_upsert_matches_full_build(spark, sf_dir):
    """Split raw data in two halves by day, sketch each, upsert — the
    grain (rows per key, n_rows) must equal the one-shot build exactly,
    the HLL estimates must match the one-shot build exactly (HLL union
    is deterministic), and KLL quantiles must stay in bound. Also pins
    the late-data path: the second half re-lands keys from the first
    (same day, new rows) and the sketches must MERGE, not duplicate."""
    ev = _events_with_day(spark, sf_dir)
    # split inside each day by user parity → every day appears in BOTH
    # halves, so every key takes the merge path.
    first = ev.filter(F.col("user_id") % 2 == 0)
    second = ev.filter(F.col("user_id") % 2 == 1)
    sk1 = build_sketch_partitions(first, PART, VALUE_COLS,
                                  distinct_col="user_id", kll_k=KLL_K)
    sk2 = build_sketch_partitions(second, PART, VALUE_COLS,
                                  distinct_col="user_id", kll_k=KLL_K)
    upserted = upsert_sketch_partitions(sk1, sk2, PART, VALUE_COLS,
                                        distinct_col="user_id")
    oneshot = build_sketch_partitions(ev, PART, VALUE_COLS,
                                      distinct_col="user_id", kll_k=KLL_K)
    a = {tuple(r[c] for c in PART): r["n_rows"] for r in upserted.collect()}
    b = {tuple(r[c] for c in PART): r["n_rows"] for r in oneshot.collect()}
    assert a == b
    # HLL determinism: global estimate identical either way
    ga = rollup_sketch_partitions(upserted, [], VALUE_COLS, "user_id")
    gb = rollup_sketch_partitions(oneshot, [], VALUE_COLS, "user_id")
    ea = ga.select(F.hll_sketch_estimate("hll_user_id").alias("e")).first()["e"]
    eb = gb.select(F.hll_sketch_estimate("hll_user_id").alias("e")).first()["e"]
    assert ea == eb
    # KLL: global p85 from the upserted state within bound of exact
    p85 = sketch_quantiles(ga, "value", {"p85": 0.85}).first()["p85"]
    total = ev.count()
    below = ev.filter(F.col("value") <= p85).count()
    assert abs(below / total - 0.85) <= kll_rank_error(KLL_K) * 1.5


def test_rollup_reads_only_sketch_rows(spark, sf_dir, sketch_table, tmp_path):
    """Scale contract: answering a quantile over N partitions is a plan
    over the sketch table alone — no scan of the raw events parquet may
    appear, and the input is exactly the partition-grain rows."""
    p = str(tmp_path / "sk2")
    sketch_table.write.mode("overwrite").parquet(p)
    back = spark.read.parquet(p)
    merged = rollup_sketch_partitions(back, ["event_type"], VALUE_COLS,
                                      distinct_col="user_id")
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "events.parquet" not in plan
    assert back.count() == sketch_table.count()


def test_sketch_partition_row_is_small(sketch_table):
    """State-size contract: a (type, day) sketch row must be KBs, not
    MBs — 365 days × 1e4 groups must stay a small table. KLL k=2048 on
    ~1e4 values serializes ≈ 16–40 KB; HLL lgK=14 ≤ ~16 KB (sparse far
    less)."""
    r = sketch_table.select(
        F.octet_length("kll_value").alias("kb_kll"),
        F.octet_length("hll_user_id").alias("kb_hll")).agg(
        F.max("kb_kll").alias("mk"), F.max("kb_hll").alias("mh")).first()
    assert r["mk"] < 200_000 and r["mh"] < 200_000


def test_sketch_drift_detects_planted_shift(spark):
    """Drift report from sketches alone: 8 days of a stable distribution
    per group, day 8 shifted +100 in group 'b' only — drift must surface
    ~+100 for ('b', day 8), ~0 for ('a', day 8), and no row may exist
    for days without a complete 7-day trailing window."""
    from datetime import date

    from data_engineering_projects_spark.operators.sketches import (
        sketch_drift)

    rows = []
    for day in range(1, 9):
        for grp in ("a", "b"):
            shift = 100.0 if (grp == "b" and day == 8) else 0.0
            for i in range(400):
                # deterministic spread in [0, 10)
                rows.append((grp, date(2026, 1, day),
                             (i % 100) / 10.0 + shift, i))
    df = spark.createDataFrame(
        rows, "event_type string, day date, value double, user_id long")
    sk = build_sketch_partitions(df, PART, VALUE_COLS,
                                 distinct_col="user_id", kll_k=KLL_K)
    rep = sketch_drift(sk, ["event_type"], "day", "value", prob=0.5,
                       window_days=7)
    got = {(r["event_type"], r["day"].day): r for r in rep.collect()}
    # only day 8 has 7 complete prior days
    assert set(got) == {("a", 8), ("b", 8)}
    assert abs(got[("a", 8)]["drift"]) < 0.5
    assert abs(got[("b", 8)]["drift"] - 100.0) < 0.5
    assert got[("b", 8)]["baseline_days"] == 7
    # the report plan reads only the sketch relation (grain^2-bounded
    # self-join), never the raw rows: n_rows carried from the sketch
    assert got[("b", 8)]["n_rows"] == 400


def test_events_sketch_drift_total_over_null_values(spark, tmp_path):
    """Round-14 ADVICE: the drift query's rank verification must be
    total over NULL event values — kll_sketch_agg_double ignores NULLs,
    so the median's rank lives in the NON-NULL distribution; counting
    every row as n deflated the relative rank below the lower bound and
    flipped within_day/within_base false against the oracle's literal
    TRUE. Plant NULLs into a copy of the sf0.001 events table (~12% of
    rows, deterministic) and differential-check the full contract query
    against its own oracle on the modified fixture."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_engineering_projects_spark import contract
    from tests.oracle import STAR_TABLES, compare

    contract.load_all()
    src = "/root/testdata/sf0.001"
    d = str(tmp_path / "sf")
    os.makedirs(d)
    for t in STAR_TABLES:
        if t != "events":
            os.symlink(f"{src}/{t}.parquet", f"{d}/{t}.parquet")
    tbl = pq.read_table(f"{src}/events.parquet")
    mask = pc.equal(pc.bit_wise_and(tbl["event_id"], 7), 0)
    assert pc.sum(mask).as_py() > 0
    value = pc.if_else(mask, pa.scalar(None, pa.float64()), tbl["value"])
    pq.write_table(tbl.set_column(tbl.schema.get_field_index("value"),
                                  "value", value),
                   f"{d}/events.parquet")
    compare(contract.QUERIES["events_sketch_drift"](spark, d),
            contract.ORACLES["events_sketch_drift"], d)
