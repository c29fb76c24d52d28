"""Reference-parity queries, part 1: the four pandas pipelines (AWS TTI/PTI,
Azure severity/variability, BigQuery trends/exceedance, Snowflake LOTTR)
re-expressed on the driver's ``events`` table, plus general relational
coverage (joins/aggs/sorts/set-ops) on the TPC-H-ish star schema.

Mapping (FIXTURES.md §B): events.user_id ↔ tmc_code, events.value ↔
travel_time_seconds, events.ts ↔ measurement_tstamp; day-of-month plays the
reference's year-loop axis (the testdata spans one month).

Every query is a single lazy DataFrame plan: scans are parquet with pushed
filters/pruned columns, dimension joins are broadcast, top-k compiles to
TakeOrderedAndProject — the shapes that survive a 1000-executor scale-up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.temporal import period_bucket, PERIOD_BUCKET_SQL
from ..functions import metrics as M
from ..functions.determinism import (
    DEC_AVG_SQL, DEC_SUM_SQL, FOLD_AVG_SQL, FOLD_SUM_SQL,
    dec_avg, dec_sum, fold_avg, fold_sum, spark_pct_sql)
from ..operators.topk import topk_limit, topk_keys_semijoin
from ..operators.windows import lag_diff, pct_change
from ..operators.pivot import pivot_agg
from ..operators.setops import union_by_name
from ..sources import load_table, widen
from . import query

# DuckDB CTE normalizing events.ts from TIMESTAMP_NS to µs TIMESTAMP,
# matching what Spark reads (sources.load_table).
EV = "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"
PERIOD = PERIOD_BUCKET_SQL.format(ts="ts")


def _tt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events annotated with the NPMRDS-style period bucket."""
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("period", period_bucket(F.col("ts")))


def _tt_pcts() -> list:
    """p50/p85/p95 of value as ``tt50``/``tt85``/``tt95``, from one
    Percentile aggregate (``M.percentiles``)."""
    tt50, tt85, tt95 = M.percentiles("value", 0.5, 0.85, 0.95)
    return [tt50.alias("tt50"), tt85.alias("tt85"), tt95.alias("tt95")]


def _tti_per_key(spark, sf_dir, keys: list):
    """Shared: exact p50/p85/p95 of value per key set (1_AWS/README.md:95-103)."""
    return (
        _tt(spark, sf_dir)
        .filter(F.col("period").isNotNull())
        .groupBy(*keys)
        .agg(*_tt_pcts())
        .withColumn("tti", M.tti(F.col("tt85"), F.col("tt50")))
        .withColumn("pti", M.pti(F.col("tt95"), F.col("tt50")))
    )


# Sorted non-NULL value list — feeds spark_pct_sql so every oracle
# percentile mirrors Spark's duplicate-bracket short-circuit (round-8:
# events.value is 2dp-QUANTIZED, so duplicate interpolation brackets do
# occur — tools/percentile_bracket_audit.py found them at sf0.01 — and
# quantile_cont's arithmetic can drift one ulp from Spark there).
_VLIST = "list_sort(list(value) FILTER (WHERE value IS NOT NULL))"


def _pct(p: float) -> str:
    return spark_pct_sql("l", "len(l)", p)


_TTI_CTE = f"""
WITH ev AS ({EV}),
d AS (SELECT user_id, value, {PERIOD} AS period FROM ev),
ql AS (SELECT user_id, period, {_VLIST} AS l
       FROM d WHERE period IS NOT NULL GROUP BY user_id, period),
q AS (SELECT user_id, period,
             {_pct(0.5)} AS tt50,
             {_pct(0.85)} AS tt85,
             {_pct(0.95)} AS tt95
      FROM ql)
"""


@query("aws_tti_top10", _TTI_CTE + """
SELECT user_id, period, ROUND(tt50, 6) AS tt50, ROUND(tt85, 6) AS tt85,
       ROUND(tt95, 6) AS tt95, ROUND(tt85 / tt50, 6) AS tti,
       ROUND(tt95 / tt50, 6) AS pti
FROM q ORDER BY tt85 / tt50 DESC, user_id, period LIMIT 10
""")
def aws_tti_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: AWS monthly pipeline core (1_AWS/README.md:75-113) —
    period bucket → exact quantiles → TTI/PTI → top-10 by TTI.

    TTI/PTI divide bit-exact percentiles, so ordering by the exact ratio is
    engine-stable; ids break ties deterministically."""
    agg = _tti_per_key(spark, sf_dir, ["user_id", "period"])
    top = topk_limit(agg, 10, F.desc("tti"), F.col("user_id"), F.col("period"))
    return top.select(
        "user_id", "period",
        F.round("tt50", 6).alias("tt50"), F.round("tt85", 6).alias("tt85"),
        F.round("tt95", 6).alias("tt95"),
        F.round("tti", 6).alias("tti"), F.round("pti", 6).alias("pti"))


@query("aws_pti_top10", _TTI_CTE + """
SELECT user_id, period, ROUND(tt95 / tt50, 6) AS pti, ROUND(tt85 / tt50, 6) AS tti
FROM q ORDER BY tt95 / tt50 DESC, user_id, period LIMIT 10
""")
def aws_pti_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second AWS sink: top-10 by PTI (1_AWS/README.md:113)."""
    agg = _tti_per_key(spark, sf_dir, ["user_id", "period"])
    top = topk_limit(agg, 10, F.desc("pti"), F.col("user_id"), F.col("period"))
    return top.select("user_id", "period",
                      F.round("pti", 6).alias("pti"), F.round("tti", 6).alias("tti"))


@query("azure_severity_top10", f"""
WITH ev AS ({EV}),
ql AS (SELECT user_id, {_VLIST} AS l FROM ev GROUP BY user_id),
q AS (SELECT user_id,
             {_pct(0.5)} AS tt50,
             {_pct(0.85)} AS tt85,
             {_pct(0.95)} AS tt95
      FROM ql)
SELECT user_id, ROUND(tt85 / tt50, 6) AS tti, ROUND(tt95 / tt50, 6) AS pti,
       ROUND((tt85 / tt50 + tt95 / tt50) / 2, 6) AS severity
FROM q ORDER BY (tt85 / tt50 + tt95 / tt50) / 2 DESC, user_id LIMIT 10
""")
def azure_severity_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Azure yearly pipeline: severity=(TTI+PTI)/2 per segment, nlargest-10
    (2_Azure/READ.md:62-82)."""
    ev = load_table(spark, sf_dir, "events")
    agg = (ev.groupBy("user_id")
             .agg(*_tt_pcts())
             .withColumn("tti", M.tti(F.col("tt85"), F.col("tt50")))
             .withColumn("pti", M.pti(F.col("tt95"), F.col("tt50")))
             .withColumn("severity", M.severity(F.col("tti"), F.col("pti"))))
    top = topk_limit(agg, 10, F.desc("severity"), F.col("user_id"))
    return top.select("user_id", F.round("tti", 6).alias("tti"),
                      F.round("pti", 6).alias("pti"),
                      F.round("severity", 6).alias("severity"))


@query("azure_variability_top10", f"""
WITH ev AS ({EV}),
ql AS (SELECT user_id, weekofyear(ts) AS wk, {_VLIST} AS l
       FROM ev GROUP BY user_id, weekofyear(ts)),
q AS (SELECT user_id, wk,
             {_pct(0.5)} AS tt50,
             {_pct(0.85)} AS tt85,
             {_pct(0.95)} AS tt95
      FROM ql),
vr AS (SELECT user_id, (tt95 / tt50) / (tt85 / tt50) AS variability FROM q),
v AS (SELECT user_id,
             {FOLD_AVG_SQL.format(c='variability')} AS avg_variability
      FROM vr GROUP BY user_id)
SELECT user_id, ROUND(avg_variability, 6) AS avg_variability
FROM v ORDER BY ROUND(avg_variability, 6) DESC, user_id LIMIT 10
""")
def azure_variability_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Azure: variability=PTI/TTI per (segment, week) — week plays the
    reference's year axis — then cross-week mean, top-10
    (2_Azure/READ.md:73, :93-94). The cross-week mean folds the derived
    ratios in sorted order (``fold_avg``: run- and engine-deterministic;
    the group is bounded at 53 weeks), so the top-10 selection can't flip
    on a summation-order ulp."""
    ev = load_table(spark, sf_dir, "events")
    per_week = (ev.withColumn("wk", F.weekofyear("ts"))
                  .groupBy("user_id", "wk")
                  .agg(*_tt_pcts())
                  .withColumn("variability",
                              M.variability(M.tti(F.col("tt85"), F.col("tt50")),
                                            M.pti(F.col("tt95"), F.col("tt50")))))
    agg = per_week.groupBy("user_id").agg(
        fold_avg(F.col("variability")).alias("avg_variability"))
    top = topk_limit(agg, 10, F.desc(F.round("avg_variability", 6)), F.col("user_id"))
    return top.select("user_id", F.round("avg_variability", 6).alias("avg_variability"))


_BQ_TTI_CTE = f"""
WITH ev AS ({EV}),
d AS (SELECT user_id, CAST(ts AS DATE) AS day, value, {PERIOD} AS period FROM ev),
ql AS (SELECT user_id, day, period, {_VLIST} AS l
       FROM d WHERE period IS NOT NULL GROUP BY user_id, day, period),
q AS (SELECT user_id, day, period,
             {_pct(0.85)} / {_pct(0.5)} AS tti
      FROM ql)
"""


@query("bq_tti_trend_lag", _BQ_TTI_CTE + f"""
, top10 AS (SELECT user_id FROM q GROUP BY user_id
            ORDER BY ROUND({FOLD_AVG_SQL.format(c='tti')}, 6) DESC, user_id LIMIT 10),
daily AS (SELECT q.user_id, q.day,
                 {FOLD_AVG_SQL.format(c='q.tti')} AS avg_tti
          FROM q SEMI JOIN top10 ON q.user_id = top10.user_id
          GROUP BY q.user_id, q.day)
SELECT user_id, day, ROUND(avg_tti, 6) AS avg_tti,
       ROUND(COALESCE(avg_tti - LAG(avg_tti) OVER (PARTITION BY user_id ORDER BY day), 0), 6) + 0.0 AS tti_change
FROM daily
""")
def bq_tti_trend_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery trends (3_BigQuery/READ.md:109-116): top-10 segments by mean
    TTI → semi-join filter → per-day mean → lag diff with fillna(0).
    Day plays the reference's year axis. The implicit pandas row order
    becomes an explicit per-segment window ordered by day (§7.4 trap #3).
    Both TTI means are sorted folds over derived ratios (bounded groups:
    periods x days per segment), so the top-10 cut and the lagged series
    are deterministic across runs and engines."""
    tti = (_tt(spark, sf_dir)
           .filter(F.col("period").isNotNull())
           .withColumn("day", F.to_date("ts"))
           .groupBy("user_id", "day", "period")
           .agg(M.tti(*M.percentiles("value", 0.85, 0.5)).alias("tti"))
           # read twice (top-10 derivation + semi-join probe): persist the
           # small aggregated relation instead of re-running the exact-
           # percentile shuffle over the raw events
           .persist())
    top10 = topk_limit(tti.groupBy("user_id").agg(fold_avg(F.col("tti")).alias("m")),
                       10, F.desc(F.round("m", 6)), F.col("user_id")).select("user_id")
    daily = (topk_keys_semijoin(tti, top10, "user_id")
             .groupBy("user_id", "day").agg(fold_avg(F.col("tti")).alias("avg_tti")))
    out = lag_diff(daily, "avg_tti", "day", ["user_id"], out_col="tti_change")
    return out.select("user_id", "day", F.round("avg_tti", 6).alias("avg_tti"),
                      (F.round("tti_change", 6) + F.lit(0.0))
                      .alias("tti_change"))


@query("bq_exceedance", _BQ_TTI_CTE + """
SELECT user_id, period, ROUND(AVG(CAST(tti > 1.5 AS INT)), 6) AS exceed_rate,
       COUNT(*) AS n_days
FROM q GROUP BY user_id, period
""")
def bq_exceedance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exceedance rate = mean of boolean (TTI>1.5) per (segment, period)
    (3_BigQuery/READ.md:119-122); explicit int cast per §7.4 trap #5."""
    tti = (_tt(spark, sf_dir)
           .filter(F.col("period").isNotNull())
           .withColumn("day", F.to_date("ts"))
           .groupBy("user_id", "day", "period")
           .agg(M.tti(*M.percentiles("value", 0.85, 0.5)).alias("tti")))
    return (tti.groupBy("user_id", "period")
               .agg(F.round(F.avg(M.exceedance_flag(F.col("tti"))), 6).alias("exceed_rate"),
                    F.count(F.lit(1)).alias("n_days")))


_LOTTR_CTE = f"""
WITH ev AS ({EV}),
d AS (SELECT user_id, value, {PERIOD} AS period FROM ev),
ql AS (SELECT user_id, period, {_VLIST} AS l
       FROM d WHERE period IS NOT NULL GROUP BY user_id, period),
q AS (SELECT user_id, period,
             {_pct(0.8)} / {_pct(0.5)} AS lottr
      FROM ql)
"""


@query("snowflake_lottr_pivot", _LOTTR_CTE + """
SELECT user_id,
       ROUND(COALESCE(MAX(CASE WHEN period = 'amp' THEN lottr END), 0), 6) AS amp,
       ROUND(COALESCE(MAX(CASE WHEN period = 'mid' THEN lottr END), 0), 6) AS mid,
       ROUND(COALESCE(MAX(CASE WHEN period = 'pmp' THEN lottr END), 0), 6) AS pmp,
       ROUND(COALESCE(MAX(CASE WHEN period = 'we'  THEN lottr END), 0), 6) AS we
FROM q GROUP BY user_id
""")
def snowflake_lottr_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake LOTTR (4_Snowflake/READ.md:72-91): per-period p80/p50
    pivoted to one row per segment, missing periods filled with 0.

    The reference's iterated per-period merge loop (J2) becomes a single
    groupBy().pivot() — one shuffle instead of four join stages."""
    lottr = (_tt(spark, sf_dir)
             .filter(F.col("period").isNotNull())
             .groupBy("user_id", "period")
             .agg(M.lottr(*M.percentiles("value", 0.8, 0.5)).alias("lottr")))
    piv = pivot_agg(lottr, ["user_id"], "period", ["amp", "mid", "pmp", "we"],
                    F.first("lottr"), fill=None)
    return piv.select("user_id",
                      *[F.round(F.coalesce(F.col(p), F.lit(0.0)), 6).alias(p)
                        for p in ("amp", "mid", "pmp", "we")])


@query("snowflake_lottr_trend", f"""
WITH ev AS ({EV}),
d AS (SELECT user_id, CAST(ts AS DATE) AS day, value, {PERIOD} AS period FROM ev),
ql AS (SELECT day, user_id, user_id % 64 AS bucket, {_VLIST} AS l
       FROM d WHERE period IS NOT NULL
       GROUP BY day, user_id, user_id % 64, period),
q AS (SELECT day, user_id, bucket,
             {_pct(0.8)} / {_pct(0.5)} AS lottr
      FROM ql),
b AS (SELECT day, bucket, {FOLD_SUM_SQL.format(c='lottr')} AS bsum,
             COUNT(lottr) AS bn
      FROM q WHERE lottr IS NOT NULL GROUP BY day, bucket),
daily AS (SELECT day, {FOLD_SUM_SQL.format(c='bsum')} / SUM(bn) AS avg_lottr
          FROM b GROUP BY day)
SELECT day, ROUND(avg_lottr, 6) AS avg_lottr,
       ROUND(COALESCE((avg_lottr - LAG(avg_lottr) OVER (ORDER BY day))
                      / LAG(avg_lottr) OVER (ORDER BY day), 0), 6) + 0.0
         AS lottr_pct_change
FROM daily
""")
def snowflake_lottr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake trend table (4_Snowflake/READ.md:99-118): per-day global
    LOTTR mean + pct_change. The global window is a single partition —
    correct here because the series is one row per day (§7.4 trap #3);
    the heavy lifting (the groupBys) stays fully parallel.

    The per-day mean sums the derived ratios in sorted order — quantizing
    them through a DECIMAL cast is NOT safe: percentile ratios of 2dp
    data land exactly on 7-decimal rationals (e.g. 1.2521875), where
    Spark's shortest-repr HALF_UP cast and DuckDB's float-multiply cast
    disagree. A single fold's buffer would be data-bounded (users x
    periods per day), so this is the *two-level fold*: fold per (day,
    user_id % 64 bucket) — per-bucket fan-in is 1/64th of the day —
    then fold the <= 64 bucket sums and divide by the summed counts.
    Both levels are pure functions of their input multisets, so Spark
    and DuckDB agree bit-for-bit, and the bucket count is the memory
    knob at 100 TB (functions/determinism.py::fold_sum)."""
    lottr = (_tt(spark, sf_dir)
             .filter(F.col("period").isNotNull())
             .withColumn("day", F.to_date("ts"))
             .withColumn("bucket", F.col("user_id") % 64)
             .groupBy("day", "user_id", "bucket", "period")
             .agg(M.lottr(*M.percentiles("value", 0.8, 0.5)).alias("lottr")))
    buckets = (lottr.filter(F.col("lottr").isNotNull())
               .groupBy("day", "bucket")
               .agg(fold_sum(F.col("lottr")).alias("bsum"),
                    F.count("lottr").alias("bn")))
    daily = (buckets.groupBy("day")
             .agg((fold_sum(F.col("bsum")) / F.sum("bn")).alias("avg_lottr")))
    out = pct_change(daily, "avg_lottr", "day", out_col="lottr_pct_change")
    return out.select("day", F.round("avg_lottr", 6).alias("avg_lottr"),
                      (F.round("lottr_pct_change", 6) + F.lit(0.0))
                      .alias("lottr_pct_change"))


# ---------------------------------------------------------------------------
# Star-schema relational coverage (joins / aggs / sorts / set ops)
# ---------------------------------------------------------------------------

#: Exact decimal renderings of the TPC-H money expressions (all source
#: columns are 2dp doubles, so every cast below is exact — see
#: functions/determinism.py). Widths chosen so products stay within
#: DECIMAL(38): (12,2)*(4,2)=(17,4), *(4,2)=(22,6).
_DISC_PRICE_SQL = ("CAST(l_extendedprice AS DECIMAL(12,2))"
                   " * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))")
_CHARGE_SQL = (_DISC_PRICE_SQL
               + " * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))")


def _disc_price_dec() -> Column:
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_f = (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(4,2)")
    return price * disc_f


def _charge_dec() -> Column:
    tax_f = (F.lit(1) + F.col("l_tax").cast("decimal(4,2)")).cast("decimal(4,2)")
    return _disc_price_dec() * tax_f


@query("star_pricing_summary", f"""
SELECT l_returnflag, l_linestatus,
       ROUND({DEC_SUM_SQL.format(c='l_quantity', s=2)}, 2) AS sum_qty,
       ROUND({DEC_SUM_SQL.format(c='l_extendedprice', s=2)}, 2) AS sum_base_price,
       ROUND(CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE), 2) AS sum_disc_price,
       ROUND(CAST(SUM({_CHARGE_SQL}) AS DOUBLE), 2) AS sum_charge,
       ROUND({DEC_AVG_SQL.format(c='l_quantity', s=6)}, 6) AS avg_qty,
       ROUND({DEC_AVG_SQL.format(c='l_extendedprice', s=6)}, 6) AS avg_price,
       ROUND({DEC_AVG_SQL.format(c='l_discount', s=6)}, 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01'
GROUP BY l_returnflag, l_linestatus
""")
def star_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: the canonical multi-aggregate
    grouped scan (SURVEY.md A4/A7/A8 family). Filter + projection push to
    the parquet scan; partial aggregation makes the shuffle carry only
    6 groups × 8 aggregates.

    Every sum/avg routes through exact DECIMALs (2dp money columns, exact
    casts): with millions of rows per group a float sum's last-ulp depends
    on merge order, and ROUND(·,2) of it can flip between runs. Decimal
    accumulation is associative — same shuffle shape, deterministic
    output (functions/determinism.py).

    ``widen``: the local testdata writes each table as ONE parquet row
    group, so the scan stage — where all the per-row decimal work runs —
    is a single task regardless of split count. The round-robin
    repartition spreads the 8-aggregate decimal arithmetic across cores
    (measured 1.4s -> 0.8s at sf0.1) and is a no-op at 100 TB where scans
    arrive as thousands of row groups."""
    li = widen(load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-12-01").cast("timestamp")))
    return (li.groupBy("l_returnflag", "l_linestatus")
              .agg(F.round(dec_sum(F.col("l_quantity")), 2).alias("sum_qty"),
                   F.round(dec_sum(F.col("l_extendedprice")), 2).alias("sum_base_price"),
                   F.round(F.sum(_disc_price_dec()).cast("double"), 2).alias("sum_disc_price"),
                   F.round(F.sum(_charge_dec()).cast("double"), 2).alias("sum_charge"),
                   F.round(dec_avg(F.col("l_quantity")), 6).alias("avg_qty"),
                   F.round(dec_avg(F.col("l_extendedprice")), 6).alias("avg_price"),
                   F.round(dec_avg(F.col("l_discount")), 6).alias("avg_disc"),
                   F.count(F.lit(1)).alias("count_order")))


@query("star_pricing_p95_approx", f"""
WITH a AS (SELECT l_returnflag,
                  list_sort(list(CAST(l_extendedprice AS DOUBLE))
                            FILTER (WHERE l_extendedprice IS NOT NULL)) AS l,
                  COUNT(*) AS n,
                  COUNT(DISTINCT l_linestatus) AS n_parts
           FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, {spark_pct_sql('l', 'len(l)', 0.95)} AS p95_exact,
       n, TRUE AS within_bound,
       n_parts, TRUE AS within_bound_kll
FROM a
""")
def star_pricing_p95_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB opt-in for A1-A3 (SURVEY §4.3): GK-sketch
    `approx_percentile` instead of exact `percentile`. Same plan shape,
    O(accuracy) memory per group instead of buffering every value — the
    switch to flip when group cardinality stops fitting executor memory.

    Oracle-backed via an ERROR-BOUND check (the sketch value itself is
    engine-specific, so the hashed columns are the exact p95 plus a
    boolean the sketch must earn): with accuracy=10000 the GK guarantee
    is RANK error — the returned element's rank interval
    [count(< x)+1, count(<= x)] must overlap
    [floor((p-eps)·n), ceil((p+eps)·n)], eps = 1/accuracy. The check is
    rank-space, not value-space, because the sketch returns a discrete
    dataset element while interpolated quantile bounds can sit between
    two elements (observed failing for a 2,070-row group at sf0.001).
    Spark computes ``within_bound`` by joining the (group-cardinality,
    i.e. 3-row, broadcast) sketch output back over the scan; the oracle
    recomputes the exact p95 and asserts the bound column all-true by
    emitting the literal — a sketch regression beyond its guarantee
    breaks the hash. The verification pass costs a second scan; the
    production sketch path itself remains the one-shuffle aggregate.

    Round-11 widen-in-place (the sanctioned registry pattern — r9
    ``dedup_clusters.keep_doc_id`` precedent): the MERGEABLE-SKETCH tier
    (operators/sketches.py — KLL partition table at (returnflag,
    linestatus) grain, ``merge_kll`` rollup to returnflag) now rides the
    same driver row. ``n_parts`` pins the partition grain exactly
    (count of linestatus cells each rollup merged) and
    ``within_bound_kll`` rank-checks the merged sketch's p95 the same
    way — envelope 4× the published 99%-confidence KLL bound
    (kll_rank_error; KLL compaction is randomized by design, so the
    value itself is run-varying and only the bound is the contract —
    the ``events_user_reach_hll`` 4-sigma discipline).

    Flake triage (round-12 ADVICE — the sketch API exposes no seed to
    pin): ``within_bound_kll`` re-rolls KLL compaction per returnflag on
    every driver run, so a rank excursion past the 4× envelope would
    surface as an unreproducible red hash on this row. The odds are
    negligible by construction: the published bound is 99%-confidence
    (≈2.58σ of the sub-Gaussian rank-error tail), so 4× it sits at
    ≈10σ — per-cell excursion odds < 1e-20, × 3 cells × 1 run/round.
    If this row EVER goes red on ``within_bound_kll`` alone, re-run
    before investigating; two consecutive reds mean a real sketch
    regression, not the tail event."""
    from ..operators.sketches import (build_sketch_partitions,
                                      kll_rank_error,
                                      rollup_sketch_partitions)
    eps = 1.0 / 10000  # the accuracy=10000 rank-error guarantee
    kll_k = 2048
    eps_kll = 4.0 * kll_rank_error(kll_k)
    li3 = (load_table(spark, sf_dir, "lineitem")
           .select("l_returnflag", "l_linestatus",
                   F.col("l_extendedprice").cast("double").alias("price")))
    li = li3.select("l_returnflag", "price")
    ap = (li.groupBy("l_returnflag")
            .agg(F.approx_percentile("price", 0.95, 10000).alias("approx")))
    parts = build_sketch_partitions(
        li3, ["l_returnflag", "l_linestatus"], ["price"], kll_k=kll_k)
    rolled = (rollup_sketch_partitions(parts, ["l_returnflag"], ["price"])
              .join(parts.groupBy("l_returnflag")
                    .agg(F.count(F.lit(1)).alias("n_parts")),
                    "l_returnflag")
              .select("l_returnflag", "n_parts",
                      F.kll_sketch_get_quantile_double(
                          "kll_price", F.lit(0.95)).alias("kll_p95")))
    j = (li.join(F.broadcast(ap), "l_returnflag")
           .join(F.broadcast(rolled), "l_returnflag"))
    agg = (j.groupBy("l_returnflag", "n_parts")
             .agg(F.percentile("price", 0.95).alias("exact"),
                  F.count(F.lit(1)).alias("n"),
                  F.sum((F.col("price") < F.col("approx")).cast("long"))
                   .alias("n_below"),
                  F.sum((F.col("price") <= F.col("approx")).cast("long"))
                   .alias("n_at_or_below"),
                  F.sum((F.col("price") < F.col("kll_p95")).cast("long"))
                   .alias("n_below_kll"),
                  F.sum((F.col("price") <= F.col("kll_p95")).cast("long"))
                   .alias("n_at_or_below_kll")))
    lo_rank = F.floor((0.95 - eps) * F.col("n"))
    hi_rank = F.ceil((0.95 + eps) * F.col("n"))
    lo_kll = F.floor((0.95 - eps_kll) * F.col("n"))
    hi_kll = F.ceil((0.95 + eps_kll) * F.col("n"))
    # p95_exact is emitted UNROUNDED (round-5 ADVICE): ROUND of an
    # interpolated double is the known half-boundary hash flake
    # (functions/determinism.py). Both engines share the interpolation
    # arithmetic (ceil(pos)-pos)*lo + (pos-floor(pos))*hi on DISTINCT
    # brackets, but 2dp money duplicates, and on a duplicate bracket
    # Spark short-circuits to the stored value while quantile_cont's
    # arithmetic can drift one ulp (tests/test_round7.py) — so the
    # oracle renders the percentile via spark_pct_sql (round-8).
    return agg.select(
        "l_returnflag", F.col("exact").alias("p95_exact"), "n",
        ((F.col("n_below") + 1 <= hi_rank)
         & (F.col("n_at_or_below") >= lo_rank)).alias("within_bound"),
        "n_parts",
        ((F.col("n_below_kll") + 1 <= hi_kll)
         & (F.col("n_at_or_below_kll") >= lo_kll))
        .alias("within_bound_kll"))


@query("star_small_quantity_revenue", f"""
WITH pf AS (SELECT p_partkey FROM part
            WHERE p_brand = 'Brand#12' AND p_size <= 15),
lf AS (SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
       FROM lineitem l JOIN pf ON l.l_partkey = pf.p_partkey),
qa AS (SELECT l_partkey,
              {DEC_AVG_SQL.format(c='l_quantity', s=6)} AS avg_qty
       FROM lf GROUP BY l_partkey)
SELECT {DEC_SUM_SQL.format(c='l.l_extendedprice', s=2)} / 7.0 AS avg_yearly,
       COUNT(*) AS n_small
FROM lf l JOIN qa ON l.l_partkey = qa.l_partkey
WHERE l.l_quantity < 0.2 * qa.avg_qty
""")
def star_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped: revenue lost to small-quantity orders for a
    selective part family — the canonical AGGREGATE-THEN-JOIN-BACK
    decorrelation (a correlated scalar subquery ``l_quantity <
    0.2·avg(per part)`` rewritten as a grouped avg joined back to the
    fact rows).

    100 TB shape, in order: (1) the selective part dim filter broadcasts
    and prunes lineitem FIRST, so both the per-part average and the
    join-back run over the filtered fact slice, never the full table;
    (2) the per-part avg relation is bounded by the filtered part count
    — broadcast for the join-back, so lineitem is scanned once and
    shuffled once (for the avg), and the probe side never moves. The avg
    routes through exact DECIMAL (integer quantities — order-independent)
    and the final quotient is emitted raw per the derived-ratio rule."""
    p = (load_table(spark, sf_dir, "part")
         .filter((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 15))
         .select("p_partkey"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    lf = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).drop("p_partkey")
    qa = lf.groupBy("l_partkey").agg(
        dec_avg(F.col("l_quantity"), scale=6).alias("avg_qty"))
    small = (lf.join(F.broadcast(qa), "l_partkey")
             .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty")))
    return small.agg(
        (dec_sum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"))


@query("star_top_orders_by_revenue", f"""
SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
       ROUND(CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
ORDER BY ROUND(CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE), 2) DESC, o.o_orderkey
LIMIT 10
""")
def star_top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective dim filter → fact join → grouped revenue →
    distributed top-10 (TakeOrderedAndProject, no global sort). The filtered
    customer side is broadcast: no shuffle of lineitem for the join."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(F.broadcast(c), o.o_custkey == c.c_custkey))
    agg = (j.groupBy("o_orderkey", F.to_date("o_orderdate").alias("order_date"))
            .agg(F.round(F.sum(_disc_price_dec()).cast("double"), 2)
                  .alias("revenue")))
    return topk_limit(agg, 10, F.desc("revenue"), F.col("o_orderkey"))


@query("star_region_revenue", f"""
SELECT r.r_name AS region, n.n_name AS nation,
       ROUND(CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""")
def star_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped snowflake join chain. All three dims broadcast —
    the 100 TB fact table never shuffles for the joins, only for the final
    25-group aggregate. ``widen``: with every join broadcast, the probe +
    decimal partial agg all run in the scan stage, which the single-row-
    group local testdata serializes to one task; the repartition spreads
    that work and is a no-op at real scale (see star_pricing_summary)."""
    li = widen(load_table(spark, sf_dir, "lineitem"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
           .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (j.groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
             .agg(F.round(F.sum(_disc_price_dec()).cast("double"), 2)
                   .alias("revenue"),
                  F.count(F.lit(1)).alias("n_items")))


@query("star_customers_without_orders", f"""
SELECT c.c_mktsegment, COUNT(*) AS n_customers,
       ROUND({DEC_AVG_SQL.format(c='c.c_acctbal', s=6)}, 6) AS avg_acctbal
FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
""")
def star_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (J9 — the dbt ``relationships`` test shape): customers
    with no orders, summarized per segment."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
             .groupBy("c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n_customers"),
                  F.round(dec_avg(F.col("c_acctbal")), 6).alias("avg_acctbal")))


@query("star_union_segments", f"""
WITH hi AS (SELECT c_custkey, c_mktsegment, c_acctbal, 'high' AS tier
            FROM customer WHERE c_acctbal > 7500),
lo AS (SELECT c_custkey, c_mktsegment, c_acctbal, 'low' AS tier
       FROM customer WHERE c_acctbal < 0)
SELECT tier, c_mktsegment, COUNT(*) AS n,
       ROUND({DEC_AVG_SQL.format(c='c_acctbal', s=6)}, 6) AS avg_bal
FROM (SELECT * FROM hi UNION ALL SELECT * FROM lo)
GROUP BY tier, c_mktsegment
""")
def star_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/A14: ``pd.concat`` → unionByName → aggregate. Unions are
    metadata-only in Spark: no shuffle until the groupBy."""
    c = load_table(spark, sf_dir, "customer")
    hi = c.filter(F.col("c_acctbal") > 7500).withColumn("tier", F.lit("high"))
    lo = c.filter(F.col("c_acctbal") < 0).withColumn("tier", F.lit("low"))
    u = union_by_name(hi, lo)
    return (u.groupBy("tier", "c_mktsegment")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(dec_avg(F.col("c_acctbal")), 6).alias("avg_bal")))


@query("star_part_buckets", f"""
SELECT CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_bucket,
       lower(p_type) AS type_lc,
       COUNT(*) AS n_parts,
       ROUND({DEC_AVG_SQL.format(c='p_retailprice', s=6)}, 6) AS avg_price,
       CAST(SUM(CASE WHEN p_brand LIKE 'Brand#1%' THEN 1 ELSE 0 END) AS BIGINT) AS brand1x
FROM part
GROUP BY 1, 2
""")
def star_part_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6/E7: CASE bucketing + string match/normalize (the dbt incident-type
    standardization shape, 5_dbt/READ.md:252-257)."""
    p = load_table(spark, sf_dir, "part")
    bucket = (F.when(F.col("p_size") < 10, "small")
               .when(F.col("p_size") < 30, "medium").otherwise("large"))
    return (p.groupBy(bucket.alias("size_bucket"), F.lower("p_type").alias("type_lc"))
             .agg(F.count(F.lit(1)).alias("n_parts"),
                  F.round(dec_avg(F.col("p_retailprice")), 6).alias("avg_price"),
                  F.sum(F.when(F.col("p_brand").like("Brand#1%"), 1).otherwise(0))
                   .cast("bigint").alias("brand1x")))


@query("star_orders_between", f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND({DEC_SUM_SQL.format(c='o_totalprice', s=2)}, 2) AS total_price,
       COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS n_days
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY o_orderpriority
""")
def star_orders_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 BETWEEN predicate + A10 COUNT(DISTINCT expr). The BETWEEN pushes
    into the parquet scan (row-group min/max skipping at scale)."""
    o = load_table(spark, sf_dir, "orders")
    return (o.filter(F.col("o_orderdate").between(
                F.lit("1996-01-01").cast("timestamp"),
                F.lit("1997-12-31").cast("timestamp")))
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.round(dec_sum(F.col("o_totalprice")), 2).alias("total_price"),
                  F.countDistinct(F.to_date("o_orderdate")).alias("n_days")))


@query("star_priority_bigorder_rate", """
SELECT o_orderpriority,
       ROUND(AVG(CAST(o_totalprice > 100000 AS INT)), 6) AS big_rate,
       COUNT(*) AS n
FROM orders GROUP BY o_orderpriority
""")
def star_priority_bigorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 mean-of-boolean with explicit int cast (§7.4 trap #5)."""
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
             .agg(F.round(F.avg((F.col("o_totalprice") > 100000).cast("int")), 6)
                   .alias("big_rate"),
                  F.count(F.lit(1)).alias("n")))


@query("customers_cohort_setops", """
WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                   AND TIMESTAMP '1996-12-31'),
y97 AS (SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
                              AND TIMESTAMP '1997-12-31'),
retained AS (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97),
churned AS (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97),
acquired AS (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y96)
SELECT 'retained' AS cohort, CAST(COUNT(*) AS BIGINT) AS n FROM retained
UNION ALL
SELECT 'churned' AS cohort, CAST(COUNT(*) AS BIGINT) AS n FROM churned
UNION ALL
SELECT 'acquired' AS cohort, CAST(COUNT(*) AS BIGINT) AS n FROM acquired
""")
def customers_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year retention cohorts via INTERSECT / EXCEPT — the two
    set operations UNION-only coverage (U1) left out. Spark plans both as
    key-partitioned joins (semi for intersect, anti for except) on the
    deduplicated customer keys: shuffle only the key column, never the
    order rows."""
    o = load_table(spark, sf_dir, "orders")

    def year_keys(y: str):
        return (o.filter(F.col("o_orderdate").between(
                    F.lit(f"{y}-01-01").cast("timestamp"),
                    F.lit(f"{y}-12-31").cast("timestamp")))
                 .select("o_custkey").distinct())

    y96, y97 = year_keys("1996"), year_keys("1997")
    def count_as(df, name):
        return df.agg(F.count(F.lit(1)).alias("n")) \
                 .select(F.lit(name).alias("cohort"), "n")
    return (count_as(y96.intersect(y97), "retained")
            .unionByName(count_as(y96.exceptAll(y97), "churned"))
            .unionByName(count_as(y97.exceptAll(y96), "acquired")))


@query("events_value_hour_corr", f"""
WITH ev AS ({EV}),
m AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
         CAST(SUM(hour(ts)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(value AS DECIMAL(18,6)) * hour(ts)) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
         CAST(SUM(hour(ts) * hour(ts)) AS DOUBLE) AS syy
  FROM ev GROUP BY event_type)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND((n * sxy - sx * sy)
             / NULLIF(SQRT(GREATEST((n * sxx - sx * sx) * (n * syy - sy * sy),
                                    0.0)), 0.0), 6) + 0.0
         AS corr_value_hour
FROM m
""")
def events_value_hour_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (value vs hour-of-day) per event type, computed
    from *exact* DECIMAL/integer moment sums instead of the engine's
    Welford accumulator — the same determinism treatment as the 3-sigma
    stddev: order-independent sums, identical double expression tree on
    both engines (functions/determinism.py).

    The variance product is cancellation-prone: for a (near-)constant
    group it can land a few ulps below zero, where DuckDB's SQRT raises
    ``Out of Range Error`` while Spark returns NaN. Both engines clamp
    with GREATEST(expr, 0) and NULLIF the zero denominator (undefined
    correlation -> NULL on both) so the oracle can never hard-error."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    h = F.hour("ts")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("sx"),
        F.sum(h).cast("double").alias("sy"),
        F.sum(dec * h).cast("double").alias("sxy"),
        F.sum(dec * dec).cast("double").alias("sxx"),
        F.sum(h * h).cast("double").alias("syy"))
    var_prod = ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
    denom = F.nullif(F.sqrt(F.greatest(var_prod, F.lit(0.0))), F.lit(0.0))
    corr = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom)
    return m.select("event_type", F.col("n").cast("bigint").alias("n"),
                    (F.round(corr, 6) + F.lit(0.0)).alias("corr_value_hour"))


@query("star_nation_revenue_share", f"""
WITH nat AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         ROUND(CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE), 2) AS revenue
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name)
SELECT region, nation, revenue,
       revenue / CAST(SUM(CAST(revenue AS DECIMAL(18,2)))
                      OVER (PARTITION BY region) AS DOUBLE)
         AS region_share
FROM nat
""")
def star_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio-to-report): each nation's share of its
    region's revenue via a window SUM over the grouped result. The window
    total re-enters the exact DECIMAL domain (the 2dp rounded revenue
    casts back exactly), so the 5-row window sum is order-independent —
    a raw double window SUM would depend on partition row order. The
    share is emitted as the RAW quotient (round-6: identical-operand IEEE
    division is bit-exact cross-engine, while ROUND of a derived quotient
    is the r3 `embed_label_centroids` half-boundary divergence class the
    repo rule at contract/__init__.py forbids)."""
    li = widen(load_table(spark, sf_dir, "lineitem"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
           .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    nat = (j.groupBy(F.col("r_name").alias("region"),
                     F.col("n_name").alias("nation"))
            .agg(F.round(F.sum(_disc_price_dec()).cast("double"), 2)
                  .alias("revenue")))
    w = Window.partitionBy("region")
    total = F.sum(F.col("revenue").cast("decimal(18,2)")).over(w).cast("double")
    return nat.select("region", "nation", "revenue",
                      (F.col("revenue") / total).alias("region_share"))
