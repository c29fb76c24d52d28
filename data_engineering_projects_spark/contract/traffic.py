"""Reference-parity queries, part 2: the dbt traffic-congestion pipeline
(5_dbt) re-expressed on the driver's tables.

Mapping onto the driver testdata (FIXTURES.md §B):
- speed sensor readings  = events[event_type='view']   (value -> speed)
- volume counts          = events[event_type='click']  (floor(value*10) -> vehicle_count)
- incidents              = events[event_type='error']  (floor(value)%5+1 -> severity)
- location dimension     = customer (c_custkey -> location_id; speed_limit
  = 25 + (key%10)*5, lanes = 1 + key%5 — deterministic derived attributes)

The dbt staging→intermediate→marts chain is a single lazy plan here:
"views" stay unmaterialized, so Catalyst fuses the whole model DAG
(SURVEY.md §3 entry point 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import clean_range
from ..functions import metrics as M
from ..functions.determinism import (
    DEC_AVG_SQL, FOLD_AVG_SQL, HALF_ROUND_SQL, dec_avg, fold_avg, half_round)
from ..sources import load_table
from . import query

#: Order-independent mean of ``speed`` (<=2dp data — the DECIMAL(18,6) cast
#: is exact; see functions/determinism.py). Replaces AVG(speed) everywhere:
#: float AVG is summation-order-dependent, which made ROUND(AVG(speed),6)
#: flip on half-boundaries (the CORRECTNESS_r01 dbt_congestion_hourly flake).
_SPEED_AVG_SQL = DEC_AVG_SQL.format(c="speed", s=6)

EV = "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"

# --- staging models (5_dbt/READ.md:149-229) --------------------------------

_STG_SPEED_SQL = f"""
stg_speed AS (
  SELECT user_id AS location_id, date_trunc('hour', ts) AS recorded_hour,
         CASE WHEN value < 0 OR value > 120 THEN NULL ELSE value END AS speed
  FROM ev WHERE event_type = 'view')
"""

_STG_VOLUME_SQL = f"""
stg_volume AS (
  SELECT user_id AS location_id, date_trunc('hour', ts) AS recorded_hour,
         CAST(floor(value * 10) AS INT) AS vehicle_count
  FROM ev WHERE event_type = 'click')
"""

_STG_INCIDENT_SQL = f"""
stg_incident AS (
  SELECT user_id AS location_id, date_trunc('hour', ts) AS incident_hour,
         CAST(floor(value) AS INT) % 5 + 1 AS severity
  FROM ev WHERE event_type = 'error')
"""

_DIM_SQL = """
dim_loc AS (
  SELECT c_custkey AS location_id,
         25 + (c_custkey % 10) * 5 AS speed_limit,
         1 + (c_custkey % 5) AS lanes,
         c_mktsegment AS road_type
  FROM customer)
"""


def _stg_speed(spark, sf_dir) -> DataFrame:
    """stg_traffic_speed analog (5_dbt/READ.md:197-229): rename projection +
    range-clamp cleaning CASE."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    return ev.select(F.col("user_id").alias("location_id"),
                     F.date_trunc("hour", "ts").alias("recorded_hour"),
                     clean_range(F.col("value"), 0, 120).alias("speed"))


def _stg_volume(spark, sf_dir) -> DataFrame:
    """stg_traffic_volume analog (5_dbt/READ.md:149-184)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    return ev.select(F.col("user_id").alias("location_id"),
                     F.date_trunc("hour", "ts").alias("recorded_hour"),
                     F.floor(F.col("value") * 10).cast("int").alias("vehicle_count"))


def _stg_incident(spark, sf_dir) -> DataFrame:
    """stg_traffic_incidents analog (5_dbt/READ.md:233-264)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    return ev.select(F.col("user_id").alias("location_id"),
                     F.date_trunc("hour", "ts").alias("incident_hour"),
                     (F.floor("value").cast("int") % 5 + 1).alias("severity"))


def _dim_loc(spark, sf_dir) -> DataFrame:
    """stg_locations analog (5_dbt/READ.md:266-295) derived from customer."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(F.col("c_custkey").alias("location_id"),
                    (F.lit(25) + (F.col("c_custkey") % 10) * 5).alias("speed_limit"),
                    (F.lit(1) + F.col("c_custkey") % 5).alias("lanes"),
                    F.col("c_mktsegment").alias("road_type"))


@query("dbt_hourly_speed_metrics", f"""
WITH ev AS ({EV}), {_STG_SPEED_SQL}
SELECT location_id, recorded_hour,
       ROUND({_SPEED_AVG_SQL}, 6) AS avg_speed,
       MIN(speed) AS min_speed, MAX(speed) AS max_speed,
       ROUND(quantile_cont(speed, 0.5), 6) AS median_speed,
       COUNT(speed) AS reading_count
FROM stg_speed WHERE speed IS NOT NULL
GROUP BY location_id, recorded_hour
""")
def dbt_hourly_speed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int_hourly_congestion speed side (5_dbt/READ.md:398-412): AVG/MIN/MAX/
    COUNT per (location, hour) + the PERCENTILE_CONT-as-window quirk (W7)
    folded into the aggregate — same result (window partition == group key),
    one shuffle instead of two (SURVEY.md §7.4 trap #8)."""
    s = _stg_speed(spark, sf_dir).filter(F.col("speed").isNotNull())
    return (s.groupBy("location_id", "recorded_hour")
             .agg(F.round(dec_avg(F.col("speed")), 6).alias("avg_speed"),
                  F.min("speed").alias("min_speed"),
                  F.max("speed").alias("max_speed"),
                  F.round(F.percentile("speed", 0.5), 6).alias("median_speed"),
                  F.count("speed").alias("reading_count")))


_CONGESTION_CTE = f"""
WITH ev AS ({EV}), {_STG_SPEED_SQL}, {_STG_VOLUME_SQL}, {_STG_INCIDENT_SQL}, {_DIM_SQL},
speed_metrics AS (
  SELECT location_id, recorded_hour, {_SPEED_AVG_SQL} AS avg_speed
  FROM stg_speed WHERE speed IS NOT NULL GROUP BY location_id, recorded_hour),
volume_metrics AS (
  SELECT location_id, recorded_hour,
         CAST(SUM(vehicle_count) AS BIGINT) AS total_volume
  FROM stg_volume GROUP BY location_id, recorded_hour),
incident_impact AS (
  SELECT location_id, incident_hour, COUNT(*) AS incident_count,
         MAX(severity) AS max_severity
  FROM stg_incident GROUP BY location_id, incident_hour),
combined AS (
  SELECT COALESCE(s.location_id, v.location_id) AS location_id,
         COALESCE(s.recorded_hour, v.recorded_hour) AS recorded_hour,
         s.avg_speed, v.total_volume
  FROM speed_metrics s FULL OUTER JOIN volume_metrics v
    ON s.location_id = v.location_id AND s.recorded_hour = v.recorded_hour),
congestion AS (
  SELECT c.location_id, c.recorded_hour, c.avg_speed, c.total_volume,
         COALESCE(i.incident_count, 0) AS incident_count, i.max_severity,
         d.speed_limit, d.lanes,
         {M.CONGESTION_INDEX_SQL.format(speed='c.avg_speed',
                                        volume='COALESCE(c.total_volume, 0)',
                                        limit='d.speed_limit', lanes='d.lanes')}
           AS congestion_raw,
         c.avg_speed / NULLIF(CAST(d.speed_limit AS DOUBLE), 0) AS speed_ratio_raw
  FROM combined c
  LEFT JOIN incident_impact i
    ON c.location_id = i.location_id AND c.recorded_hour = i.incident_hour
  LEFT JOIN dim_loc d ON c.location_id = d.location_id)
"""


def _congestion_hourly(spark, sf_dir) -> DataFrame:
    """int_hourly_congestion analog (5_dbt/READ.md:398-485): FULL OUTER
    speed⋈volume with coalesced composite keys (list-form join keys do the
    COALESCE — §7.4 trap #6), LEFT JOIN incidents, broadcast LEFT JOIN dim,
    congestion-index macro."""
    speed = (_stg_speed(spark, sf_dir).filter(F.col("speed").isNotNull())
             .groupBy("location_id", "recorded_hour")
             .agg(dec_avg(F.col("speed")).alias("avg_speed")))
    volume = (_stg_volume(spark, sf_dir)
              .groupBy("location_id", "recorded_hour")
              .agg(F.sum("vehicle_count").alias("total_volume")))
    incidents = (_stg_incident(spark, sf_dir)
                 .groupBy(F.col("location_id"),
                          F.col("incident_hour").alias("recorded_hour"))
                 .agg(F.count(F.lit(1)).alias("incident_count"),
                      F.max("severity").alias("max_severity")))
    dim = _dim_loc(spark, sf_dir)
    combined = speed.join(volume, ["location_id", "recorded_hour"], "full_outer")
    enriched = (combined
                .join(incidents, ["location_id", "recorded_hour"], "left")
                .join(F.broadcast(dim), "location_id", "left")
                .withColumn("incident_count",
                            F.coalesce(F.col("incident_count"), F.lit(0)))
                .withColumn("congestion_raw",
                            M.congestion_index(F.col("avg_speed"),
                                               F.coalesce(F.col("total_volume"), F.lit(0)),
                                               F.col("speed_limit"), F.col("lanes")))
                .withColumn("speed_ratio_raw",
                            M.speed_ratio(F.col("avg_speed"), F.col("speed_limit"))))
    return enriched


@query("dbt_congestion_hourly", _CONGESTION_CTE + f"""
SELECT location_id, recorded_hour,
       {HALF_ROUND_SQL.format(c='avg_speed', d=6)} AS avg_speed,
       total_volume, incident_count, max_severity, speed_limit, lanes,
       {HALF_ROUND_SQL.format(c='congestion_raw', d=6)} + 0.0 AS congestion_index,
       {HALF_ROUND_SQL.format(c='speed_ratio_raw', d=6)} AS speed_ratio
FROM congestion
""")
def dbt_congestion_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt intermediate model end-to-end (J3+J4+J5+A7+A8+A9+E9+E10).

    Determinism: ``avg_speed`` is an exact DECIMAL sum over the 2dp speeds
    divided by the count — order-independent, so the congestion/speed-ratio
    expression trees yield bit-identical doubles on Spark and DuckDB and the
    6dp ROUNDs can no longer flip on a summation-order ulp.

    Signed zero (the r1/r2 red row's actual root cause, per round-2
    verdict): where coalesced volume = 0 and avg_speed > speed_limit,
    ``congestion_raw = (negative ratio) * 0.0 = -0.0``; DuckDB's
    ``ROUND(-0.0, 6)`` preserves ``-0.0`` while Spark's BigDecimal ROUND
    normalizes to ``+0.0``. Both sides therefore add ``+ 0.0`` after the
    ROUND (IEEE 754: ``-0.0 + 0.0 = +0.0``; every other value unchanged)
    so a negative zero can never reach either engine's output.

    The 6dp ROUNDs are :func:`half_round`: once ``value`` carries more
    than 2 decimals, ``avg_speed`` is a 6dp sum over a count and can sit
    on a 6dp half-boundary, where the engines' own ROUNDs disagree."""
    e = _congestion_hourly(spark, sf_dir)
    return e.select("location_id", "recorded_hour",
                    half_round(F.col("avg_speed"), 6).alias("avg_speed"),
                    "total_volume", "incident_count", "max_severity",
                    "speed_limit", "lanes",
                    (half_round(F.col("congestion_raw"), 6) + F.lit(0.0))
                    .alias("congestion_index"),
                    half_round(F.col("speed_ratio_raw"), 6).alias("speed_ratio"))


@query("dbt_daily_congestion_rank", _CONGESTION_CTE + f"""
, daily_raw AS (
  SELECT location_id, CAST(recorded_hour AS DATE) AS day,
         {FOLD_AVG_SQL.format(c='congestion_raw')} AS congestion,
         {FOLD_AVG_SQL.format(c='avg_speed')} AS speed
  FROM congestion WHERE congestion_raw IS NOT NULL
  GROUP BY location_id, CAST(recorded_hour AS DATE)),
daily AS (
  SELECT location_id, day,
         {HALF_ROUND_SQL.format(c='congestion', d=3)} + 0.0 AS avg_daily_congestion,
         {HALF_ROUND_SQL.format(c='speed', d=1)} AS avg_daily_speed
  FROM daily_raw)
SELECT * FROM (
  SELECT location_id, day, avg_daily_congestion, avg_daily_speed,
         RANK() OVER (PARTITION BY day ORDER BY avg_daily_congestion DESC)
           AS congestion_rank
  FROM daily)
WHERE congestion_rank <= 10
""")
def dbt_daily_congestion_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mart_daily_congestion (5_dbt/READ.md:541-590): daily rollup, ROUND
    presentation (E11), RANK + QUALIFY<=10 rewritten as window column +
    filter (W3/W6/T5 — rank ties included, unlike limit-10). Ranking on the
    ROUNDed metric keeps tie sets identical across engines.

    The daily means are over *derived* doubles (congestion index, hourly
    avg), so they use the sorted sequential fold (``fold_avg``) — order-
    independent, hence run- and engine-stable. The group is schema-bounded
    (<= 24 hourly rows per location-day), so the per-group buffer is O(1)
    even at 100 TB.

    Signed zero (round-6, caught by the sf0.001 dual-canon sweep): a
    location-day whose congestion values average to a tiny NEGATIVE
    rounds to ``-0.0`` at 3dp in DuckDB while Spark's BigDecimal ROUND
    normalizes to ``+0.0`` — the same r1/r2 root cause
    ``dbt_congestion_hourly`` already guards. Both sides add ``+ 0.0``
    after the ROUND (IEEE: ``-0.0 + 0.0 = +0.0``, all other values
    unchanged; compare semantics and rank ties unaffected since
    ``-0.0 == 0.0`` in ordering).

    The ROUNDs are :func:`half_round`: a mean of 6dp hourly speeds can
    sit on a 1dp half-boundary, where the engines' own ROUNDs disagree
    (perfbench's scaled events at seed 210: 54.4 vs 54.5)."""
    daily = (_congestion_hourly(spark, sf_dir)
             .filter(F.col("congestion_raw").isNotNull())
             .groupBy("location_id", F.to_date("recorded_hour").alias("day"))
             .agg(fold_avg(F.col("congestion_raw")).alias("congestion"),
                  fold_avg(F.col("avg_speed")).alias("speed"))
             .select("location_id", "day",
                     (half_round(F.col("congestion"), 3) + F.lit(0.0))
                     .alias("avg_daily_congestion"),
                     half_round(F.col("speed"), 1).alias("avg_daily_speed")))
    w = Window.partitionBy("day").orderBy(F.desc("avg_daily_congestion"))
    return (daily.withColumn("congestion_rank", F.rank().over(w))
                 .filter(F.col("congestion_rank") <= 10)
                 .select("location_id", "day", "avg_daily_congestion",
                         "avg_daily_speed", "congestion_rank"))


@query("dbt_speed_percentile_buckets", f"""
WITH ev AS ({EV}), {_STG_SPEED_SQL},
hourly AS (
  SELECT location_id, hour(recorded_hour) AS hour_of_day,
         ROUND({_SPEED_AVG_SQL}, 6) AS avg_speed
  FROM stg_speed WHERE speed IS NOT NULL
  GROUP BY location_id, hour(recorded_hour))
SELECT location_id, hour_of_day, avg_speed,
       ROUND(PERCENT_RANK() OVER (PARTITION BY hour_of_day ORDER BY avg_speed), 6)
         AS speed_pctile,
       CASE WHEN PERCENT_RANK() OVER (PARTITION BY hour_of_day ORDER BY avg_speed) < 0.25
              THEN 'slow_quartile'
            WHEN PERCENT_RANK() OVER (PARTITION BY hour_of_day ORDER BY avg_speed) < 0.5
              THEN 'below_median'
            WHEN PERCENT_RANK() OVER (PARTITION BY hour_of_day ORDER BY avg_speed) < 0.75
              THEN 'above_median'
            ELSE 'fast_quartile' END AS speed_category
FROM hourly
""")
def dbt_speed_percentile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mart_hourly_patterns (5_dbt/READ.md:600-650): PERCENT_RANK per
    hour-of-day partition (W5) + quartile CASE (E6). The window input is the
    pre-ROUNDed average so rank order is engine-stable."""
    hourly = (_stg_speed(spark, sf_dir).filter(F.col("speed").isNotNull())
              .groupBy("location_id", F.hour("recorded_hour").alias("hour_of_day"))
              .agg(F.round(dec_avg(F.col("speed")), 6).alias("avg_speed")))
    w = Window.partitionBy("hour_of_day").orderBy("avg_speed")
    pr = F.percent_rank().over(w)
    cat = (F.when(pr < 0.25, "slow_quartile").when(pr < 0.5, "below_median")
            .when(pr < 0.75, "above_median").otherwise("fast_quartile"))
    return hourly.select("location_id", "hour_of_day", "avg_speed",
                         F.round(pr, 6).alias("speed_pctile"),
                         cat.alias("speed_category"))


@query("dbt_weekly_volume_rank", f"""
WITH ev AS ({EV}), {_STG_VOLUME_SQL},
daily AS (
  SELECT location_id, CAST(recorded_hour AS DATE) AS day,
         CAST(SUM(vehicle_count) AS BIGINT) AS daily_volume
  FROM stg_volume GROUP BY location_id, CAST(recorded_hour AS DATE)),
weekly AS (
  SELECT location_id, dayofweek(day) + 1 AS day_of_week,
         ROUND(AVG(daily_volume), 2) AS avg_weekly_volume
  FROM daily GROUP BY location_id, dayofweek(day) + 1)
SELECT location_id, day_of_week,
       CASE day_of_week WHEN 1 THEN 'Sunday' WHEN 2 THEN 'Monday'
            WHEN 3 THEN 'Tuesday' WHEN 4 THEN 'Wednesday' WHEN 5 THEN 'Thursday'
            WHEN 6 THEN 'Friday' ELSE 'Saturday' END AS day_name,
       avg_weekly_volume,
       RANK() OVER (PARTITION BY day_of_week ORDER BY avg_weekly_volume DESC)
         AS volume_rank
FROM weekly
""")
def dbt_weekly_volume_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mart_volume_trends (5_dbt/READ.md:662-732): two-level re-aggregation
    (A12: daily totals → per-day-of-week averages), the SQL Sun=1..Sat=7
    day-of-week convention (E2 — Spark ``dayofweek`` matches BigQuery;
    DuckDB needs +1), day-name CASE, partitioned RANK (W4)."""
    daily = (_stg_volume(spark, sf_dir)
             .groupBy("location_id", F.to_date("recorded_hour").alias("day"))
             .agg(F.sum("vehicle_count").alias("daily_volume")))
    weekly = (daily.groupBy("location_id", F.dayofweek("day").alias("day_of_week"))
                   .agg(F.round(F.avg("daily_volume"), 2).alias("avg_weekly_volume")))
    day_name = (F.when(F.col("day_of_week") == 1, "Sunday")
                 .when(F.col("day_of_week") == 2, "Monday")
                 .when(F.col("day_of_week") == 3, "Tuesday")
                 .when(F.col("day_of_week") == 4, "Wednesday")
                 .when(F.col("day_of_week") == 5, "Thursday")
                 .when(F.col("day_of_week") == 6, "Friday")
                 .otherwise("Saturday"))
    w = Window.partitionBy("day_of_week").orderBy(F.desc("avg_weekly_volume"))
    return weekly.select("location_id", "day_of_week", day_name.alias("day_name"),
                         "avg_weekly_volume", F.rank().over(w).alias("volume_rank"))


@query("dbt_fk_orphans", f"""
WITH ev AS ({EV})
SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans FROM (
  SELECT DISTINCT e.user_id FROM ev e
  ANTI JOIN customer c ON e.user_id = c.c_custkey)
""")
def dbt_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt ``relationships`` test as an operator (J9,
    5_dbt/READ.md:306-311): FK violations = LEFT ANTI join, must be empty."""
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    orphans = (ev.select("user_id").distinct()
                 .join(c, ev.user_id == c.c_custkey, "left_anti"))
    return orphans.agg(F.count(F.lit(1)).alias("n_orphans"))


@query("dbt_outlier_3sigma", f"""
WITH ev AS ({EV}),
sums AS (
  SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2,
         COUNT(value) AS n
  FROM ev),
stats AS (
  SELECT s1 / n AS avg_v,
         SQRT(GREATEST((s2 - (s1 * s1) / n) / (n - 1), 0.0)) AS std_v
  FROM sums)
SELECT e.event_id, e.value,
       ROUND((e.value - s.avg_v) / NULLIF(s.std_v, 0.0), 6) AS zscore
FROM ev e, stats s
WHERE e.value > s.avg_v + 3 * s.std_v OR e.value < s.avg_v - 3 * s.std_v
""")
def dbt_outlier_3sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt singular outlier test (5_dbt/READ.md:841-863): 1-row stats
    CTE cross-joined against the fact (J7/A13). The 1-row side broadcasts —
    a nested-loop join over a single row, no shuffle.

    Sample stddev is computed from *exact* DECIMAL sums (sum-of-squares
    form) instead of the engine's Welford accumulator: the moment sums are
    order-independent, so the 3-sigma row membership and zscores are
    identical across runs and engines — a value within ulps of the cut
    can't flip in or out (functions/determinism.py).

    The variance expression is cancellation-prone: on a (near-)constant
    table it can land a few ulps below zero, where DuckDB's SQRT raises
    ``Out of Range Error`` while Spark returns NaN. Both engines clamp
    with GREATEST(expr, 0) and NULLIF the zero stddev in the zscore
    division so the oracle can never hard-error."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    sums = ev.agg(F.sum(dec).cast("double").alias("s1"),
                  F.sum(dec * dec).cast("double").alias("s2"),
                  F.count("value").alias("n"))
    stats = sums.select(
        (F.col("s1") / F.col("n")).alias("avg_v"),
        F.sqrt(F.greatest(
            (F.col("s2") - (F.col("s1") * F.col("s1")) / F.col("n"))
            / (F.col("n") - 1), F.lit(0.0))).alias("std_v"))
    j = ev.crossJoin(F.broadcast(stats))
    out = j.filter((F.col("value") > F.col("avg_v") + 3 * F.col("std_v"))
                   | (F.col("value") < F.col("avg_v") - 3 * F.col("std_v")))
    zden = F.nullif(F.col("std_v"), F.lit(0.0))
    return out.select("event_id", "value",
                      F.round((F.col("value") - F.col("avg_v")) / zden, 6)
                       .alias("zscore"))
