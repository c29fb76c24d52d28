"""Additional coverage queries: staging-model row-level semantics, the dbt
time-bucket macro, global rank, and the multimodal plumbing (rows-only)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import clean_range, CLEAN_RANGE_SQL
from ..functions.determinism import DEC_AVG_SQL, dec_avg
from ..functions.temporal import time_bucket, TIME_BUCKET_SQL
from ..session import scratch_dir
from ..sources import load_table, widen
from . import query

EV = "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"


@query("dbt_stg_volume_clean", f"""
WITH ev AS ({EV})
SELECT event_id AS record_id, user_id AS location_id,
       CAST(ts AS TIMESTAMP) AS recorded_time,
       {CLEAN_RANGE_SQL.format(c='value', lo=0, hi=120)} AS average_speed,
       'run-001' AS batch_id
FROM ev
WHERE event_type = 'click'
  AND ts BETWEEN TIMESTAMP '2024-01-05' AND TIMESTAMP '2024-01-25'
""")
def dbt_stg_volume_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level staging-model semantics in one query (5_dbt/READ.md:149-184):
    rename projection (P2), timestamp pass-through (E1), var-window BETWEEN
    (P6), range-clamp cleaning CASE (P10), batch metadata literal (E12 —
    parameterized, not invocation-time, per §7.4 trap #10)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.filter((F.col("event_type") == "click")
                      & F.col("ts").between(F.lit("2024-01-05").cast("timestamp"),
                                            F.lit("2024-01-25").cast("timestamp")))
              .select(F.col("event_id").alias("record_id"),
                      F.col("user_id").alias("location_id"),
                      F.col("ts").alias("recorded_time"),
                      clean_range(F.col("value"), 0, 120).alias("average_speed"),
                      F.lit("run-001").alias("batch_id")))


@query("dbt_time_bucket_rollup", f"""
WITH ev AS ({EV})
SELECT {TIME_BUCKET_SQL.format(ts='ts')} AS time_bucket,
       event_type, COUNT(*) AS n,
       ROUND({DEC_AVG_SQL.format(c='value', s=6)}, 6) AS avg_value
FROM ev GROUP BY 1, 2
""")
def dbt_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt ``time_buckets`` macro (5_dbt/READ.md:810-822) as a grouping
    expression — the second bucketing scheme in the reference, distinct
    from the NPMRDS period bucket (E6 family)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(time_bucket(F.col("ts")).alias("time_bucket"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(dec_avg(F.col("value")), 6).alias("avg_value")))


@query("star_nation_rank_global", """
WITH rev AS (
  SELECT n.n_name AS nation,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name)
SELECT nation, revenue, revenue_rank FROM (
  SELECT nation, revenue,
         RANK() OVER (ORDER BY revenue DESC) AS revenue_rank FROM rev)
WHERE revenue_rank <= 5
""")
def star_nation_rank_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 global RANK + QUALIFY rewrite on an aggregate (the
    mart_daily_congestion global-rank shape, 5_dbt/READ.md:581-588). The
    rank input is the ROUNDed revenue so ordering is engine-stable; the
    window is single-partition but runs over only 25 pre-aggregated rows —
    the heavy join/agg stays parallel."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .groupBy(F.col("n_name").alias("nation"))
             .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                   .alias("revenue")))
    w = Window.orderBy(F.desc("revenue"))
    return (rev.withColumn("revenue_rank", F.rank().over(w))
               .filter(F.col("revenue_rank") <= 5))


@query("multimodal_image_features", """
WITH h AS (
  SELECT doc_id,
         md5('0' || text) || md5('1' || text) || md5('2' || text)
           || md5('3' || text) AS hx
  FROM documents),
b AS (
  SELECT doc_id,
         list_transform(range(1, 65),
           i -> (strpos('0123456789abcdef', substr(hx, 2*i-1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1)) AS bytes
  FROM h)
SELECT doc_id AS media_id,
       CAST(1 + bytes[1] % 64 AS INT) AS width,
       CAST(1 + bytes[2] % 64 AS INT) AS height,
       CAST(list_sum(bytes) AS DOUBLE) / 64 AS mean_intensity
FROM b
""")
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: documents → binary media column →
    Arrow-batched mapInPandas decode (deterministic fake kernel; the real
    codec slot is gated behind NotImplementedError — see ``multimodal``).

    Oracle-checked (VERDICT.md round-1 item #6): the fake kernel is
    md5-derived arithmetic, so DuckDB re-derives the same 64 bytes from
    the concatenated md5 hex digests and recomputes width/height/mean
    exactly — the mapInPandas path is hash-verified end-to-end, not just
    row-counted. A production codec kernel would revert to rows-only."""
    from ..multimodal import attach_fake_media, decode_images, fake_image_decoder
    docs = widen(load_table(spark, sf_dir, "documents"))
    media = attach_fake_media(docs, "doc_id", "text")
    return decode_images(media, decoder=fake_image_decoder)


@query("events_latest_per_user", f"""
WITH ev AS ({EV})
SELECT user_id, event_id, ts, event_type, ROUND(value, 2) AS value FROM (
  SELECT ev.*, ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev)
WHERE rn = 1
""")
def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (the CDC compaction / upsert-log
    resolution op): one row_number window per key, ordered by event time
    with the id as a deterministic tie-break. Single shuffle on the key;
    at 100 TB this is the standard change-log → current-state collapse."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") == 1)
              .select("user_id", "event_id", "ts", "event_type",
                      F.round("value", 2).alias("value")))


@query("events_scd2_intervals", f"""
WITH ev AS ({EV}),
chg AS (SELECT user_id, ts, event_id,
               CAST(floor(value) AS INT) % 5 + 1 AS status
        FROM ev WHERE event_type = 'error')
SELECT user_id, status, ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
            AS INT) AS is_current
FROM chg
""")
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change log (the dbt
    *snapshot* analog, 5_dbt family): each status change opens a validity
    interval closed by the next change's timestamp (LEAD window; NULL
    valid_to marks the current version). Deterministic ordering via
    (ts, event_id). One shuffle on the entity key — the scalable SCD2
    build for any 100 TB history."""
    ev = load_table(spark, sf_dir, "events")
    chg = (ev.filter(F.col("event_type") == "error")
           .select("user_id", "ts", "event_id",
                   (F.floor("value").cast("int") % 5 + 1).alias("status")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return chg.select("user_id", "status", F.col("ts").alias("valid_from"),
                      nxt.alias("valid_to"),
                      nxt.isNull().cast("int").alias("is_current"))


@query("dbt_quality_report", f"""
WITH ev AS ({EV})
SELECT 'not_null(value)' AS check_name, 'error' AS severity,
       CAST((SELECT COUNT(*) FROM ev WHERE value IS NULL) AS BIGINT)
         AS violations
UNION ALL
SELECT 'unique(event_id)', 'error',
       CAST((SELECT COUNT(*) FROM (
          SELECT event_id FROM ev GROUP BY event_id HAVING COUNT(*) > 1))
         AS BIGINT)
UNION ALL
SELECT 'relationships(user_id->c_custkey)', 'error',
       CAST((SELECT COUNT(*) FROM ev
             WHERE user_id IS NOT NULL
               AND user_id NOT IN (SELECT c_custkey FROM customer))
         AS BIGINT)
UNION ALL
SELECT 'accepted_range(value in [0,500])', 'warn',
       CAST((SELECT COUNT(*) FROM ev
             WHERE value IS NOT NULL AND (value < 0 OR value > 500))
         AS BIGINT)
""")
def dbt_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality.py expectations layer (dbt-test analog, SURVEY §5.1)
    as a driver-visible report: four checks from the reference's test
    suite shapes — not_null, unique, relationships (FK), accepted_range —
    composed by ``quality.report`` into ONE lazy union-of-aggregates
    plan: the four checks run as four branches of a single job
    (scheduled concurrently — dbt submits one warehouse query per test)
    and only four counter rows ever reach the driver. The
    oracle recomputes every count in plain SQL, so the check
    implementations themselves are differential-tested, not just
    exercised. (The raising gate variant is ``quality.run_checks`` —
    same Check objects, used by the model runner.)"""
    from ..quality import (accepted_range, not_null, relationships, report,
                           unique)
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    checks = [not_null("value"), unique("event_id"),
              relationships("user_id", cust, "c_custkey"),
              accepted_range("value", 0, 500)]
    return report(ev, checks)


@query("dbt_model_dag_mart", f"""
WITH ev AS ({EV}),
stg_events AS (
  SELECT event_id, ts, user_id, event_type, value
  FROM ev WHERE value IS NOT NULL),
int_hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS dec_total
  FROM stg_events GROUP BY date_trunc('hour', ts), event_type),
mart_daily AS (
  SELECT CAST(hour AS DATE) AS day, event_type,
         CAST(SUM(n) AS BIGINT) AS n,
         ROUND(CAST(SUM(dec_total) AS DOUBLE), 3) AS total_value
  FROM int_hourly GROUP BY CAST(hour AS DATE), event_type)
SELECT day, event_type, n, total_value,
       RANK() OVER (PARTITION BY day ORDER BY total_value DESC, event_type)
         AS day_rank
FROM mart_daily
""")
def dbt_model_dag_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt-analog model DAG (plans/models.py) end-to-end through the
    driver contract: source -> staging view -> hourly intermediate ->
    daily mart, composed with ``ref()``-style dependency edges and run by
    the topological runner with a not_null quality gate on staging.

    All three models materialize as VIEWs, so the returned mart is ONE
    fused Catalyst plan — the staging filter pushes into the scan and the
    hourly/daily aggregations chain without intermediate writes, exactly
    how dbt staging views compile into consumers (5_dbt/READ.md:127-128).
    The oracle recomputes the identical CTE chain, so the DAG runner's
    composition semantics (not just each model alone) are hash-checked.
    Sums stay in the exact DECIMAL domain until the final ROUND."""
    from ..plans.models import ModelGraph
    from ..quality import not_null
    g = ModelGraph()
    g.add_source("src_events",
                 lambda s, v: load_table(s, sf_dir, "events"))

    @g.model(name="stg_events", deps=["src_events"],
             checks=[not_null("event_id")])
    def stg_events(s, v, src_events):
        return (src_events.filter(F.col("value").isNotNull())
                .select("event_id", "ts", "user_id", "event_type", "value"))

    @g.model(name="int_hourly", deps=["stg_events"])
    def int_hourly(s, v, stg_events):
        return (stg_events
                .groupBy(F.date_trunc("hour", "ts").alias("hour"),
                         "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("value").cast("decimal(18,2)"))
                      .cast("decimal(28,2)").alias("dec_total")))

    @g.model(name="mart_daily", deps=["int_hourly"])
    def mart_daily(s, v, int_hourly):
        daily = (int_hourly
                 .groupBy(F.col("hour").cast("date").alias("day"),
                          "event_type")
                 .agg(F.sum("n").cast("bigint").alias("n"),
                      F.round(F.sum("dec_total").cast("double"), 3)
                       .alias("total_value")))
        w = Window.partitionBy("day").orderBy(
            F.desc("total_value"), "event_type")
        return daily.withColumn("day_rank", F.rank().over(w))

    return g.run(spark, select=["mart_daily"])["mart_daily"]


@query("dbt_model_dag_incremental", f"""
WITH ev AS ({EV}),
stg_events AS (
  SELECT event_id, ts, user_id, event_type, value
  FROM ev WHERE value IS NOT NULL),
int_hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS dec_total
  FROM stg_events GROUP BY date_trunc('hour', ts), event_type),
mart_daily AS (
  SELECT CAST(hour AS DATE) AS day, event_type,
         CAST(SUM(n) AS BIGINT) AS n,
         ROUND(CAST(SUM(dec_total) AS DOUBLE), 3) AS total_value
  FROM int_hourly GROUP BY CAST(hour AS DATE), event_type)
SELECT day, event_type, n, total_value,
       RANK() OVER (PARTITION BY day ORDER BY total_value DESC, event_type)
         AS day_rank
FROM mart_daily
""")
def dbt_model_dag_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt incremental-materialization path through the topo runner,
    hash-checked against the FULL-refresh oracle: the same
    source->staging->hourly->mart DAG as ``dbt_model_dag_mart``, but run
    as TWO incremental batches over a real parquet warehouse —

    - batch 1 processes events strictly before a mid-range cutoff instant
      (so the cutoff day is PARTIAL), with ``int_hourly`` materialized as
      TABLE and ``mart_daily`` as INCREMENTAL (merge on unique_key =
      (day, event_type));
    - batch 2 reprocesses every complete day from the cutoff day forward
      — the standard late-data pattern (recompute whole days, upsert by
      key), whose merge REPLACES batch 1's partial cutoff-day rows.

    Merge-by-key over complete-day batches is algebraically a full
    refresh, so the final warehouse must hash-match the one-shot CTE
    chain — verifying plans/models.py's merge strategy (the
    partition-PRUNED path: day ⊆ unique_key, so run 2 rewrites only the
    partitions its batch touches), TABLE materialization, and two-run
    warehouse reuse end-to-end, not just in unit tests. The tiny mart is
    localCheckpoint'd (eager, executor blocks — no driver round-trip) so
    the returned plan outlives warehouse cleanup (daily grain: rows =
    days x event types, bounded by the calendar at any scale)."""
    import shutil
    import tempfile

    from ..plans.models import ModelGraph
    from ..quality import not_null

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut_ts = lo + (hi - lo) / 2
    cut_day = cut_ts.replace(hour=0, minute=0, second=0, microsecond=0)

    def build_graph(src_filter):
        g = ModelGraph(warehouse_dir=wh)
        g.add_source("src_events",
                     lambda s, v: load_table(s, sf_dir, "events")
                     .filter(src_filter))

        @g.model(name="stg_events", deps=["src_events"],
                 checks=[not_null("event_id")])
        def stg_events(s, v, src_events):
            return (src_events.filter(F.col("value").isNotNull())
                    .select("event_id", "ts", "user_id", "event_type",
                            "value"))

        @g.model(name="int_hourly", deps=["stg_events"],
                 materialization="table")
        def int_hourly(s, v, stg_events):
            return (stg_events
                    .groupBy(F.date_trunc("hour", "ts").alias("hour"),
                             "event_type")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.col("value").cast("decimal(18,2)"))
                          .cast("decimal(28,2)").alias("dec_total")))

        @g.model(name="mart_daily", deps=["int_hourly"],
                 materialization="incremental",
                 incremental_strategy="merge",
                 unique_key=["day", "event_type"],
                 partition_by=["day"])
        def mart_daily(s, v, int_hourly):
            daily = (int_hourly
                     .groupBy(F.col("hour").cast("date").alias("day"),
                              "event_type")
                     .agg(F.sum("n").cast("bigint").alias("n"),
                          F.round(F.sum("dec_total").cast("double"), 3)
                           .alias("total_value")))
            w = Window.partitionBy("day").orderBy(
                F.desc("total_value"), "event_type")
            return daily.withColumn("day_rank", F.rank().over(w))

        return g

    wh = scratch_dir("dag_incr_wh_")
    try:
        build_graph(F.col("ts") < F.lit(cut_ts)).run(
            spark, select=["mart_daily"])
        final = build_graph(F.col("ts") >= F.lit(cut_day)).run(
            spark, select=["mart_daily"])["mart_daily"]
        # day is partition-encoded on disk (the run-2 merge is the
        # partition-PRUNED path: day ⊆ unique_key, so only batch days
        # rewrite — pinned in tests/test_models.py); normalize column
        # order/type, then localCheckpoint(eager) so the returned frame's
        # blocks outlive the warehouse rmtree with NO driver round-trip
        # (the mart is bounded: days × event_types).
        final = final.select(
            F.col("day").cast("date").alias("day"), "event_type", "n",
            "total_value", "day_rank")
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@query("dbt_profile_events", f"""
WITH ev AS ({EV}),
s AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(event_id) AS nn_event_id, COUNT(DISTINCT event_id) AS nd_event_id,
         COUNT(user_id) AS nn_user_id, COUNT(DISTINCT user_id) AS nd_user_id,
         COUNT(event_type) AS nn_event_type,
         COUNT(DISTINCT event_type) AS nd_event_type,
         COUNT(value) AS nn_value, COUNT(DISTINCT value) AS nd_value
  FROM ev)
SELECT 'event_id' AS column_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_rows - nn_event_id AS BIGINT) AS n_null,
       CAST(nd_event_id AS BIGINT) AS n_distinct,
       CAST(n_rows - nn_event_id AS DOUBLE) / n_rows AS null_rate
FROM s
UNION ALL
SELECT 'user_id', CAST(n_rows AS BIGINT), CAST(n_rows - nn_user_id AS BIGINT),
       CAST(nd_user_id AS BIGINT),
       CAST(n_rows - nn_user_id AS DOUBLE) / n_rows FROM s
UNION ALL
SELECT 'event_type', CAST(n_rows AS BIGINT),
       CAST(n_rows - nn_event_type AS BIGINT),
       CAST(nd_event_type AS BIGINT),
       CAST(n_rows - nn_event_type AS DOUBLE) / n_rows FROM s
UNION ALL
SELECT 'value', CAST(n_rows AS BIGINT), CAST(n_rows - nn_value AS BIGINT),
       CAST(nd_value AS BIGINT),
       CAST(n_rows - nn_value AS DOUBLE) / n_rows FROM s
""")
def dbt_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the dbt-docs / data-observability analog of the
    quality gate): per-column row count, null count, exact distinct
    count, and null rate, in long (one row per column) form so the
    report schema is stable as columns are added.

    ONE scan: all per-column stats fold into a single aggregate (Spark
    plans multi-DISTINCT via a single expand + two-phase agg), then the
    4-row long form is an unpivot of the one-row stats relation — no
    per-column re-scan. Null rate is the raw quotient. At 100 TB swap
    COUNT(DISTINCT) for approx_count_distinct per the documented
    exact->approx switch (SCALING.md); the scan/unpivot shape is
    unchanged."""
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "value"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.count(c).alias(f"nn_{c}"),
                 F.count_distinct(F.col(c)).alias(f"nd_{c}")]
    s = ev.agg(*aggs)
    arms = [F.struct(F.lit(c).alias("column_name"),
                     F.col("n_rows").cast("bigint").alias("n_rows"),
                     (F.col("n_rows") - F.col(f"nn_{c}")).cast("bigint")
                     .alias("n_null"),
                     F.col(f"nd_{c}").cast("bigint").alias("n_distinct"),
                     ((F.col("n_rows") - F.col(f"nn_{c}")).cast("double")
                      / F.col("n_rows")).alias("null_rate"))
            for c in cols]
    return (s.select(F.explode(F.array(*arms)).alias("p"))
            .select("p.column_name", "p.n_rows", "p.n_null", "p.n_distinct",
                    "p.null_rate"))


_FAKE_MEDIA_CTE = """
WITH h AS (
  SELECT doc_id,
         md5('0' || text) || md5('1' || text) || md5('2' || text)
           || md5('3' || text) AS hx
  FROM documents),
b AS (
  SELECT doc_id, hx,
         list_transform(range(1, 65),
           i -> (strpos('0123456789abcdef', substr(hx, 2*i-1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, 2*i, 1)) - 1)) AS bytes
  FROM h)
"""


@query("multimodal_audio_features", _FAKE_MEDIA_CTE + """
SELECT doc_id AS media_id,
       CAST(len(bytes) AS BIGINT) AS n_samples,
       SQRT(list_sum(list_transform(bytes, x -> (x - 128) * (x - 128)))
            / 64.0) AS rms,
       CAST(list_sum(list_transform(range(1, 64),
              i -> CASE WHEN (bytes[i] - 128 < 0) <> (bytes[i+1] - 128 < 0)
                        THEN 1 ELSE 0 END)) AS DOUBLE) / 63.0
         AS zero_crossing_rate
FROM b
""")
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio plumbing end-to-end, hash-checked like the image path: the
    deterministic fake waveform kernel (bytes as centered int8 samples →
    n_samples / RMS / zero-crossing rate) through the REAL Arrow
    mapInPandas pipeline (``multimodal.audio_features``); the oracle
    re-derives the same 64 bytes from chained md5 and recomputes the
    features in SQL. Every feature input is exact integer arithmetic and
    the only float ops (division by 64/63, sqrt) are correctly-rounded
    IEEE, so the Python kernel and DuckDB agree bit-for-bit. A real
    librosa decoder drops in via the gated ``real_audio_decoder`` slot
    and reverts this to rows-only."""
    from ..multimodal import (attach_fake_media, audio_features,
                              fake_audio_decoder)
    docs = widen(load_table(spark, sf_dir, "documents"))
    media = attach_fake_media(docs, "doc_id", "text")
    out = audio_features(media, decoder=fake_audio_decoder)
    return out.select("media_id",
                      F.col("n_samples").cast("bigint").alias("n_samples"),
                      "rms", "zero_crossing_rate")


@query("multimodal_frame_fingerprints", _FAKE_MEDIA_CTE + """
SELECT media_id, frame_no,
       CAST(u64 - CASE WHEN u64 >= 9223372036854775808
                       THEN 18446744073709551616 ELSE 0 END AS BIGINT)
         AS frame_fingerprint
FROM (
  SELECT doc_id AS media_id, CAST(i AS INT) AS frame_no,
         CAST(CAST(('0x' || substr(hx, 32 * i + 1, 8)) AS BIGINT) AS HUGEINT)
           * 4294967296
           + CAST(('0x' || substr(hx, 32 * i + 9, 8)) AS BIGINT) AS u64
  FROM b, range(0, 4) t(i))
""")
def multimodal_frame_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame-sampling plumbing (the 1→N mapInPandas explode shape),
    hash-checked: ``multimodal.frame_sample`` cuts each 64-byte fake
    media blob into 4 frames of 16 bytes and fingerprints each frame's
    first 8 bytes as a signed big-endian 64-bit int; the oracle slices
    the identical hex digest and performs the same two's-complement
    wrap in HUGEINT arithmetic. A real frame sampler (ffmpeg keyframes)
    would replace the byte slicing; the explode-shaped Arrow plumbing —
    output rows ≠ input rows — is what this pins."""
    from ..multimodal import attach_fake_media, frame_sample
    docs = widen(load_table(spark, sf_dir, "documents"))
    media = attach_fake_media(docs, "doc_id", "text")
    return frame_sample(media, every_n_bytes=16).select(
        "media_id", "frame_no", "frame_fingerprint")


@query("orders_scd2_current", """
WITH picked AS (
  SELECT o_custkey, o_orderdate AS eff, o_orderpriority AS prio
  FROM (SELECT o_custkey, o_orderdate, o_orderpriority,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1),
seq AS (
  SELECT o_custkey, eff, prio,
         LAG(prio) OVER (PARTITION BY o_custkey ORDER BY eff) AS prev,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY eff) AS rn
  FROM picked),
changes AS (
  SELECT o_custkey, eff, prio FROM seq
  WHERE rn = 1 OR prio IS DISTINCT FROM prev),
iv AS (
  SELECT o_custkey, prio, eff AS valid_from,
         LEAD(eff) OVER (PARTITION BY o_custkey ORDER BY eff) AS valid_to
  FROM changes)
SELECT i.o_custkey, i.prio AS cur_priority,
       CAST(i.valid_from AS TIMESTAMP) AS valid_from,
       v.n_versions
FROM iv i
JOIN (SELECT o_custkey, COUNT(*) AS n_versions FROM iv GROUP BY o_custkey) v
  USING (o_custkey)
WHERE i.valid_to IS NULL
""")
def orders_scd2_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (operators/scd.py) under full
    oracle hash strictness: treat each customer's order stream as
    attribute updates to a "current priority" dimension (one update per
    (custkey, orderdate): the latest orderkey's priority that day),
    merge them through THREE chronological ``scd2_apply`` batches
    (<1994, 1994–95, >=1996 — ``scd2_init`` bootstraps the first), and
    emit the CURRENT snapshot: (key, current attr, its valid_from, and
    the key's total version count incl. closed history).

    The oracle derives the SAME snapshot from the full history in ONE
    pass (sequence per key, change-suppress consecutive equal attrs,
    intervals via LEAD) — valid because batch-merge == one-shot
    derivation is the operator's algebraic contract, property-tested
    for ANY batch split in tests/test_scd2.py; this driver row pins the
    incremental path against an independent engine. Batches split by
    disjoint ascending date ranges never trip the late-update discard
    policy, so the equality is exact. States are localCheckpoint'd
    between batches (the operator's documented MATERIALIZE contract —
    each batch's plan references the prior state several times)."""
    from ..operators.scd import scd2_apply, scd2_init
    o = widen(load_table(spark, sf_dir, "orders"))
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey"))
    # checkpoint picked once (A/B-measured in round 11, same-process
    # interleaved reps): all three batch filters — and through them
    # every scd2_apply state reference — would otherwise recompute the
    # orders scan + dedup window per batch.
    # KEY-ALIGNED partitioning (round 17, optimization guide §2.4):
    # hash-repartition by o_custkey BEFORE the dedup window — the
    # window's (custkey, orderdate) clustering is satisfied by
    # hash(custkey), so no second exchange — and the checkpoint's
    # LogicalRDD preserves hash(o_custkey) into every batch filter.
    # Inside scd2_apply every shuffle boundary (the open-row join, both
    # sequencing windows, touched-keys distinct, the closing semi/agg
    # joins) requires exactly this clustering, so the per-batch work
    # runs exchange-free off the one up-front shuffle. Checkpoints are
    # built under aqe_disabled: AQE drops the recorded partitioning
    # from LogicalRDD (see session.aqe_disabled), which silently
    # re-inserts every downstream exchange.
    from ..session import aqe_disabled
    with aqe_disabled(spark):
        picked = (o.repartition("o_custkey")
                  .withColumn("rn", F.row_number().over(w))
                  .filter("rn = 1")
                  .select("o_custkey", "o_orderpriority", "o_orderdate")
                  .localCheckpoint(eager=True))
    c1 = F.lit("1994-01-01").cast("timestamp")
    c2 = F.lit("1996-01-01").cast("timestamp")
    batches = [picked.filter(F.col("o_orderdate") < c1),
               picked.filter((F.col("o_orderdate") >= c1)
                             & (F.col("o_orderdate") < c2)),
               picked.filter(F.col("o_orderdate") >= c2)]
    state = scd2_init(batches[0], "o_custkey", ["o_orderpriority"],
                      eff_col="o_orderdate")
    for b in batches[1:]:
        # scd2_apply returns a 4-way union, which erases the key
        # partitioning — re-establish hash(o_custkey) before the
        # inter-batch checkpoint so the NEXT batch's joins/windows
        # against the state are exchange-free too (one exchange here
        # replaces several inside the apply).
        with aqe_disabled(spark):
            state = (state.repartition("o_custkey")
                     .localCheckpoint(eager=True))
        state = scd2_apply(state, b, "o_custkey", ["o_orderpriority"],
                           eff_col="o_orderdate")
    nv = state.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_versions"))
    return (state.filter("is_current")
            .join(nv, "o_custkey")
            .select("o_custkey",
                    F.col("o_orderpriority").alias("cur_priority"),
                    "valid_from", "n_versions"))
