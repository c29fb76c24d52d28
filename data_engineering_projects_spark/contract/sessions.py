"""Batch sessionization + as-of date arithmetic queries.

``events_sessionize`` is the batch counterpart of the
``streaming_session_rollup`` stream: the gaps-and-islands pattern — a lag
window flags session starts, a running sum numbers sessions, a groupBy
rolls them up. Three window/agg passes over one shuffle key (user_id):
the canonical distributed sessionization shape.
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.determinism import DEC_AVG_SQL, DEC_SUM_SQL, dec_avg, dec_sum
from ..functions.text import FINGERPRINT_SQL
from ..sources import load_table, table_and_stream
from ..session import scoped_conf, scratch_dir
from . import query

EV = "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"


@query("events_sessionize", f"""
WITH ev AS ({EV}),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL OR
                   epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM flagged)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no, COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS duration_sec
FROM numbered GROUP BY user_id, session_no
""")
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap) via
    ``operators.windows.sessionize`` — property-tested against a
    brute-force python sessionizer in tests/test_properties.py (the
    shared-bug class the SQL-replaying oracle cannot see). The lag flag
    and running sum share one (user_id)-partitioned sort — a single
    shuffle; the rollup reuses the same key. Ties on ts are broken by
    event_id so numbering is deterministic."""
    from ..operators.windows import sessionize

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id")
    numbered = sessionize(ev, "user_id", "ts", "event_id",
                          gap_seconds=1800)
    return (numbered.groupBy("user_id", "session_no")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("session_start"),
                 ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                  / F.lit(1_000_000)).cast("long").alias("duration_sec")))


@query("orders_with_bigticket_items", """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_extendedprice > 4000)
GROUP BY o_orderpriority
""")
def orders_with_bigticket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS correlated subquery → left_semi join (the TPC-H Q4 shape):
    orders having at least one big-ticket line item, counted by priority.
    The semi join keeps the probe side unduplicated (no distinct needed)
    and the filter pushes into the lineitem scan."""
    o = load_table(spark, sf_dir, "orders")
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(F.col("l_extendedprice") > 4000)
          .select("l_orderkey"))
    return (o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders")))


@query("orders_above_customer_avg", """
WITH stats AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS cust_total,
         COUNT(*) AS n_cust_orders
  FROM orders GROUP BY o_custkey)
SELECT o.o_orderkey, o.o_custkey,
       ROUND(o.o_totalprice, 2) AS total_price,
       s.cust_total, s.n_cust_orders
FROM orders o JOIN stats s ON o.o_custkey = s.o_custkey
WHERE o.o_totalprice > 1.5 * (s.cust_total / s.n_cust_orders)
""")
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery semantics ("orders 1.5x above their
    customer's average") decorrelated into a single-pass window — one
    shuffle on o_custkey computes the per-customer average AND filters,
    where the naive agg+self-join plan would scan orders twice and
    shuffle twice. The oracle SQL expresses the same via the agg+join
    form — identical results, independently derived.

    Determinism: the customer total is an exact DECIMAL sum (float sum
    order differs between engines) cast to DOUBLE, emitted unrounded —
    a rounded *average* would sit on half-boundaries where Spark's
    exact-BigDecimal ROUND and DuckDB's float-multiply ROUND disagree.
    The 1.5x filter uses the identical expression tree on both sides, so
    IEEE arithmetic agrees at thresholds."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    s = F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w)
    n = F.count(F.lit(1)).over(w)
    return (o.withColumn("cust_total", s.cast("double"))
             .withColumn("n_cust_orders", n)
             .filter(F.col("o_totalprice")
                     > 1.5 * (F.col("cust_total") / F.col("n_cust_orders")))
             .select("o_orderkey", "o_custkey",
                     F.round("o_totalprice", 2).alias("total_price"),
                     "cust_total", "n_cust_orders"))


@query("events_props_json", f"""
WITH ev AS ({EV})
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k
FROM ev GROUP BY event_type
""")
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured parsing: extract a JSON path from the ``props``
    string column and aggregate it — the schema-on-read pattern for event
    streams carrying loose payloads. Parsed ONCE per row via ``from_json``
    with a declared one-field schema (a single codegen'd Jackson parse, no
    Python); the earlier ``get_json_object``-per-aggregate form parsed the
    same string three times. At 100 TB, materialize hot paths as a typed
    view (sources.typed_props_view) instead of re-parsing per query."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select("event_type",
                       F.from_json("props", "k BIGINT").getField("k")
                        .alias("k"))
    return (parsed.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("k").cast("bigint").alias("sum_k"),
                   F.min("k").cast("bigint").alias("min_k"),
                   F.max("k").cast("bigint").alias("max_k")))


@query("events_type_normalize", f"""
WITH ev AS ({EV})
SELECT CASE WHEN LOWER(event_type) LIKE '%click%' THEN 'Interaction'
            WHEN LOWER(event_type) LIKE '%view%' THEN 'Interaction'
            WHEN LOWER(event_type) LIKE '%error%' THEN 'Fault'
            ELSE UPPER(SUBSTR(event_type, 1, 1)) || LOWER(SUBSTR(event_type, 2))
       END AS category,
       COUNT(*) AS n, ROUND({DEC_AVG_SQL.format(c='value', s=6)}, 6) AS avg_value
FROM ev GROUP BY 1
""")
def events_type_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: LOWER/LIKE standardization with INITCAP fallback — the dbt
    incident-type normalization shape (5_dbt/READ.md:252-257) as an
    oracle-checked query."""
    ev = load_table(spark, sf_dir, "events")
    lt = F.lower("event_type")
    cat = (F.when(lt.like("%click%") | lt.like("%view%"), "Interaction")
            .when(lt.like("%error%"), "Fault")
            .otherwise(F.initcap("event_type")))
    return (ev.groupBy(cat.alias("category"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(dec_avg(F.col("value")), 6).alias("avg_value")))


@query("events_rollup_daily", f"""
WITH ev AS ({EV})
SELECT event_type, CAST(ts AS DATE) AS day,
       COUNT(*) AS n, ROUND({DEC_SUM_SQL.format(c='value', s=2)}, 3) AS total_value
FROM ev
GROUP BY ROLLUP (event_type, CAST(ts AS DATE))
""")
def events_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation via ROLLUP: (type, day), (type), and grand
    total in one pass — Spark computes all grouping sets in a single
    shuffle with partial aggregation per set, replacing three separate
    scans at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.rollup("event_type", F.to_date("ts").alias("day"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(dec_sum(F.col("value")), 3).alias("total_value")))


@query("orders_asof_window", f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND({DEC_SUM_SQL.format(c='o_totalprice', s=2)}, 2) AS total_price
FROM orders
WHERE CAST(o_orderdate AS DATE)
      BETWEEN DATE '2001-08-01' - INTERVAL 30 DAY AND DATE '2001-08-01'
GROUP BY o_orderpriority
""")
def orders_asof_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5/P6: the dbt marts' rolling CURRENT_DATE window
    (5_dbt/READ.md:615-616) with the as-of date parameterized for
    reproducibility (§7.4 trap #10): last-30-days as of 2001-08-01.
    The derived date bounds push into the parquet scan."""
    as_of = F.lit("2001-08-01").cast("date")
    o = load_table(spark, sf_dir, "orders")
    return (o.filter(F.to_date("o_orderdate").between(F.date_sub(as_of, 30), as_of))
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.round(dec_sum(F.col("o_totalprice")), 2).alias("total_price")))


@query("events_asof_latest_order", f"""
WITH ev AS ({EV}),
e AS (SELECT event_id, ts, user_id FROM ev WHERE event_type = 'error'),
r AS (SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders),
rd AS (SELECT * FROM r WHERE rn = 1)
SELECT e.event_id, e.user_id, e.ts,
       o.o_orderkey AS last_order_key,
       ROUND(o.o_totalprice, 2) AS last_order_price
FROM e ASOF LEFT JOIN rd o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""")
def events_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each error event picks up the user's
    latest order at-or-before the event timestamp — the as-of join
    (operators/asof.py, union + last-ignorenulls window: one shuffle on
    the key, no inequality-join row explosion). The right side is deduped
    to one row per (customer, order date) first (max orderkey wins) so
    the match is deterministic; DuckDB verifies with its native ASOF
    LEFT JOIN over the identically-deduped relation."""
    from ..operators.asof import asof_join_backward

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type") == "error")
          .select("event_id", "ts", F.col("user_id")))
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.desc("o_orderkey"))
    rd = (load_table(spark, sf_dir, "orders")
          .withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
          .select(F.col("o_custkey").alias("user_id"), "o_orderdate",
                  "o_orderkey", "o_totalprice"))
    j = asof_join_backward(ev, rd, "user_id", "ts", "o_orderdate",
                           ["o_orderkey", "o_totalprice"])
    return j.select("event_id", "user_id", "ts",
                    F.col("o_orderkey").alias("last_order_key"),
                    F.round("o_totalprice", 2).alias("last_order_price"))


@query("events_range_join_clicks", f"""
WITH ev AS ({EV}),
err AS (SELECT event_id, user_id, ts AS start_ts,
               ts + INTERVAL 2 HOUR AS end_ts
        FROM ev WHERE event_type = 'error'),
clk AS (SELECT user_id, ts FROM ev WHERE event_type = 'click')
SELECT e.event_id, e.user_id, CAST(COUNT(c.ts) AS BIGINT) AS n_clicks
FROM err e LEFT JOIN clk c
  ON e.user_id = c.user_id AND c.ts >= e.start_ts AND c.ts <= e.end_ts
GROUP BY e.event_id, e.user_id
""")
def events_range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks landing inside each error's 2-hour follow-up
    interval, counted per error. The Spark side uses the bucketed
    equi-join rendering (operators/rangejoin.py — shuffle on
    (user, time-bucket), never a nested loop); errors with no clicks in
    range are restored by a left join against the match counts. The
    oracle is the plain inequality LEFT JOIN DuckDB optimizes natively
    (IEJoin)."""
    from ..operators.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events")
    err = (ev.filter(F.col("event_type") == "error")
           .select("event_id", "user_id", F.col("ts").alias("start_ts"),
                   (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts")))
    clk = (ev.filter(F.col("event_type") == "click")
           .select("user_id", F.col("ts").alias("click_ts")))
    matches = interval_join(clk, err, "click_ts", "start_ts", "end_ts",
                            keys=["user_id"], bucket_seconds=7200)
    counts = (matches.groupBy("event_id")
              .agg(F.count(F.lit(1)).alias("n_matched")))
    return (err.join(counts, "event_id", "left")
               .select("event_id", "user_id",
                       F.coalesce("n_matched", F.lit(0)).cast("bigint")
                        .alias("n_clicks")))


@query("events_cube_type_day", f"""
WITH ev AS ({EV})
SELECT event_type, CAST(ts AS DATE) AS day,
       COUNT(*) AS n, ROUND({DEC_SUM_SQL.format(c='value', s=2)}, 3) AS total_value
FROM ev
WHERE CAST(ts AS DATE) <= DATE '2024-01-07'
GROUP BY CUBE (event_type, CAST(ts AS DATE))
""")
def events_cube_type_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (the full lattice, complementing
    ``events_rollup_daily``'s hierarchy): (type, day), (type), (day), and
    grand total in ONE pass — Spark expands the grouping sets and still
    applies partial aggregation per set before the single shuffle,
    replacing four separate scans at 100 TB. Sums route through the exact
    DECIMAL path so every grouping level hashes deterministically."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.to_date("ts") <= F.lit("2024-01-07").cast("date")))
    return (ev.cube("event_type", F.to_date("ts").alias("day"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.round(dec_sum(F.col("value")), 3).alias("total_value")))


@query("events_salted_rollup", f"""
WITH ev AS ({EV})
SELECT event_type, COUNT(*) AS n,
       ROUND({DEC_SUM_SQL.format(c='value', s=2)}, 3) AS total_value,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM ev GROUP BY event_type
""")
def events_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salting operator, hash-checked: a two-stage salted
    aggregation (``operators.skew.salted_agg``) whose oracle is the PLAIN
    single-stage GROUP BY — salting only changes the physical shuffle
    distribution, so for decomposable exact aggregates (count, DECIMAL
    sum, min, max) the result is identical by algebra no matter how the
    salt scatters rows. This is the fallback when one group's reduce-side
    fan-in exceeds an executor even after AQE skew splitting; the salt
    spreads the hot group over n_salts partitions at the cost of a
    second (tiny: groups x n_salts rows) aggregation."""
    from ..operators.skew import salted_agg
    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev, ["event_type"],
        {"n": (F.count(F.lit(1)), "sum"),
         "dec_total": (F.sum(F.col("value").cast("decimal(18,2)")), "sum"),
         "min_value": (F.min("value"), "min"),
         "max_value": (F.max("value"), "max")})
    return out.select("event_type", F.col("n").cast("bigint").alias("n"),
                      F.round(F.col("dec_total").cast("double"), 3)
                       .alias("total_value"),
                      "min_value", "max_value")


@query("events_salted_dim_join", f"""
WITH ev AS ({EV})
SELECT c.c_mktsegment, ev.event_type, COUNT(*) AS n,
       ROUND({DEC_SUM_SQL.format(c='ev.value', s=2)}, 3) AS total_value
FROM ev JOIN customer c ON ev.user_id = c.c_custkey
GROUP BY c.c_mktsegment, ev.event_type
""")
def events_salted_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salting JOIN operator, hash-checked (completing the skew
    module's differential coverage — ``events_salted_rollup`` covers
    ``salted_agg``): events joined to the customer dimension through
    ``operators.skew.salted_join`` — skewed side salted with a random
    salt, dim side exploded n_salts× — against the PLAIN equi-join
    oracle. Salting only redistributes rows across shuffle partitions;
    for an inner join each fact row still meets exactly its one dim match
    (now keyed (user_id, salt)), so the joined multiset is identical by
    algebra no matter how the salt scatters. The rollup to (segment,
    type) makes the parity check compact while every joined row
    contributes to the hash via exact count + DECIMAL sum.

    Scale: this is the fallback when the dim is too big to broadcast AND
    one fact key is hot enough to blow a reducer even after AQE skew
    splits — the standard salted-shuffle-join shape."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type",
                                                    "value")
    dim = (load_table(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
           # pin a SHUFFLED hash join: at test scale Spark would broadcast
           # the tiny dim, which never exercises the salted key path the
           # operator exists for (a broadcastable dim needs no salt).
           .hint("shuffle_hash"))
    joined = salted_join(ev, dim, on="user_id", n_salts=8, how="inner")
    return (joined.groupBy("c_mktsegment", "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("value").cast("decimal(18,2)"))
                          .cast("double"), 3).alias("total_value")))


@query("events_next_type_transitions", f"""
WITH ev AS ({EV}),
seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM ev)
SELECT event_type, next_type, COUNT(*) AS n_transitions
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""")
def events_next_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-dataset builder: per-user next-event transition counts
    (the Markov/next-token training-pair shape for behavioral data). One
    (user_id)-keyed window with the (ts, event_id) deterministic order,
    then a transition-matrix groupBy — the same single-shuffle-then-agg
    shape as sessionization, linear at any event volume."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("event_type",
                    F.lead("event_type").over(w).alias("next_type"))
    return (seq.filter(F.col("next_type").isNotNull())
               .groupBy("event_type", "next_type")
               .agg(F.count(F.lit(1)).alias("n_transitions")))


_STREAM_SEQ = [0]  #: memory-sink names must be unique per invocation

def _with_state_partitions(spark: SparkSession, n_rows: int):
    """Streaming state-partition sizing via
    ``session.sized_shuffle_partitions`` (one shared rows-per-partition
    constant — see that module): every streaming stateful operator
    instantiates one state store PER shuffle partition (a stream-stream
    join holds four), and each store commits a delta file and its
    checksum every micro-batch: a fixed per-store cost that is pure
    overhead when the partition holds little state. Unlike batch the
    count is frozen into the checkpoint at first start — AQE can never
    coalesce it, so it must be chosen deliberately from the rows the
    stream admits. Measured at sf0.1, 4 cores: about 5-10 ms per store
    commit (the rollup's 4 stores 21-33 ms, the join's 16 stores
    148 ms); before ``_local_checkpoint_files`` it was about 90 ms, all
    but a few ms of it the ``readlink`` fork per checkpoint file. The
    round-8 measurement on the sf0.1 interval join, 32 -> 8 state
    partitions cutting wall time 9.5 s -> 2.5 s with identical results,
    was taken with that fork. Restores the session value on exit."""
    from ..session import sized_shuffle_partitions
    return sized_shuffle_partitions(spark, n_rows)


def _run_stream_to_memory(spark: SparkSession, stream: DataFrame,
                          n_rows: int, prefix: str, build_agg,
                          flush_batch: bool = True) -> DataFrame:
    """Shared harness for the oracle-backed streaming queries: run
    ``build_agg(stream)`` through ``trigger(availableNow=True)`` in
    append mode into a uniquely named memory sink, and return the sink's
    rows. ``stream`` reads the source table's own files
    (``sources.table_and_stream``); ``n_rows`` is the row count it admits,
    which sizes the state partitioning (see _with_state_partitions).

    Every oracle here replays the SINGLE-micro-batch emission rule (final
    watermark = ``max(ts) - delay``, one flush), so single-batch admission
    is enforced, not assumed (round-4 ADVICE): ``_assert_single_batch``
    verifies from the query's progress log that exactly one batch carried
    rows; a split would otherwise advance the watermark between batches
    and silently evict state. Admission is single-batch regardless of
    file count because no ``maxFilesPerTrigger`` is configured on the
    session; the assertion, not the file layout, is the enforcement, and
    it turns any future split admission into a loud failure instead of
    silent row loss. ``awaitTermination``'s boolean is checked: a timeout
    would otherwise return a silently partial memory table (round-3
    ADVICE).

    The three conf scopes (state partitions, flush batch, checkpoint
    file manager) wrap only ``start()``: the query clones the session
    there, so the stream runs with the scoped values while the session
    holds them for the start call only. The sink's temp view is dropped
    before returning; the returned frame keeps the sink's rows.

    The checkpoint is a one-shot ``scratch_dir``, removed on return (a
    DURABLE stream's checkpoint stays on reliable storage — these
    contract runs are one-shot by construction, enforced via
    _assert_single_batch). Every micro-batch writes an offset-log entry,
    a commit-log entry and a delta file per state store there. Their
    cost was never the medium: per-batch commit times were the same on
    ``/dev/shm`` and on the root disk. It was a ``readlink`` fork per
    file in Spark's default checkpoint manager, which
    ``_local_checkpoint_files`` removes: at sf0.1, 4 cores, the offset-
    and commit-log writes fell from about 30 ms to 5-17 ms each."""
    import shutil

    _STREAM_SEQ[0] += 1
    name = f"depa_stream_{prefix}_{_STREAM_SEQ[0]}"
    ck = scratch_dir(f"depa_stream_ck_{prefix}_")
    try:
        writer = (build_agg(stream).writeStream.format("memory")
                  .queryName(name).option("checkpointLocation", ck)
                  .outputMode("append").trigger(availableNow=True))
        with _no_data_batches(spark, flush_batch), \
                _with_state_partitions(spark, n_rows), \
                _local_checkpoint_files(spark):
            q = writer.start()
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                f"streaming query {name} did not terminate within "
                f"300s; memory sink would be partial")
        _assert_single_batch(q, name)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(ck, ignore_errors=True)


@_contextmanager
def _no_data_batches(spark: SparkSession, flush_batch: bool):
    """Scoped ``spark.sql.streaming.noDataMicroBatches.enabled=false``
    for streaming queries that EMIT in the data batch (round 17): an
    availableNow run with a watermark appends one empty micro-batch
    after the data batch purely to advance the watermark and evict
    state. Append-mode AGGREGATIONS emit IN that flush batch — it is
    the oracle's "one flush" and must stay (``flush_batch=True``, the
    default, is a no-op here). But an inner stream-stream join,
    dropDuplicates, or a stateless enrich emits every row in the data
    batch itself; for those the empty batch is pure state-eviction
    overhead that a one-shot run never benefits from —
    ``flush_batch=False`` skips it via the engine's supported conf.
    Measured at sf0.1, 4 cores, with ``_local_checkpoint_files``: the
    empty batch's trigger is 176 ms for the dedup and 747 ms for the
    interval join, most of it ``addBatch`` (the eviction pass over every
    store: 132 and 567 ms) and planning (21 and 153 ms); its state
    commits are 112 and 79 ms. Before that change the store commits
    were about 90 ms each, from the ``readlink`` fork per file.
    Results are bit-identical either way (interleaved A/B pinned in
    tests); session value restored on exit."""
    if flush_batch:
        yield
        return
    with scoped_conf(spark, "spark.sql.streaming.noDataMicroBatches.enabled",
                      "false"):
        yield


#: Spark's checkpoint file manager that writes through the Hadoop
#: FileSystem API (Spark 4.1 package name).
FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                         "checkpointing.FileSystemBasedCheckpointFileManager")
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _local_checkpoint_files(spark: SparkSession):
    """Scoped ``spark.sql.streaming.checkpointFileManagerClass`` =
    FileSystem-based, for the contract streams, whose checkpoints are
    one-shot local ``scratch_dir``s. Spark's default manager writes
    each checkpoint file through Hadoop's FileContext, whose rename on a
    local ``file:`` path asks ``RawLocalFileSystem.getFileLinkStatus``,
    which forks a ``readlink`` process when native Hadoop is not loaded:
    one fork per state-store delta, checksum, offset-log and commit-log
    file. The FileSystem manager renames with ``FileSystem.rename``,
    which on a local path is an atomic, overwriting POSIX rename; Spark's
    own checkpoint checksum files are still written. Durable and cluster
    checkpoints (streams started outside this harness, such as the
    stream-loss probe's) keep the default manager: on HDFS its
    FileContext rename is an atomic overwrite, and an ``hdfs://`` or
    ``s3a://`` path never reaches ``RawLocalFileSystem``. Session value
    restored on exit."""
    return scoped_conf(spark, CHECKPOINT_MANAGER_KEY, FS_CHECKPOINT_MANAGER)



def _assert_single_batch(q, name: str) -> None:
    """Fail loudly if the availableNow run admitted input across more
    than one micro-batch: the batch oracles replay the one-flush
    emission rule, and a split admission (e.g. an externally configured
    ``maxFilesPerTrigger``) can evict watermark state between batches —
    a silent-row-loss mode, never a hash-diff the driver could catch."""
    data_batches = sum(
        1 for p in q.recentProgress if (p.get("numInputRows") or 0) > 0)
    if data_batches > 1:
        raise RuntimeError(
            f"streaming query {name}: input admitted across "
            f"{data_batches} micro-batches; the single-batch emission "
            f"contract the oracle replays does not hold")


@query("streaming_hourly_rollup", f"""
WITH ev AS ({EV}),
wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS cutoff FROM ev)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n,
       ROUND({DEC_SUM_SQL.format(c='value', s=2)}, 3) AS total_value
FROM ev, wm
GROUP BY date_trunc('hour', ts), event_type, cutoff
HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR <= cutoff
""")
def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming, oracle-checked at full value strictness: the
    watermarked hourly rollup (``streaming.jobs.windowed_value_rollup``
    over 1-hour tumbling windows) run with ``trigger(availableNow=True)``
    over the events table's own files as a file stream, append mode into
    a memory sink.

    The oracle replays the append-mode emission rule exactly: with one
    input batch, the final watermark is ``max(ts) - 2 hours`` and the
    flush batch emits precisely the windows whose end is at or before it
    — so the batch GROUP BY restricted to ``window_end <= cutoff``
    hash-matches the streamed result (verified; window ends are
    hour-aligned while the watermark lands on an arbitrary microsecond,
    so the boundary comparison is never ambiguous on this data). Sums
    route through the exact DECIMAL path; counts are exact — the same
    determinism discipline as the batch contract.

    Scale: this is the unbounded-ingest path — state is keyed by
    (window, type) across executors and the watermark bounds it; the
    memory sink is the test double for a real table/Kafka sink."""
    from ..streaming.jobs import windowed_value_rollup

    ev, ev_stream = table_and_stream(spark, sf_dir, "events")

    def agg(stream: DataFrame) -> DataFrame:
        return windowed_value_rollup(stream, F.window("ts", "1 hour"))

    return _run_stream_to_memory(spark, ev_stream, ev.count(), "rollup", agg)


@query("streaming_sliding_rollup", f"""
WITH ev AS ({EV}),
wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS cutoff FROM ev),
x AS (SELECT date_trunc('hour', ts) - k * INTERVAL '1 hour' AS window_start,
             event_type, value
      FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS k) ks)
SELECT window_start, event_type, COUNT(*) AS n,
       ROUND({DEC_SUM_SQL.format(c='value', s=2)}, 3) AS total_value
FROM x, wm
GROUP BY window_start, event_type, cutoff
HAVING window_start + INTERVAL 2 HOUR <= cutoff
""")
def streaming_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (2-hour length, 1-hour slide) — the
    overlapping-window streaming shape the tumbling rollup can't express:
    each event contributes to exactly two hour-aligned windows, so the
    per-window aggregate is a smoothed 2-hour trailing view updated
    hourly.

    The oracle replays Spark's slide semantics literally: every event is
    replicated to the k ∈ {{0, 1}} hour-aligned starts covering it (the
    unnest cross join), then the same single-flush append rule as the
    tumbling oracle — only windows whose END (start + 2h) is at or
    before ``max(ts) - 2h`` are emitted. Counts are exact; sums route
    through the DECIMAL path.

    Scale: state is (window, type)-keyed like the tumbling case but with
    2× the live windows per key (length/slide); the watermark still
    bounds it — overlapping windows change the state constant, not the
    growth class."""
    from ..streaming.jobs import windowed_value_rollup

    ev, ev_stream = table_and_stream(spark, sf_dir, "events")

    def agg(stream: DataFrame) -> DataFrame:
        return windowed_value_rollup(stream,
                                     F.window("ts", "2 hours", "1 hour"))

    return _run_stream_to_memory(spark, ev_stream, ev.count(), "sliding", agg)


@query("streaming_dim_enrich", f"""
WITH ev AS ({EV}),
st AS (SELECT event_type, {DEC_AVG_SQL.format(c='value', s=2)} AS type_mean
       FROM ev WHERE value IS NOT NULL GROUP BY event_type),
wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS cutoff FROM ev)
SELECT date_trunc('hour', e.ts) AS window_start, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN e.value > st.type_mean THEN 1 ELSE 0 END)
            AS BIGINT) AS n_above_mean
FROM ev e JOIN st ON e.event_type = st.event_type, wm
GROUP BY date_trunc('hour', e.ts), e.event_type, cutoff
HAVING date_trunc('hour', MIN(e.ts)) + INTERVAL 1 HOUR <= cutoff
""")
def streaming_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC broadcast join — the enrichment pattern the other
    streaming queries don't cover: each micro-batch's rows join a static
    per-type reference relation (here the type's historical mean value,
    computed batch-side at launch) before the watermarked hourly window
    counts how many readings exceeded their type's mean.

    The static side is broadcast once and reused by every micro-batch —
    no stream-side state for the join itself; only the windowed
    aggregate holds state, bounded by the watermark. The mean is
    dec_avg's raw quotient (bit-exact), so the ``value > mean`` gate
    cannot flip cross-engine; counts are exact integers; the emission
    rule is the tumbling oracle's single-flush replay."""
    ev, ev_stream = table_and_stream(spark, sf_dir, "events")
    static = (ev.filter(F.col("value").isNotNull())
              .groupBy("event_type")
              .agg(dec_avg(F.col("value"), scale=2).alias("type_mean")))

    def agg(stream: DataFrame) -> DataFrame:
        s = (stream.withWatermark("ts", "2 hours")
             .join(F.broadcast(static), "event_type"))
        return (s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.when(F.col("value") > F.col("type_mean"), 1)
                            .otherwise(0)).alias("n_above"))
                .select(F.col("w.start").alias("window_start"), "event_type",
                        F.col("n").cast("bigint").alias("n"),
                        F.col("n_above").cast("bigint")
                         .alias("n_above_mean")))

    return _run_stream_to_memory(spark, ev_stream, ev.count(), "enrich", agg)


@query("streaming_dedup_first", f"""
SELECT DISTINCT {FINGERPRINT_SQL.format(c='text')} AS fp FROM documents
""")
def streaming_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup, oracle-checked: the documents table as a
    file stream over its own files, with the synthetic event time and
    the content fingerprint projected inside the stream, run through
    ``streaming.jobs.dedup_stream`` — ``dropDuplicatesWithinWatermark``
    keyed on the content fingerprint — append mode, availableNow.

    Emission rule the oracle replays: dedup emits each fingerprint's
    first-arriving row immediately (no window to finalize), and with one
    input batch no state is evicted mid-batch, so the surviving set is
    exactly DISTINCT fingerprints. Only ``fp`` is emitted: which copy
    survives is processing-order-dependent, but duplicates agree on the
    fingerprint by construction, so the projected result is deterministic.

    Scale: state is (fingerprint, ts) pairs partitioned across executors
    and bounded by the watermark — the incremental counterpart of the
    batch ``dedup_exact`` hash-groupBy."""
    from ..functions.text import fingerprint
    from ..streaming.jobs import dedup_stream

    docs, doc_stream = table_and_stream(spark, sf_dir, "documents")
    d = doc_stream.select(
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_dt_interval(secs=F.col("doc_id").cast("double")))
         .alias("ts"),
        fingerprint(F.col("text")).alias("fp"))

    def agg(stream: DataFrame) -> DataFrame:
        return dedup_stream(stream, ts_col="ts", fp_col="fp",
                            watermark="1 hour").select("fp")

    # flush_batch=False: dropDuplicatesWithinWatermark emits each
    # first-seen row in the data batch itself; the empty watermark-
    # advance batch only evicts state a one-shot run never reuses
    # (see _no_data_batches — results bit-identical, measured).
    return _run_stream_to_memory(spark, d, docs.count(), "dedup", agg,
                                 flush_batch=False)


@query("streaming_session_rollup", f"""
WITH ev AS ({EV}),
flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL OR
                   epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM flagged),
sess AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events,
         ROUND({DEC_SUM_SQL.format(c='value', s=2)}, 3) AS total_value
  FROM numbered GROUP BY user_id, session_no),
wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS cutoff FROM ev)
SELECT user_id, session_start, session_end, n_events, total_value
FROM sess, wm WHERE session_end <= cutoff
""")
def streaming_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in ``session_window`` sessionization, oracle-checked
    against the batch gaps-and-islands oracle on the same events: 30-min
    dynamic-gap event-time windows, watermark 30 min, availableNow,
    append mode into a memory sink.

    The oracle replays the append emission rule: with one input batch the
    final watermark is ``max(ts) - 30 min``, and the flush emits exactly
    the sessions whose end (= last event + gap) is at or before it. A
    session's end equals the cutoff only if some event lands exactly
    60 min before max(ts) — at microsecond granularity the boundary is
    never ambiguous on this data (verified at sf0.01 and sf0.1). Sums
    route through the exact DECIMAL path like every batch contract query.

    Scale: per-session state is (start, end, partial aggregates) keyed by
    user across executors; the watermark both finalizes sessions and
    bounds state — the declarative alternative to
    ``applyInPandasWithState`` when per-session aggregates suffice."""
    ev, ev_stream = table_and_stream(spark, sf_dir, "events")

    def agg(stream: DataFrame) -> DataFrame:
        return (stream.withWatermark("ts", "30 minutes")
                .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                         "user_id")
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.col("value").cast("decimal(18,2)"))
                      .alias("dec_total"))
                .select("user_id",
                        F.col("w.start").alias("session_start"),
                        F.col("w.end").alias("session_end"),
                        F.col("n_events").cast("bigint").alias("n_events"),
                        F.round(F.col("dec_total").cast("double"), 3)
                         .alias("total_value")))

    return _run_stream_to_memory(spark, ev_stream, ev.count(), "session", agg)


@query("streaming_click_attribution", f"""
WITH ev AS ({EV}),
clk AS (SELECT user_id, ts AS click_ts, event_id AS click_id FROM ev
        WHERE event_type = 'click'),
pur AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
               value AS amount
        FROM ev WHERE event_type = 'purchase')
SELECT pur.user_id, pur.purchase_id, pur.purchase_ts,
       clk.click_id, clk.click_ts, pur.amount
FROM pur JOIN clk
  ON pur.user_id = clk.user_id
 AND clk.click_ts <= pur.purchase_ts
 AND clk.click_ts >= pur.purchase_ts - INTERVAL 1 HOUR
""")
def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, oracle-checked — the last streaming
    surface that was tests-only: ``streaming.jobs.stream_stream_join``
    attributes each purchase to the same user's clicks within the
    preceding hour. Both sides are filters of ONE events file stream (a
    self-join: clicks on one side, purchases on the other), each
    watermarked, availableNow, append into a memory sink.

    Emission rule the oracle replays: an INNER stream-stream join emits a
    pair as soon as both rows are buffered; watermarks only bound state
    eviction BETWEEN micro-batches, and with one input batch nothing is
    evicted before matching — so the streamed result is exactly the
    batch interval join, which the oracle computes directly. All join
    keys/timestamps are exact (no floats), so the hash is trivially
    stable.

    Scale: both streams shuffle on user_id; buffered state per side is
    bounded by watermark + the 1-hour join bound — the canonical
    attribution-pipeline shape for unbounded click/purchase streams."""
    from ..streaming.jobs import stream_stream_join

    ev, ev_stream = table_and_stream(spark, sf_dir, "events")
    is_click = F.col("event_type") == "click"
    is_purchase = F.col("event_type") == "purchase"

    def agg(stream: DataFrame) -> DataFrame:
        return stream_stream_join(stream.filter(is_click),
                                  stream.filter(is_purchase),
                                  max_delay="1 hour", watermark="2 hours")

    # State is sized from the clicks and purchases the join admits: it
    # holds FOUR state stores per partition, so sizing matters most here.
    # flush_batch=False: an INNER stream-stream join emits each pair in
    # the data batch that completes it — the empty watermark-advance
    # batch only evicts all four stores' state: about 0.75 s at sf0.1,
    # 4 cores (567 ms eviction pass, 153 ms planning, 79 ms state
    # commit) that a one-shot run never benefits from (interleaved A/B
    # 3.52 -> 2.64 s median, rows identical, measured before the
    # checkpoint-manager scope).
    return _run_stream_to_memory(
        spark, ev_stream, ev.filter(is_click | is_purchase).count(), "attr",
        agg, flush_batch=False)


@query("events_user_reach_hll", f"""
WITH ev AS ({EV})
SELECT event_type, COUNT(DISTINCT user_id) AS n_users_exact,
       COUNT(*) AS n_events, TRUE AS within_bound
FROM ev GROUP BY event_type
""")
def events_user_reach_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct-user reach via the HyperLogLog++ sketch
    (``approx_count_distinct``) — the documented 100 TB switch for
    COUNT(DISTINCT) (SCALING.md): O(1) memory per group instead of the
    exact-distinct expand/shuffle.

    Oracle-backed with the same ERROR-BOUND pattern as
    ``star_pricing_p95_approx``: the sketch value is engine-specific, so
    the hashed columns are the exact distinct count (DuckDB recomputes
    it) plus ``within_bound`` — |approx − exact| ≤ 4·rsd·exact with the
    default rsd 0.05, a ≥4-sigma envelope for HLL++'s standard error.
    The sketch is hash-based and order-independent, so the boolean is
    deterministic for a given dataset; a sketch regression breaks the
    hash. Exact + approx fold into ONE aggregate: a single shuffle
    carries both (the exact side is the verification cost; production
    keeps only the sketch)."""
    rsd = 0.05
    ev = load_table(spark, sf_dir, "events")
    agg = (ev.groupBy("event_type")
             .agg(F.count_distinct(F.col("user_id")).alias("exact"),
                  F.approx_count_distinct("user_id", rsd).alias("approx"),
                  F.count(F.lit(1)).alias("n_events")))
    bound = F.lit(4.0 * rsd) * F.col("exact").cast("double")
    return agg.select(
        "event_type", F.col("exact").alias("n_users_exact"), "n_events",
        (F.abs(F.col("approx").cast("double")
               - F.col("exact").cast("double")) <= bound)
        .alias("within_bound"))


_PR_SEQ_SQL = """SELECT src, dst FROM (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM ev) WHERE dst IS NOT NULL"""


def _pagerank_oracle() -> str:
    from ..operators.graph import DEFAULT_PR_ITERS, pagerank_sql
    return (pagerank_sql(EV, _PR_SEQ_SQL)
            + f"SELECT node AS event_type, r AS pagerank "
              f"FROM r{DEFAULT_PR_ITERS}")


@query("events_pagerank_types", _pagerank_oracle())
def events_pagerank_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the event-type transition graph
    (operators/graph.py): nodes = event types, edge weights = per-source
    transition shares from each user's (ts, event_id)-ordered sequence —
    the iterative-algorithm family (beyond one-shot joins/aggs) under
    full oracle hash strictness.

    Determinism is the whole trick: every rank update is
    (1−d)/N + d·Σ w·r where each term is one IEEE multiply of identical
    operands on both engines and the per-destination Σ folds in
    ascending order (fold_sum ↔ DuckDB ``SUM(x ORDER BY x)``) — so five
    rounds of float iteration stay bit-identical cross-engine, and the
    raw doubles are hashed unrounded. Dangling mass (a node with no
    out-edges) is dropped, identically on both sides.

    Scale: per-iteration cost is one node-keyed equi-join + one grouped
    fold on the edge list — the node/edge relations partition by id and
    nothing touches the driver; lineage truncation per round
    (clustering.py pattern) is the documented add-on for deep iteration
    counts."""
    from ..operators.graph import pagerank

    ev = load_table(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (ev.select(F.col("event_type").alias("src"),
                     F.lead("event_type").over(w_seq).alias("dst"))
           .filter(F.col("dst").isNotNull()))
    edges = seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))
    outdeg = edges.groupBy("src").agg(F.sum("cnt").alias("outc"))
    w = (edges.join(outdeg, "src")
         .select("src", "dst",
                 (F.col("cnt").cast("double")
                  / F.col("outc").cast("double")).alias("w")))
    # nodes=None: the node universe here IS the edge endpoints (every
    # seq row lands in the edge aggregate), so pagerank derives nodes
    # from its materialized edge checkpoint instead of this query
    # re-running the events window + union + distinct a second time
    # (round 17 — that node pass was ~40% of the query's wall).
    r = pagerank(None, w)
    return r.select(F.col("node").alias("event_type"),
                    F.col("r").alias("pagerank"))


@query("events_funnel_steps", f"""
WITH ev AS ({EV}),
u AS (SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS v_ts
      FROM ev GROUP BY user_id),
c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM ev e JOIN u ON e.user_id = u.user_id
      WHERE e.event_type = 'click' AND e.ts >= u.v_ts GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM ev e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY e.user_id)
SELECT COUNT(*) AS n_users, COUNT(u.v_ts) AS n_viewed,
       COUNT(c.c_ts) AS n_clicked, COUNT(p.p_ts) AS n_purchased,
       CASE WHEN COUNT(u.v_ts) = 0 THEN NULL
            ELSE CAST(COUNT(c.c_ts) AS DOUBLE) / COUNT(u.v_ts) END
         AS view_to_click,
       CASE WHEN COUNT(c.c_ts) = 0 THEN NULL
            ELSE CAST(COUNT(p.p_ts) AS DOUBLE) / COUNT(c.c_ts) END
         AS click_to_purchase
FROM u LEFT JOIN c ON u.user_id = c.user_id
       LEFT JOIN p ON u.user_id = p.user_id
""")
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-ordered funnel (view → click-after-view →
    purchase-after-that-click): the product-analytics step sequence the
    sessionize/attribution queries don't express — each step's timestamp
    is the MIN event of its type AT OR AFTER the previous step's.

    ONE shuffle: all three steps are chained conditional-min windows
    over the same bare user_id partitioning (no ORDER BY ⇒ no sort), and
    the per-user reduce + the final 1-row rollup reuse that clustering —
    where the naive rendering (the oracle's independent derivation)
    joins the event table once per step. NULLs chain naturally: a user
    with no view has NULL v_ts, so every later step's `ts >= NULL`
    predicate is NULL and the step never fires. All step values are
    exact timestamps/counts; conversion rates are raw quotients
    (try_divide ↔ the oracle's CASE-guarded division)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    s = (ev.withColumn(
            "v_ts", F.min(F.when(F.col("event_type") == "view",
                                 F.col("ts"))).over(w))
         .withColumn(
            "c_ts", F.min(F.when((F.col("event_type") == "click")
                                 & (F.col("ts") >= F.col("v_ts")),
                                 F.col("ts"))).over(w))
         .withColumn(
            "p_ts", F.min(F.when((F.col("event_type") == "purchase")
                                 & (F.col("ts") >= F.col("c_ts")),
                                 F.col("ts"))).over(w)))
    per_user = s.groupBy("user_id").agg(
        F.min("v_ts").alias("v_ts"), F.min("c_ts").alias("c_ts"),
        F.min("p_ts").alias("p_ts"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("v_ts").alias("n_viewed"),
        F.count("c_ts").alias("n_clicked"),
        F.count("p_ts").alias("n_purchased"),
        F.try_divide(F.count("c_ts").cast("double"), F.count("v_ts"))
         .alias("view_to_click"),
        F.try_divide(F.count("p_ts").cast("double"), F.count("c_ts"))
         .alias("click_to_purchase"))


@query("streaming_foreachbatch_upsert", f"""
WITH ev AS ({EV}),
r AS (SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev)
SELECT user_id, user_id % 8 AS bucket, ts AS last_ts,
       event_type AS last_type, value AS last_value
FROM r WHERE rn = 1
""")
def streaming_foreachbatch_upsert(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The streaming → lake UPSERT sink (CDC latest-state): a file
    stream of events, processed in TWO time-ordered micro-batches
    (``maxFilesPerTrigger=1`` over two staged files with forced mtime
    order), where ``foreachBatch`` reduces each batch to its
    latest-row-per-user and MERGEs it into a parquet warehouse table
    through the SAME ``ModelGraph`` incremental/merge machinery the
    batch DAG uses — the partition-PRUNED path (bucket ⊆ unique_key).
    Batch 2's users supersede their batch-1 rows because the stage is
    split by time, so the final table must equal the global
    latest-per-user relation, which the oracle computes directly — a
    real multi-batch upsert equivalence, not a single-flush replay.

    Scale: this is the canonical exactly-once streaming upsert shape —
    foreachBatch gives batch-level idempotency, the merge rewrites only
    the partitions the batch touches (O(batch) write amplification per
    trigger), and on a lake format the same hook becomes a Delta
    MERGE INTO. State lives in the
    table, not the stream — no watermark needed for latest-state CDC."""
    import os
    import shutil

    from ..plans.models import ModelGraph

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut = lo + (hi - lo) / 2

    staged = scratch_dir("depa_stream_upsert_in_")
    wh = scratch_dir("depa_stream_upsert_wh_")
    try:
        # stage two single-file batches with strictly increasing mtimes
        # so maxFilesPerTrigger=1 admits them oldest-first: batch 1 =
        # first half by time, batch 2 = second half.
        for i, batch in enumerate([ev.filter(F.col("ts") < F.lit(cut)),
                                   ev.filter(F.col("ts") >= F.lit(cut))]):
            tmp = scratch_dir("depa_stream_upsert_tmp_")
            batch.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp)
                        if f.endswith(".parquet") and f.startswith("part-"))
            dst = os.path.join(staged, f"batch-{i}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            os.utime(dst, (1_000_000_000 + i * 100, 1_000_000_000 + i * 100))

        seen_batches: set[int] = set()

        def upsert(batch_df: DataFrame, batch_id: int) -> None:
            g = ModelGraph(warehouse_dir=wh)
            g.add_source("batch", lambda s, v: batch_df)

            @g.model(name="user_latest", deps=["batch"],
                     materialization="incremental",
                     incremental_strategy="merge",
                     unique_key=["user_id", "bucket"],
                     partition_by=["bucket"])
            def user_latest(s, v, batch):
                w = Window.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id"))
                return (batch.withColumn("rn", F.row_number().over(w))
                        .filter(F.col("rn") == 1)
                        .select("user_id",
                                (F.col("user_id") % 8).alias("bucket"),
                                F.col("ts").alias("last_ts"),
                                F.col("event_type").alias("last_type"),
                                F.col("value").alias("last_value")))

            g.run(spark)
            seen_batches.add(batch_id)

        _STREAM_SEQ[0] += 1
        name = f"depa_stream_upsert_{_STREAM_SEQ[0]}"
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", "1").parquet(staged))
        writer = (stream.writeStream.foreachBatch(upsert)
                  .trigger(availableNow=True)
                  .option("checkpointLocation", os.path.join(staged, "_ckpt"))
                  .queryName(name))
        with _local_checkpoint_files(spark):
            q = writer.start()
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                f"streaming query {name} did not terminate within 300s")
        if len(seen_batches) != 2:
            raise RuntimeError(
                f"streaming query {name}: expected 2 upsert micro-batches, "
                f"got {len(seen_batches)} — the multi-batch merge contract "
                f"does not hold")
        final = spark.read.parquet(os.path.join(wh, "user_latest")).select(
            "user_id", F.col("bucket").cast("bigint").alias("bucket"),
            "last_ts", "last_type", "last_value")
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


@query("events_max_concurrency", f"""
WITH ev AS ({EV}),
pts AS (
  SELECT event_id, ts AS pt, 1 AS delta, CAST(ts AS DATE) AS day FROM ev
  UNION ALL
  SELECT event_id, ts + INTERVAL 30 MINUTE AS pt, -1 AS delta,
         CAST(ts + INTERVAL 30 MINUTE - INTERVAL 1 MICROSECOND AS DATE)
           AS day
  FROM ev),
run AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day
                          ORDER BY pt, delta, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS concurrent
  FROM pts),
carry AS (
  SELECT CAST(ts AS DATE) + 1 AS day, COUNT(*) AS carry_in FROM ev
  WHERE ts + INTERVAL 30 MINUTE >
        CAST(CAST(ts AS DATE) + 1 AS TIMESTAMP)
  GROUP BY 1),
mx AS (SELECT day, MAX(concurrent) AS mx FROM run GROUP BY day)
SELECT m.day,
       CAST(GREATEST(COALESCE(c.carry_in, 0),
                     COALESCE(c.carry_in, 0) + m.mx) AS BIGINT)
         AS max_concurrent
FROM mx m LEFT JOIN carry c ON m.day = c.day
""")
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day (capacity planning over implied activity
    intervals): each event opens a 30-minute activity window, the
    windows become +1/-1 boundary points, a day-keyed running sum counts
    how many are open at each boundary, and the day's max is the peak —
    the classic sweep-line rendering of interval overlap counting, with
    no interval self-join anywhere.

    Cross-midnight correctness (round-5 ADVICE): a day's running sum
    alone drops intervals opened the previous evening — the orphaned −1
    drives the prefix negative and sessions open at 00:00 never count.
    Two repairs, both replayed identically by the oracle: (1) each day
    is SEEDED with the count of intervals open at its midnight (a tiny
    per-day carry-in aggregate joined back — the peak is
    GREATEST(carry_in, carry_in + max prefix), since the 00:00
    concurrency itself can be the peak); (2) a −1 landing exactly ON
    midnight is attributed to the PREVIOUS day (endpoint day = end −
    1µs: half-open [start, end) means the interval is closed at
    midnight, so its close must not leak into the next day's sum).

    Determinism at boundaries: the running sum orders by (pt, delta,
    event_id) — delta sorts the −1 before the +1 at an exact touch
    (half-open intervals, identically on both engines), and event_id
    breaks residual ties so the prefix sums are bit-identical.
    Scale: the sweep is keyed by day (the 30-min horizon spans at most
    one midnight, so carry-in is a single previous-day aggregate — the
    same bounded look-back any watermark makes), state per partition is
    one running integer; 2 rows per event flow through one day-keyed
    shuffle plus a day-keyed carry join. Integer arithmetic only. The
    sweep itself is ``operators.intervals.max_concurrency_by_day``,
    property-tested against a brute-force interval counter on
    adversarial (midnight-straddling) inputs in tests/test_properties.py
    — oracle parity alone cannot catch a truncation both engines
    share."""
    from ..operators.intervals import max_concurrency_by_day

    ev = load_table(spark, sf_dir, "events")
    return max_concurrency_by_day(ev, ts_col="ts", id_col="event_id",
                                  duration="INTERVAL 30 MINUTE")


@query("events_value_mad", f"""
WITH ev AS ({EV}),
med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM ev GROUP BY event_type)
SELECT e.event_type,
       m.med AS median_value,
       quantile_cont(ABS(e.value - m.med), 0.5) AS mad,
       COUNT(*) AS n
FROM ev e JOIN med m ON e.event_type = m.event_type
GROUP BY e.event_type, m.med
""")
def events_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per event type — the ROBUST dispersion
    stat the 3-sigma outlier gate (dbt_outlier_3sigma) should graduate
    to when the data is heavy-tailed: median(|x − median(x)|) shrugs off
    the exact outliers that inflate a standard deviation.

    Two-pass by necessity (the inner median must exist before deviations
    do): pass 1 computes each type's exact median; pass 2 joins it back
    (broadcast — one row per type) and takes the median of absolute
    deviations. Both medians are emitted UNROUNDED (round-5 ADVICE:
    ROUND of an interpolated double is the half-boundary hash-flake
    class): p=0.5 is DYADIC, so even on a duplicate interpolation
    bracket [x, x] — where non-dyadic fractions make quantile_cont
    drift one ulp from Spark's stored-value short-circuit
    (tests/test_round7.py) — the arithmetic ``0.5*x + 0.5*x`` is exact
    and both engines return the identical double; |x − m| is one IEEE
    subtract of identical operands. At 100 TB both passes swap to
    approx_percentile under the documented sketch-bound pattern, same
    plan shape."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = (ev.groupBy("event_type")
           .agg(F.percentile("value", 0.5).alias("med")))
    j = ev.join(F.broadcast(med), "event_type")
    return (j.groupBy("event_type", "med")
            .agg(F.percentile(F.abs(F.col("value") - F.col("med")),
                              0.5).alias("mad"),
                 F.count(F.lit(1)).alias("n"))
            .select("event_type", F.col("med").alias("median_value"),
                    "mad", "n"))


@query("events_retention_cohorts", f"""
WITH ev AS ({EV}),
uw AS (SELECT DISTINCT user_id,
              CAST(date_trunc('week', ts) AS DATE) AS week FROM ev),
first_w AS (SELECT user_id, MIN(week) AS cohort_week FROM uw
            GROUP BY user_id)
SELECT f.cohort_week,
       CAST((uw.week - f.cohort_week) // 7 AS BIGINT) AS week_offset,
       COUNT(*) AS n_active
FROM uw JOIN first_w f ON uw.user_id = f.user_id
GROUP BY f.cohort_week, (uw.week - f.cohort_week) // 7
""")
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — the canonical product-analytics
    triangle: users grouped by their FIRST active week, counted in each
    later week they return (week_offset 0 = the cohort's size itself,
    since uw is distinct user-weeks).

    Shape: distinct user-weeks (one dedup shuffle), per-user min week
    (reuses the user key), join back on user, rollup by (cohort,
    offset). All shuffles are user- or cohort-keyed; the offset is
    integer DAY arithmetic on week-truncated DATEs (Spark datediff ↔
    DuckDB date subtraction, both integer days — no timestamp-repr or
    DST ambiguity). Cohort count is bounded by the
    calendar, so the final rollup is tiny at any event volume."""
    ev = load_table(spark, sf_dir, "events")
    uw = (ev.select("user_id",
                    F.date_trunc("week", "ts").cast("date").alias("week"))
          .distinct())
    first_w = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    j = uw.join(first_w, "user_id")
    return (j.select("cohort_week",
                     F.floor(F.datediff("week", "cohort_week") / 7)
                      .cast("bigint").alias("week_offset"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_active")))
