"""The stateful stream shapes the contract's streaming queries run
(SURVEY.md §7.6).

The reference's "streaming" is a cron re-run of a batch job
(5_dbt/READ.md:41); these shapes give the true incremental path: an
event-time windowed aggregate with watermarked late-data handling,
watermark-bounded exact dedup, and a watermarked stream-stream interval
join. ``contract/sessions.py`` runs each one oracle-checked, and
``tools/cluster_stream_loss_probe.py`` runs the dedup and the windowed
rollup through executor loss.

Scale posture: state is partitioned by key across executors (RocksDB/HDFS
state store on a real cluster); the watermark bounds state size, so each
shape runs indefinitely on an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def windowed_value_rollup(events: DataFrame, window: Column,
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked event-time rollup per (``window``, event_type): the
    row count ``n`` and ``total_value``, the exact DECIMAL(18,2) sum of
    ``value`` rounded to 3 places, keyed by ``window_start``.

    ``events`` is a streaming DataFrame with (ts timestamp, event_type,
    value double); ``window`` is the ``F.window(...)`` grouping column,
    tumbling or sliding. In append mode a window is emitted once the
    watermark passes its end. The decimal sum is exact, so the result
    does not depend on the order partial sums merge in."""
    return (events.withWatermark("ts", watermark)
            .groupBy(window.alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                  .alias("dec_total"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    F.col("n").cast("bigint").alias("n"),
                    F.round(F.col("dec_total").cast("double"), 3)
                     .alias("total_value")))


def stream_stream_join(clicks: DataFrame, purchases: DataFrame,
                       max_delay: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the same
    user's click within the preceding ``max_delay``. Both sides are
    watermarked and the join condition bounds event-time distance, so
    Spark can discard buffered state once the watermark passes — the
    state-bounding requirement for unbounded stream joins.
    """
    c = (clicks.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("c_user"),
                 F.col("ts").alias("click_ts"),
                 F.col("event_id").alias("click_id")))
    p = (purchases.withWatermark("ts", watermark)
         .select(F.col("user_id").alias("p_user"),
                 F.col("ts").alias("purchase_ts"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("value").alias("amount")))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts")
               - F.expr(f"INTERVAL {max_delay}")))
    return (p.join(c, cond)
             .select(F.col("p_user").alias("user_id"), "purchase_id",
                     "purchase_ts", "click_id", "click_ts", "amount"))


def dedup_stream(docs: DataFrame, ts_col: str = "ts",
                 fp_col: str = "fp", watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each content
    fingerprint, with state bounded by the watermark
    (``dropDuplicatesWithinWatermark``) — the incremental counterpart of
    the batch ``dedup_exact`` contract query.

    Two rows with the same fingerprint arriving within the watermark
    interval dedup exactly; beyond it the old state has been reclaimed
    (the standard recall/state-size trade for unbounded streams). At
    100 TB/day the state store holds only (fingerprint, timestamp) pairs
    partitioned across executors.
    """
    return (docs.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark([fp_col]))
