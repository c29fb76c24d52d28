"""Structured Streaming tests: the stream shapes in ``streaming/jobs.py``
(dedup, stream-stream join, windowed rollup) and the contract harness
that runs them (``contract/sessions.py``): state sizing, conf scopes,
emission boundaries, restart and executor-loss recovery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_projects_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_dedup_stream_first_arrival_wins(spark, tmp_path):
    """Streaming exact dedup: duplicates within the watermark collapse to
    the first arrival; distinct fingerprints all survive."""
    from data_engineering_projects_spark.streaming.jobs import dedup_stream

    src = tmp_path / "dedup_in"
    rows = [
        ("2024-01-01 00:00:00", "fp_a", 1),
        ("2024-01-01 00:05:00", "fp_a", 2),   # dup of fp_a within watermark
        ("2024-01-01 00:10:00", "fp_b", 3),
        ("2024-01-01 00:12:00", "fp_b", 4),   # dup of fp_b
        ("2024-01-01 00:20:00", "fp_c", 5),
    ]
    (spark.createDataFrame(rows, "ts string, fp string, doc_id int")
        .select(F.to_timestamp("ts").alias("ts"), "fp", "doc_id")
        .write.mode("overwrite").parquet(str(src)))
    stream = spark.readStream.schema("ts timestamp, fp string, doc_id int") \
        .parquet(str(src))
    out = tmp_path / "dedup_out"
    q = (dedup_stream(stream).writeStream.format("parquet")
         .option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(str(out)).collect()
    assert len(got) == 3
    assert {r["fp"] for r in got} == {"fp_a", "fp_b", "fp_c"}


def test_stream_stream_join_attributes_within_delay(spark, tmp_path):
    from data_engineering_projects_spark.streaming.jobs import (
        stream_stream_join,
    )
    schema = "ts timestamp, user_id long, event_id long, value double"
    clicks = [("2024-01-01 09:00:00", 1, 100, 0.0),
              ("2024-01-01 12:00:00", 2, 101, 0.0)]
    buys = [("2024-01-01 09:30:00", 1, 200, 9.99),   # within 1h of click 100
            ("2024-01-01 14:00:00", 2, 201, 5.00)]   # 2h after click 101: out
    for name, rows in [("c_in", clicks), ("p_in", buys)]:
        (spark.createDataFrame(rows, "ts string, user_id long, event_id long, value double")
            .select(F.to_timestamp("ts").alias("ts"), "user_id", "event_id", "value")
            .write.mode("overwrite").parquet(str(tmp_path / name)))
    cs = spark.readStream.schema(schema).parquet(str(tmp_path / "c_in"))
    ps = spark.readStream.schema(schema).parquet(str(tmp_path / "p_in"))
    out = tmp_path / "j_out"
    q = (stream_stream_join(cs, ps).writeStream.format("parquet")
         .option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "j_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = [(r["user_id"], r["purchase_id"], r["click_id"])
           for r in spark.read.parquet(str(out)).collect()]
    assert got == [(1, 200, 100)]


def test_state_partition_sizing(spark):
    """The state-partition rule: ceil(rows/25k) clamped to [4, session
    default]; session conf restored on exit (even on error)."""
    from data_engineering_projects_spark.contract.sessions import (
        _with_state_partitions)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _with_state_partitions(spark, 1) as sized:
        assert sized == 4  # floor
        assert spark.conf.get(key) == "4"
    assert spark.conf.get(key) == before
    with _with_state_partitions(spark, 10**9) as sized:
        assert sized == int(before)  # ceiling = session default
    with _with_state_partitions(spark, 150_000) as sized:
        assert sized == max(4, min(int(before), 6))  # ceil(150k/25k)
    with pytest.raises(RuntimeError):
        with _with_state_partitions(spark, 1):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before


def test_flush_batch_skip_is_result_identical(spark, tmp_path):
    """``flush_batch=False`` (round 17) suppresses the empty
    watermark-advance micro-batch for streams that emit in the data
    batch (dropDuplicates / inner stream-stream join). The rows must be
    IDENTICAL with and without the flush batch, and the session conf
    must be restored either way."""
    from data_engineering_projects_spark.contract.sessions import (
        _run_stream_to_memory)
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)
    d = load_table(spark, SF, "documents").select(
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_dt_interval(secs=F.col("doc_id").cast("double")))
        .alias("ts"),
        (F.col("doc_id") % 50).alias("fp"))
    d.write.parquet(str(tmp_path / "in"))
    n_rows = d.count()

    def stream():
        return spark.readStream.schema(d.schema).parquet(str(tmp_path / "in"))

    def agg(stream):
        return (stream.withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["fp"]).select("fp"))

    with_flush = sorted(
        r["fp"] for r in
        _run_stream_to_memory(spark, stream(), n_rows, "flushT", agg)
        .collect())
    assert spark.conf.get(key) == before
    without = sorted(
        r["fp"] for r in
        _run_stream_to_memory(spark, stream(), n_rows, "flushF", agg,
                              flush_batch=False).collect())
    assert spark.conf.get(key) == before
    assert with_flush == without and len(without) > 0


def test_conf_scopes_cover_start_only(spark, tmp_path, monkeypatch):
    """The state-partition, flush-batch and checkpoint-manager scopes
    wrap only ``start()``: the query clones the session there, so the
    stream runs at the sized state-partition count, without the flush
    batch and with the FileSystem-based checkpoint manager, while the
    session is back at its own values once ``start()`` has returned. An
    unknown manager class fails the start loudly, which shows the stream
    reads the key."""
    from datetime import datetime

    from data_engineering_projects_spark.contract import sessions
    from data_engineering_projects_spark.session import (
        sized_shuffle_partitions)

    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.streaming.noDataMicroBatches.enabled",
            sessions.CHECKPOINT_MANAGER_KEY)
    before = tuple(spark.conf.get(k, None) for k in keys)
    with sized_shuffle_partitions(spark, 150_000) as sized:
        pass
    assert sized != int(before[0])  # else the check below proves nothing
    rows = [(datetime(2024, 1, 1, h), h % 3) for h in range(10)]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    df.write.parquet(str(tmp_path / "in"))
    seen = []
    real_assert = sessions._assert_single_batch

    def spy(q, name):  # runs after the stream terminated
        stream_conf = q._jsq.streamingQuery().sparkSessionForStream().conf()
        seen.append((q, tuple(spark.conf.get(k, None) for k in keys),
                     stream_conf.get(sessions.CHECKPOINT_MANAGER_KEY, None)))
        real_assert(q, name)

    def run():
        return sessions._run_stream_to_memory(
            spark,
            spark.readStream.schema(df.schema).parquet(str(tmp_path / "in")),
            150_000, "scope",
            lambda s: (s.withWatermark("ts", "1 hour")
                       .dropDuplicatesWithinWatermark(["user_id"])),
            flush_batch=False)

    monkeypatch.setattr(sessions, "_assert_single_batch", spy)
    assert run().count() == 3
    (q, conf_after_start, manager), = seen
    assert conf_after_start == before
    assert manager == sessions.FS_CHECKPOINT_MANAGER
    assert len(q.recentProgress) == 1  # no flush batch
    ops = [op for p in q.recentProgress for op in p["stateOperators"]]
    assert ops and {op["numShufflePartitions"] for op in ops} == {sized}

    monkeypatch.setattr(sessions, "FS_CHECKPOINT_MANAGER",
                        "no.such.CheckpointFileManager")
    with pytest.raises(Exception, match="no.such.CheckpointFileManager"):
        run()
    assert len(seen) == 1
    assert tuple(spark.conf.get(k, None) for k in keys) == before


def test_durable_streams_keep_the_default_checkpoint_manager():
    """Only the contract harness's one-shot local checkpoints switch the
    checkpoint file manager. Streams started elsewhere, such as
    ``tools/cluster_stream_loss_probe.py``'s, can have durable or
    cluster checkpoints; they keep Spark's default manager (FileContext's
    atomic overwrite rename on HDFS and S3A): no source outside
    ``contract/sessions.py`` names the key."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    naming = sorted(
        str(f.relative_to(repo))
        for d in ("data_engineering_projects_spark", "tools")
        for f in (repo / d).rglob("*.py")
        if "checkpointfilemanager" in f.read_text().lower())
    assert naming == ["data_engineering_projects_spark/contract/sessions.py"]
    assert (repo / "tools/cluster_stream_loss_probe.py").exists()


def test_upsert_stream_starts_in_the_checkpoint_scope(spark, monkeypatch):
    """``streaming_foreachbatch_upsert`` starts its own stream on a local
    staged checkpoint, inside the same checkpoint-manager scope as the
    memory-sink harness."""
    from data_engineering_projects_spark import contract
    from data_engineering_projects_spark.contract import sessions
    contract.load_all()
    entered = []
    real = sessions._local_checkpoint_files
    monkeypatch.setattr(sessions, "_local_checkpoint_files",
                        lambda s: entered.append(s) or real(s))
    assert contract.QUERIES["streaming_foreachbatch_upsert"](spark, SF).count() > 0
    assert entered == [spark]


def test_streaming_call_drops_its_sink_view(spark):
    """A streaming contract call leaves no ``depa_stream_*`` temp view
    behind, and the frame it returns still holds the sink's rows."""
    from data_engineering_projects_spark import contract

    from .oracle import compare
    contract.load_all()
    df = contract.QUERIES["streaming_dedup_first"](spark, SF)
    assert not [t.name for t in spark.catalog.listTables()
                if t.name.startswith("depa_stream_")]
    compare(df, contract.ORACLES["streaming_dedup_first"], SF)


def test_streaming_call_writes_no_stage(spark, monkeypatch):
    """Contract streams read the table's own files: the only scratch
    directory a call creates is its checkpoint, also for the
    stream-stream join, whose two sides filter one events stream."""
    from data_engineering_projects_spark import contract
    from data_engineering_projects_spark.contract import sessions
    contract.load_all()
    made = []
    real = sessions.scratch_dir
    monkeypatch.setattr(sessions, "scratch_dir",
                        lambda prefix: made.append(prefix) or real(prefix))
    assert contract.QUERIES["streaming_click_attribution"](spark, SF).count() > 0
    assert made == ["depa_stream_ck_attr_"]


def test_streaming_query_restores_shuffle_partitions(spark):
    """End-to-end: a streaming contract query must leave the session's
    shuffle partitioning untouched for subsequent batch queries."""
    from data_engineering_projects_spark import contract
    contract.load_all()
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    contract.QUERIES["streaming_hourly_rollup"](spark, SF).count()
    assert spark.conf.get(key) == before


def test_stream_stream_join_interval_boundaries(spark, tmp_path):
    """The interval join's edges, pinned at microsecond resolution
    against the equivalent batch join: both interval endpoints are
    INCLUSIVE ([purchase_ts - 1h, purchase_ts]), 1 us outside either
    endpoint is excluded, user equality is required, and multiple
    in-window clicks each emit a row."""
    import pandas as pd
    from data_engineering_projects_spark.streaming.jobs import (
        stream_stream_join)

    t = pd.Timestamp("2024-03-01 12:00:00")
    us = pd.Timedelta(microseconds=1)
    h = pd.Timedelta(hours=1)
    clicks = pd.DataFrame({
        "event_id": [1, 2, 3, 4, 5, 6],
        "ts": [t - h,            # exactly 1h before: inclusive -> match
               t - h - us,       # 1 us too early -> excluded
               t,                # equal ts: inclusive -> match
               t + us,           # 1 us after purchase -> excluded
               t - h,            # same ts as click 1, other user -> excluded
               t - pd.Timedelta(minutes=30)],  # second in-window click
        "user_id": [7, 7, 7, 7, 8, 7],
        "value": [0.0] * 6,
    })
    purchases = pd.DataFrame({
        "event_id": [100], "ts": [t], "user_id": [7], "value": [9.5]})
    d_clk, d_pur = str(tmp_path / "clk"), str(tmp_path / "pur")
    cdf = spark.createDataFrame(clicks)
    pdf = spark.createDataFrame(purchases)
    cdf.write.parquet(d_clk)
    pdf.write.parquet(d_pur)
    s_clk = spark.readStream.schema(cdf.schema).parquet(d_clk)
    s_pur = spark.readStream.schema(pdf.schema).parquet(d_pur)
    q = (stream_stream_join(s_clk, s_pur)
         .writeStream.format("memory").queryName("ssj_bounds")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(r.purchase_id, r.click_id)
           for r in spark.table("ssj_bounds").collect()}
    assert got == {(100, 1), (100, 3), (100, 6)}
    # batch replay of the same condition agrees exactly
    want = {(r.purchase_id, r.click_id)
            for r in pdf.alias("p").join(
                cdf.alias("c"),
                (F.col("c.user_id") == F.col("p.user_id"))
                & (F.col("c.ts") <= F.col("p.ts"))
                & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR")))
            .select(F.col("p.event_id").alias("purchase_id"),
                    F.col("c.event_id").alias("click_id")).collect()}
    assert got == want


def _stage_files(spark, base, rows_per_file, schema):
    """Write each row-list as one single-file micro-batch with strictly
    increasing mtimes so maxFilesPerTrigger=1 admits them in order."""
    import os
    import shutil

    os.makedirs(base, exist_ok=True)
    for i, rows in enumerate(rows_per_file):
        tmp = os.path.join(base, f"_tmp{i}")
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp)
                    if f.startswith("part-") and f.endswith(".parquet"))
        dst = os.path.join(base, f"batch-{i}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_000_000_000 + i * 100,) * 2)


def test_stream_stream_join_split_admission_drops_late_rows(spark, tmp_path):
    """The silent-row-loss mode _assert_single_batch exists to catch,
    demonstrated: the SAME data admitted (a) in one availableNow batch
    emits every batch-semantics pair, (b) split across micro-batches
    (maxFilesPerTrigger=1) advances the watermark between batches, the
    early click's buffered state is EVICTED once the watermark passes
    its join bound, and a later late purchase finds nothing to join —
    its pair is silently lost, not an error. (The watermark is an
    eviction guarantee, not a strict input filter: a late row arriving
    in the SAME batch the watermark advances can still join — the loss
    needs the eviction to land one batch earlier, as staged here.)"""
    from datetime import datetime, timedelta

    from data_engineering_projects_spark.streaming.jobs import (
        stream_stream_join)

    t = datetime(2024, 3, 1)
    hr = timedelta(hours=1)
    mi = timedelta(minutes=1)
    sch = "event_id long, ts timestamp, user_id long, value double"
    # all user 7; join window 1h, watermark 2h
    c1 = (1, t, 7, 0.0)                 # early click
    c2 = (2, t + 10 * hr, 7, 0.0)       # advances click-side max ts
    pm = (100, t + 10 * hr, 7, 1.0)     # marker purchase, matches c2
    pf = (101, t + 10 * hr + mi, 7, 2.0)  # filler, matches c2 too
    # admitted in the batch whose END evicts c1 (watermark reached
    # t+8h at the previous batch's close)
    p_fill = (103, t + 10 * hr + 2 * mi, 7, 2.5)
    # arrives AFTER eviction: matches c1 in batch semantics only
    p_late = (102, t + 45 * mi, 7, 3.0)
    clk, pur = str(tmp_path / "clk"), str(tmp_path / "pur")
    _stage_files(spark, clk, [[c1], [c2]], sch)
    _stage_files(spark, pur, [[pm], [pf], [p_fill], [p_late]], sch)

    def run(name, max_files):
        reader = spark.readStream.schema(
            spark.read.parquet(clk).schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", "1")
        s_clk = reader.parquet(clk)
        reader = spark.readStream.schema(spark.read.parquet(pur).schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", "1")
        s_pur = reader.parquet(pur)
        q = (stream_stream_join(s_clk, s_pur)
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        return {(r.purchase_id, r.click_id)
                for r in spark.table(name).collect()}

    single = run("ssj_single", max_files=False)
    split = run("ssj_split", max_files=True)
    full = {(100, 2), (101, 2), (103, 2), (102, 1)}
    assert single == full            # one batch: nothing evicted
    assert split == full - {(102, 1)}  # split: c1 evicted, pair lost


def test_session_window_exact_gap_boundary(spark, tmp_path):
    """The session merge convention at the exact gap, pinned: two events
    exactly 30 min apart MERGE into one session (the oracle's islands
    replay flags a new session only on diff > gap); 30 min + 1 us
    splits. Divergence here would silently double-count sessions."""
    from datetime import datetime, timedelta

    t = datetime(2024, 3, 1)
    gap = timedelta(minutes=30)
    us = timedelta(microseconds=1)
    rows = [(t, 1, 1.0), (t + gap, 1, 1.0),          # exactly gap: merge
            (t, 2, 1.0), (t + gap + us, 2, 1.0),     # gap + 1 us: split
            (datetime(2024, 3, 3), 3, 0.0)]          # watermark advancer
    df = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    d = str(tmp_path / "sess_gap")
    df.write.parquet(d)
    stream = spark.readStream.schema(df.schema).parquet(d)
    agg = (stream.withWatermark("ts", "30 minutes")
           .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                    "user_id")
           .agg(F.count(F.lit(1)).alias("n_events")))
    q = (agg.writeStream.format("memory").queryName("sess_gap")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(r.user_id, r.n_events)
           for r in spark.table("sess_gap").collect()}
    # user 1: one merged 2-event session; user 2: two 1-event sessions
    assert (1, 2) in got
    assert (2, 1) in got and (1, 1) not in got
    n_user2 = sum(1 for r in spark.table("sess_gap").collect()
                  if r.user_id == 2)
    assert n_user2 == 2


def test_state_partition_count_frozen_into_checkpoint(spark, tmp_path):
    """The claim behind the sizing rule, pinned end-to-end: the count
    chosen at FIRST start (under _with_state_partitions) reaches the
    state operator, and a restart of the same checkpoint under a
    different session conf keeps the frozen count — AQE/conf changes
    can never re-partition existing state."""
    from datetime import datetime

    from data_engineering_projects_spark.contract.sessions import (
        _with_state_partitions)

    d = str(tmp_path)
    rows = [(datetime(2024, 1, 1, h), h % 3, 1.0) for h in range(10)]
    df = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    df.write.parquet(d + "/in")

    def start(name):
        s = spark.readStream.schema(df.schema).parquet(d + "/in")
        agg = (s.withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 hour"), "user_id")
               .agg(F.count(F.lit(1)).alias("n")))
        # file sink: the memory sink does not support checkpoint
        # recovery, and recovery is exactly what this test exercises
        q = (agg.writeStream.format("parquet")
             .option("path", d + "/out")
             .outputMode("append").option("checkpointLocation", d + "/ck")
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        return q.recentProgress[-1]["stateOperators"][0]

    with _with_state_partitions(spark, 10) as sized:
        assert sized == 4
        op1 = start("frozen1")
    assert op1["numShufflePartitions"] == 4

    # more input, restart the SAME checkpoint at a much larger conf
    extra = [(datetime(2024, 1, 2, h), h % 3, 1.0) for h in range(5)]
    spark.createDataFrame(extra, df.schema).write.mode("append") \
        .parquet(d + "/in")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        op2 = start("frozen2")
    finally:
        spark.conf.set(key, prev)
    assert op2["numShufflePartitions"] == 4  # frozen, not 32


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path):
    """Output-level recovery semantics of the contract's hourly rollup
    (``windowed_value_rollup`` over 1-hour tumbling windows, as
    ``streaming_hourly_rollup`` runs it), pinned end-to-end for the file
    sink: (1) a restart with no new input emits ZERO rows (idempotent —
    no reprocessing of committed batches), (2) a restart with appended
    input finalizes only newly-passed windows, never re-emitting rows a
    previous run already committed, and (3) every emitted
    (window, event_type) key appears exactly once across all runs with
    values matching the batch ground truth over the full input."""
    from datetime import datetime

    from data_engineering_projects_spark.streaming.jobs import (
        windowed_value_rollup)

    src, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    schema = "ts timestamp, event_type string, value double"

    def write_input(hours, mode):
        # two rows per hour: h at h:00 and 0.25 at h:30
        rows = [r for h in hours
                for r in ((datetime(2024, 1, 1, h), "view", float(h)),
                          (datetime(2024, 1, 1, h, 30), "view", 0.25))]
        spark.createDataFrame(rows, schema).write.mode(mode).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (windowed_value_rollup(stream, F.window("ts", "1 hour"))
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_input(range(10), "overwrite")       # hours 0..9
    run()                                     # watermark 2h -> finalizes 0..6
    n1 = spark.read.parquet(out).count()
    assert n1 == 7  # windows ending <= 09:30 - 2h = 07:30: hours 0..6

    run()                                     # restart, nothing new
    assert spark.read.parquet(out).count() == n1  # zero re-emission

    write_input(range(10, 15), "append")      # hours 10..14
    run()                                     # watermark -> 12:30
    got = spark.read.parquet(out).collect()
    keys = [(r["window_start"], r["event_type"]) for r in got]
    assert len(keys) == len(set(keys))        # exactly-once per key
    # finalized = windows ending <= 14:30 - 2h = 12:30: hours 0..11
    assert len(got) == 12
    by_hour = {r["window_start"].hour: r for r in got}
    for h in range(12):
        r = by_hour[h]
        assert (r["event_type"], r["n"], r["total_value"]) == \
            ("view", 2, h + 0.25)


def test_dedup_stream_state_survives_restart(spark, tmp_path):
    """The dedup state store must recover across a restart: a duplicate
    fingerprint arriving in a LATER run (within the watermark) is still
    suppressed by state built in the first run, and already-committed
    rows are not re-emitted."""
    from data_engineering_projects_spark.streaming.jobs import dedup_stream

    src, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    schema = "ts timestamp, fp string, doc_id int"

    def write_rows(rows, mode):
        (spark.createDataFrame(rows, "ts string, fp string, doc_id int")
         .select(F.to_timestamp("ts").alias("ts"), "fp", "doc_id")
         .write.mode(mode).parquet(src))

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (dedup_stream(stream).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_rows([("2024-01-01 00:00:00", "fp_a", 1),
                ("2024-01-01 00:10:00", "fp_b", 2)], "overwrite")
    run()
    assert spark.read.parquet(out).count() == 2

    # restart: fp_a again (cross-run dup, within 1h watermark) + new fp_c
    write_rows([("2024-01-01 00:30:00", "fp_a", 3),
                ("2024-01-01 00:40:00", "fp_c", 4)], "append")
    run()
    got = spark.read.parquet(out).collect()
    assert len(got) == 3                      # fp_a dup suppressed
    assert {r["fp"] for r in got} == {"fp_a", "fp_b", "fp_c"}
    assert {r["doc_id"] for r in got} == {1, 2, 4}  # first arrivals only


def test_cluster_executor_loss_stateful_streaming():
    """Round 17: stateful Structured Streaming under REAL executor
    loss. tools/cluster_loss_probe covers file-sourced batch recovery
    (task re-execution over parquet lineage); this one covers
    the state-store reload path — when an executor JVM dies
    mid-microbatch, its state partitions (dedup fingerprints, windowed
    partial aggregates) die with the heap / local RocksDB instance and
    the respawned executor must rebuild them from the checkpoint's
    delta/snapshot files before the retried task runs, while the file
    sink's commit log keeps the retried batch exactly-once.

    tools/cluster_stream_loss_probe drives dedup_stream and
    windowed_value_rollup (the state shapes of streaming_dedup_first and
    of the hourly and sliding rollups) on local-cluster[2,1,1024],
    SIGKILLing every executor JVM twice mid-stream per (job, provider)
    leg — HDFS-backed
    AND RocksDB providers — and asserts each leg's metadata-aware sink
    read is identical to an undisturbed reference (which also pins
    cross-provider parity under loss). Orphan part-files from killed
    attempts must exist on disk yet stay invisible to the read.
    Subprocess because a second SparkContext cannot share this JVM."""
    import json
    import os as _os
    import subprocess
    import sys

    here = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, _os.path.join(here, "tools",
                                       "cluster_stream_loss_probe.py")],
        capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-2000:]
    verdict = json.loads(proc.stdout.strip().splitlines()[-1])
    assert verdict["all_identical"] is True
    assert len(verdict["legs"]) == 4      # {dedup,rollup} x {hdfs,rocksdb}
    for leg in verdict["legs"]:
        assert leg["kills"] >= 2, leg     # both kill points lost JVMs
        assert leg["identical"] is True, leg
        # exactly-once made visible: killed attempts leave orphan
        # part-files that the _spark_metadata-aware read filters out
        assert leg["disk_files"] >= leg["committed_files"], leg
    assert verdict["kills_total"] >= 8
