"""Structured Streaming tests: watermarked windowed rollup equals its batch
counterpart; stateful sessionization closes sessions on watermark advance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_projects_spark.sources import load_table
from data_engineering_projects_spark.streaming import (
    hourly_rollup_stream, sessionize_stream,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_input(spark, tmp_path_factory):
    """Materialize events (µs timestamps) as a streamable parquet dir."""
    d = tmp_path_factory.mktemp("stream_in")
    ev = load_table(spark, SF, "events").select("ts", "user_id", "value")
    ev.write.mode("overwrite").parquet(str(d))
    return str(d), ev


def test_hourly_rollup_stream_matches_batch(spark, stream_input, tmp_path):
    path, batch_ev = stream_input
    schema = batch_ev.schema
    stream = spark.readStream.schema(schema).parquet(path)
    q = (hourly_rollup_stream(stream)
         .writeStream.format("memory").queryName("rollup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("rollup")
    want = (batch_ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(F.avg("value").alias("avg_value"),
                 F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "user_id",
                    "avg_value", "n_events"))
    # append mode emits only windows finalized by the watermark; every
    # emitted window must match the batch result exactly
    emitted = got.select("window_start", "user_id", "avg_value", "n_events")
    j = emitted.alias("g").join(want.alias("w"), ["window_start", "user_id"])
    n = j.count()
    assert n == emitted.count() > 0
    mismatch = j.filter(
        (F.abs(F.col("g.avg_value") - F.col("w.avg_value")) > 1e-9)
        | (F.col("g.n_events") != F.col("w.n_events"))).count()
    assert mismatch == 0


def test_sessionize_stream(spark, tmp_path):
    import pandas as pd
    d = tmp_path / "sess_in"
    d.mkdir()
    # batch 1: two users active at t0; batch 2: a much later event advances
    # the watermark past the 30-min gap, closing their sessions
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    b1 = pd.DataFrame({
        "ts": [t0, t0 + pd.Timedelta(minutes=5),
               t0 + pd.Timedelta(minutes=10), t0],
        "user_id": [1, 1, 1, 2],
        "value": [1.0, 2.0, 3.0, 4.0],
    })
    b2 = pd.DataFrame({
        "ts": [t0 + pd.Timedelta(hours=6)], "user_id": [99], "value": [0.0]})
    spark.createDataFrame(b1).write.parquet(str(d / "b1"))
    spark.createDataFrame(b2).write.parquet(str(d / "b2"))
    schema = "ts timestamp, user_id long, value double"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(d) + "/*"))
    q = (sessionize_stream(stream, gap_minutes=30)
         .writeStream.format("memory").queryName("sessions")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = {r["user_id"]: r for r in spark.table("sessions").collect()
            if r["status"] == "closed"}
    assert 1 in rows and 2 in rows
    assert rows[1]["n_events"] == 3
    assert rows[1]["session_end"] - rows[1]["session_start"] == \
        __import__("datetime").timedelta(minutes=10)
    assert rows[2]["n_events"] == 1


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


def test_quality_gated_sink_warn_commits_error_fails(spark, tmp_path):
    """foreachBatch quality gate: WARN violations quarantine + commit;
    ERROR violations fail the query (dbt gate ordering semantics)."""
    from data_engineering_projects_spark.quality import (
        Severity, accepted_range, not_null,
    )
    from data_engineering_projects_spark.streaming.jobs import quality_gated_sink

    src = tmp_path / "qg_in"
    rows = [(1, 50.0), (2, 300.0), (3, 80.0)]  # 300 out of [0,120] range
    spark.createDataFrame(rows, "id long, speed double") \
        .write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema("id long, speed double").parquet(str(src))

    out, quar = tmp_path / "qg_out", tmp_path / "qg_quar"
    q = quality_gated_sink(
        stream,
        [not_null("id"), accepted_range("speed", 0, 120, Severity.WARN)],
        str(out), str(tmp_path / "qg_ck"), quarantine_path=str(quar))
    q.processAllAvailable(); q.stop()
    assert spark.read.parquet(str(out)).count() == 3      # warn commits
    rep = spark.read.parquet(str(quar)).collect()
    assert len(rep) == 1 and rep[0]["n_violations"] == 1

    # ERROR severity: batch must fail and nothing commits
    stream2 = spark.readStream.schema("id long, speed double").parquet(str(src))
    out2 = tmp_path / "qg_out2"
    q2 = quality_gated_sink(
        stream2, [accepted_range("speed", 0, 120, Severity.ERROR)],
        str(out2), str(tmp_path / "qg_ck2"))
    with pytest.raises(Exception) as ei:
        q2.processAllAvailable()
    q2.stop()
    assert "quality" in str(ei.value).lower() or "QualityError" in str(ei.value)
    import os
    assert not os.path.exists(str(out2)) or \
        spark.read.parquet(str(out2)).count() == 0


def test_session_window_rollup_matches_manual(spark, tmp_path):
    """Built-in session_window: events <=gap apart merge into one session
    per user; a gap splits sessions."""
    from data_engineering_projects_spark.streaming.jobs import (
        session_window_rollup,
    )
    src = tmp_path / "sw_in"
    rows = [  # user 1: two sessions (09:00-09:10, 11:00); user 2: one
        ("2024-01-01 09:00:00", 1, 10.0, 1),
        ("2024-01-01 09:10:00", 1, 20.0, 2),
        ("2024-01-01 11:00:00", 1, 5.0, 3),
        ("2024-01-01 09:05:00", 2, 7.0, 4),
        # sentinel: pushes the watermark past every real session's end so
        # append mode emits them before the availableNow drain finishes
        ("2024-01-02 00:00:00", 99, 0.0, 5),
    ]
    (spark.createDataFrame(rows, "ts string, user_id long, value double, event_id long")
        .select(F.to_timestamp("ts").alias("ts"), "user_id", "value", "event_id")
        .write.mode("overwrite").parquet(str(src)))
    stream = spark.readStream.schema(
        "ts timestamp, user_id long, value double, event_id long").parquet(str(src))
    out = tmp_path / "sw_out"
    q = (session_window_rollup(stream).writeStream.format("parquet")
         .option("path", str(out))
         .option("checkpointLocation", str(tmp_path / "sw_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["n_events"], r["total_value"])
           for r in spark.read.parquet(str(out)).collect()
           if r["user_id"] != 99}
    assert got == {(1, 2, 30.0), (1, 1, 5.0), (2, 1, 7.0)}


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


def test_streaming_pipeline_matches_dbt_hourly_metrics(spark, tmp_path):
    """End-to-end: staged speed stream -> hourly_rollup_stream ->
    quality_gated_sink as ONE job over a file source; every finalized
    window must equal the batch dbt_hourly_speed_metrics row computed on
    the same data (the streaming/batch consistency check,
    5_dbt/READ.md:398-412)."""
    from data_engineering_projects_spark.functions.cleaning import clean_range
    from data_engineering_projects_spark.streaming import quality_gated_sink
    from data_engineering_projects_spark import quality as Q
    from data_engineering_projects_spark.contract.traffic import (
        dbt_hourly_speed_metrics)

    # the dbt staging semantics, materialized as the stream source
    src = tmp_path / "staged"
    ev = load_table(spark, SF, "events")
    staged = (ev.filter(F.col("event_type") == "view")
                .select("ts", F.col("user_id").alias("location_id"),
                        clean_range(F.col("value"), 0, 120).alias("speed"))
                .filter(F.col("speed").isNotNull()))
    staged.write.mode("overwrite").parquet(str(src))

    stream = (spark.readStream.schema(staged.schema).parquet(str(src))
              .select("ts", F.col("location_id").alias("user_id"),
                      F.col("speed").alias("value")))
    rollup = hourly_rollup_stream(stream)
    out, cp, quar = (str(tmp_path / d) for d in ("out", "cp", "quar"))
    checks = [Q.not_null("avg_value", severity=Q.Severity.WARN),
              Q.accepted_range("avg_value", 0, 120,
                               severity=Q.Severity.WARN)]
    q = quality_gated_sink(rollup, checks, out, cp, quarantine_path=quar)
    q.processAllAvailable()
    q.stop()

    got = (spark.read.parquet(out)
           .select(F.col("window_start").alias("recorded_hour"),
                   F.col("user_id").alias("location_id"),
                   "avg_value", "min_value", "max_value", "n_events"))
    want = dbt_hourly_speed_metrics(spark, SF)
    j = got.alias("g").join(want.alias("w"), ["location_id", "recorded_hour"])
    assert j.count() == got.count() > 0  # every emitted window has a batch row
    mismatch = j.filter(
        (F.abs(F.round(F.col("g.avg_value"), 6) - F.col("w.avg_speed")) > 1e-9)
        | (F.col("g.min_value") != F.col("w.min_speed"))
        | (F.col("g.max_value") != F.col("w.max_speed"))
        | (F.col("g.n_events") != F.col("w.reading_count"))).count()
    assert mismatch == 0


def test_hourly_congestion_stream_matches_batch_model(spark, tmp_path):
    """Stream-static enrichment: the streaming congestion rollup must
    agree with the batch dbt intermediate model on every finalized
    window (speed metrics + dim attributes + ratio arithmetic)."""
    from data_engineering_projects_spark.functions.cleaning import clean_range
    from data_engineering_projects_spark.streaming.jobs import (
        hourly_congestion_stream)
    from data_engineering_projects_spark.contract.traffic import (
        _congestion_hourly, _dim_loc)

    src = tmp_path / "speed_src"
    ev = load_table(spark, SF, "events")
    staged = (ev.filter(F.col("event_type") == "view")
                .select("ts", F.col("user_id").alias("location_id"),
                        clean_range(F.col("value"), 0, 120).alias("speed"))
                .filter(F.col("speed").isNotNull()))
    staged.write.mode("overwrite").parquet(str(src))

    stream = spark.readStream.schema(staged.schema).parquet(str(src))
    q = (hourly_congestion_stream(stream, _dim_loc(spark, SF))
         .writeStream.format("memory").queryName("cong")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.table("cong")
    want = (_congestion_hourly(spark, SF)
            .filter(F.col("avg_speed").isNotNull())
            .select("location_id", "recorded_hour", "avg_speed",
                    "speed_limit", "lanes",
                    F.col("speed_ratio_raw").alias("speed_ratio")))
    j = got.alias("g").join(want.alias("w"), ["location_id", "recorded_hour"])
    assert j.count() == got.count() > 0
    mismatch = j.filter(
        (F.abs(F.col("g.avg_speed") - F.col("w.avg_speed")) > 1e-9)
        | (F.col("g.speed_limit") != F.col("w.speed_limit"))
        | (F.col("g.lanes") != F.col("w.lanes"))
        | (F.abs(F.col("g.speed_ratio") - F.col("w.speed_ratio")) > 1e-9)
    ).count()
    assert mismatch == 0


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


def test_durable_streams_keep_the_default_checkpoint_manager(spark, tmp_path):
    """Only the contract harness's one-shot local checkpoints switch the
    checkpoint file manager. ``streaming/jobs.py`` and
    ``tools/cluster_stream_loss_probe.py`` start streams whose
    checkpoints can be durable or on a cluster; they keep Spark's
    default manager (FileContext's atomic overwrite rename on HDFS and
    S3A): no source outside ``contract/sessions.py`` names the key, and
    a ``streaming/jobs.py`` stream runs with the key unset."""
    import pathlib

    from data_engineering_projects_spark.contract import sessions
    from data_engineering_projects_spark.streaming.jobs import (
        quality_gated_sink)

    repo = pathlib.Path(__file__).resolve().parent.parent
    naming = sorted(
        str(f.relative_to(repo))
        for d in ("data_engineering_projects_spark", "tools")
        for f in (repo / d).rglob("*.py")
        if "checkpointfilemanager" in f.read_text().lower())
    assert naming == ["data_engineering_projects_spark/contract/sessions.py"]
    assert (repo / "data_engineering_projects_spark/streaming/jobs.py").exists()
    assert (repo / "tools/cluster_stream_loss_probe.py").exists()

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    df.write.parquet(str(tmp_path / "in"))
    q = quality_gated_sink(
        spark.readStream.schema(df.schema).parquet(str(tmp_path / "in")),
        [], str(tmp_path / "out"), str(tmp_path / "ck"))
    try:
        stream_conf = q._jsq.streamingQuery().sparkSessionForStream().conf()
        assert stream_conf.get(sessions.CHECKPOINT_MANAGER_KEY, None) is None
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1


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
    """Output-level recovery semantics, pinned end-to-end for the file
    sink: (1) a restart with no new input emits ZERO rows (idempotent —
    no reprocessing of committed batches), (2) a restart with appended
    input finalizes only newly-passed windows, never re-emitting rows a
    previous run already committed, and (3) every emitted (window, user)
    key appears exactly once across all runs with values matching the
    batch ground truth over the full input."""
    from datetime import datetime

    from data_engineering_projects_spark.streaming.jobs import (
        hourly_rollup_stream)

    src, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    schema = "ts timestamp, user_id long, value double"

    def write_input(hours, mode):
        rows = [(datetime(2024, 1, 1, h), 7, float(h)) for h in hours]
        spark.createDataFrame(rows, schema).write.mode(mode).parquet(src)

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (hourly_rollup_stream(stream).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    write_input(range(10), "overwrite")       # hours 0..9
    run()                                     # watermark 2h -> finalizes 0..6
    n1 = spark.read.parquet(out).count()
    assert n1 == 7  # windows ending <= 09:00 - 2h = 07:00: hours 0..6

    run()                                     # restart, nothing new
    assert spark.read.parquet(out).count() == n1  # zero re-emission

    write_input(range(10, 15), "append")      # hours 10..14
    run()                                     # watermark -> 12:00
    got = spark.read.parquet(out).collect()
    keys = [(r["window_start"], r["user_id"]) for r in got]
    assert len(keys) == len(set(keys))        # exactly-once per key
    # finalized = windows ending <= 14:00 - 2h = 12:00: hours 0..11
    assert len(got) == 12
    by_hour = {r["window_start"].hour: r for r in got}
    for h in range(12):
        r = by_hour[h]
        # one row per hour with value == hour: avg/min/max all equal h
        assert (r["avg_value"], r["min_value"], r["max_value"],
                r["n_events"]) == (float(h), float(h), float(h), 1)


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


def test_state_swap_crash_matrix_and_legacy_markers(spark, tmp_path):
    """_apply_batch_with_state_swap (the shared foreachBatch state
    discipline): drive every crash-point filesystem state the docstring
    claims to survive, plus a legacy multi-marker dir, and assert the
    next batch heals to the correct state with a single high-watermark
    marker. The merge appends one (batch_id) row per applied batch so
    double-merges and lost merges are both visible in the data."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_projects_spark.streaming.jobs import (
        _apply_batch_with_state_swap)

    state = str(tmp_path / "state")

    def apply(bid):
        def merge(old):
            fresh = spark.range(1).select(F.lit(bid).alias("applied"))
            return fresh if old is None else old.unionByName(fresh)
        _apply_batch_with_state_swap(spark, state, bid, merge)

    def applied():
        return sorted(r["applied"]
                      for r in spark.read.parquet(state).collect())

    def markers():
        return sorted(f for f in os.listdir(state)
                      if f.startswith("_applied_"))

    apply(0)
    apply(1)
    assert applied() == [0, 1] and markers() == ["_applied_1"]

    # replayed and stale ids are no-ops
    apply(1)
    apply(0)
    assert applied() == [0, 1]

    # crash AFTER tmp write, BEFORE any rename: stale tmp left behind
    shutil.copytree(state, state + "__tmp")
    apply(2)
    assert applied() == [0, 1, 2] and markers() == ["_applied_2"]
    assert not os.path.exists(state + "__tmp")

    # crash BETWEEN the renames: state gone, bak holds the old state,
    # tmp holds the in-flight new state — heal restores bak, then the
    # redelivered batch re-merges exactly once
    shutil.copytree(state, state + "__bak")     # "old" state (0,1,2)
    shutil.rmtree(state)
    os.makedirs(state + "__tmp", exist_ok=True)  # half-written junk
    apply(3)
    assert applied() == [0, 1, 2, 3] and markers() == ["_applied_3"]
    assert not os.path.exists(state + "__bak")

    # crash AFTER the final rename, BEFORE bak cleanup: bak lingers
    # alongside the committed state — next batch must not "heal"
    shutil.copytree(state, state + "__bak")
    apply(4)
    assert applied() == [0, 1, 2, 3, 4] and markers() == ["_applied_4"]
    assert not os.path.exists(state + "__bak")

    # legacy per-batch marker dir: watermark reads the MAX, one write
    # collapses back to a single marker
    open(os.path.join(state, "_applied_2"), "w").close()
    open(os.path.join(state, "_applied_3"), "w").close()
    assert len(markers()) == 3
    apply(3)                                    # <= max(4): skipped
    assert applied() == [0, 1, 2, 3, 4]
    apply(5)
    assert applied() == [0, 1, 2, 3, 4, 5] and markers() == ["_applied_5"]

    # stray/truncated marker names (operator or tool debris) are ignored
    # rather than wedging every subsequent batch (round-12 ADVICE)
    open(os.path.join(state, "_applied_"), "w").close()
    open(os.path.join(state, "_applied_1.tmp"), "w").close()
    apply(6)
    assert applied() == [0, 1, 2, 3, 4, 5, 6]
    assert "_applied_6" in markers()


def test_append_state_crash_matrix(spark, tmp_path):
    """_append_batch_with_marker (round-12 append-layout state for
    corpus-sized state): drive the crash points of the rename-is-commit
    protocol. The build returns ONE row naming the batch, so lost and
    doubled batches are both visible; `calls` records which batches
    actually ran their build (replay skips must not re-run it)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_projects_spark.streaming.jobs import (
        _append_batch_with_marker, read_corpus_state)

    state = str(tmp_path / "corpus")
    calls = []

    def apply(bid, n_rows=1):
        def build(old):
            calls.append(bid)
            return spark.range(n_rows).select(F.lit(bid).alias("applied"))
        _append_batch_with_marker(spark, state, bid, build)

    def applied():
        return sorted(r["applied"] for r in read_corpus_state(
            spark, state).collect())

    def markers():
        return sorted(f for f in os.listdir(state)
                      if f.startswith("_applied_"))

    apply(0)
    apply(1)
    assert applied() == [0, 1] and markers() == ["_applied_1"]
    assert sorted(f for f in os.listdir(state)
                  if f.startswith("batch=")) == ["batch=0", "batch=1"]

    # replayed/stale ids: no build call, no data change
    apply(1)
    apply(0)
    assert applied() == [0, 1] and calls == [0, 1]

    # zero-admission batch: watermark advances through an empty dir
    apply(2, n_rows=0)
    assert applied() == [0, 1] and markers() == ["_applied_2"]
    assert os.path.isdir(os.path.join(state, "batch=2"))

    # crash AFTER tmp write, BEFORE the rename: stale tmp overwritten
    shutil.copytree(os.path.join(state, "batch=1"), state + "__tmp")
    apply(3)
    assert applied() == [0, 1, 3]
    assert not os.path.exists(state + "__tmp")

    # crash AFTER the rename, BEFORE the marker: dir presence is
    # authoritative — redelivery skips the build, heals the marker
    for m in markers():
        os.remove(os.path.join(state, m))
    n_calls = len(calls)
    apply(3)
    assert applied() == [0, 1, 3] and len(calls) == n_calls
    assert markers() == ["_applied_3"]

    # stray marker debris is ignored, never wedges the stream
    open(os.path.join(state, "_applied_"), "w").close()
    open(os.path.join(state, "_applied_2.tmp"), "w").close()
    apply(4)
    assert applied() == [0, 1, 3, 4]
    assert "_applied_4" in markers()

    # build sees the committed state (old side of the incremental merge)
    seen = {}

    def probe(old):
        seen["n"] = old.count()
        return old.limit(0).select(F.lit(5).alias("applied"))

    _append_batch_with_marker(spark, state, 5, probe)
    assert seen["n"] == 4  # rows 0,1,3,4 visible to batch 5's build


def test_compact_append_state_crash_matrix(spark, tmp_path):
    """compact_append_state (round 13): folding batch dirs <= K into one
    batch=K preserves rows, watermark, and replay semantics at every
    crash point of the intent-marker protocol — and the heal pass built
    into the next batch append finishes an interrupted compaction."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from data_engineering_projects_spark.streaming.jobs import (
        _append_batch_with_marker, _batch_dir_ids, compact_append_state,
        read_corpus_state)

    state = str(tmp_path / "corpus")

    def apply(bid, n_rows=1):
        _append_batch_with_marker(
            spark, state, bid,
            lambda old: spark.range(n_rows).select(
                F.lit(bid).alias("applied"),
                (F.lit(bid) * 10 + F.col("id")).alias("row_id")))

    def rows():
        return sorted(r["row_id"] for r in read_corpus_state(
            spark, state).collect())

    def markers():
        return sorted(f for f in os.listdir(state)
                      if f.startswith("_applied_"))

    for b in range(5):
        apply(b, n_rows=2 if b % 2 == 0 else 1)
    all_rows = rows()
    assert _batch_dir_ids(state) == {0, 1, 2, 3, 4}

    # partial compaction: dirs <= 2 fold into batch=2; rows identical,
    # watermark marker untouched, later dirs untouched
    assert compact_append_state(spark, state, upto=2) == 2
    assert _batch_dir_ids(state) == {2, 3, 4}
    assert rows() == all_rows and markers() == ["_applied_4"]
    # lineage coarsened: every compacted row now carries batch=2
    lin = read_corpus_state(spark, state, with_lineage=True)
    assert sorted(set(r["batch"] for r in lin.collect())) == [2, 3, 4]

    # replay of a compacted-away id: still skipped (watermark intact)
    apply(1, n_rows=9)
    assert rows() == all_rows

    # nothing-to-do: single dir in range -> None, state untouched
    assert compact_append_state(spark, state, upto=2) is None

    # crash BEFORE the intent rename: sibling tmp is ignorable debris
    os.makedirs(state + "__compact", exist_ok=True)
    open(os.path.join(state + "__compact", "junk"), "w").close()
    assert compact_append_state(spark, state) == 4
    assert _batch_dir_ids(state) == {4} and rows() == all_rows

    # extend, then crash AFTER the intent rename (commit point), BEFORE
    # removals: simulate by recreating the ready dir from a full copy
    apply(5)
    apply(6)
    all_rows = rows()
    # build the combined dir exactly as step (1)-(2) would
    combined = (read_corpus_state(spark, state))
    tmp = state + "__compact"
    shutil.rmtree(tmp, ignore_errors=True)
    combined.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(state, ".compact_ready_6"))
    # the next batch append heals first: old dirs removed, ready renamed
    apply(7)
    assert _batch_dir_ids(state) == {6, 7}
    assert rows() == all_rows + [70]
    assert markers() == ["_applied_7"]

    # crash MID-removal (after some dirs <= K deleted): rows covered by
    # the committed ready dir; heal completes idempotently
    apply(8)
    all_rows = rows()
    combined = read_corpus_state(spark, state)
    shutil.rmtree(tmp, ignore_errors=True)
    combined.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, os.path.join(state, ".compact_ready_8"))
    shutil.rmtree(os.path.join(state, "batch=6"))   # partial removal
    apply(9)
    assert _batch_dir_ids(state) == {8, 9}
    assert rows() == all_rows + [90]

    # builds after compaction see the full state (old side intact)
    seen = {}
    _append_batch_with_marker(
        spark, state, 10,
        lambda old: (seen.setdefault("n", old.count()),
                     old.limit(0))[1])
    assert seen["n"] == len(all_rows) + 1


def test_cluster_executor_loss_stateful_streaming():
    """Round 17: stateful Structured Streaming under REAL executor
    loss. The r16/r17 cluster probes covered file-sourced batch
    recovery (task re-execution over parquet lineage); this one covers
    the state-store reload path — when an executor JVM dies
    mid-microbatch, its state partitions (dedup fingerprints, windowed
    partial aggregates) die with the heap / local RocksDB instance and
    the respawned executor must rebuild them from the checkpoint's
    delta/snapshot files before the retried task runs, while the file
    sink's commit log keeps the retried batch exactly-once.

    tools/cluster_stream_loss_probe drives dedup_stream and
    hourly_rollup_stream on local-cluster[2,1,1024], SIGKILLing every
    executor JVM twice mid-stream per (job, provider) leg — HDFS-backed
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
