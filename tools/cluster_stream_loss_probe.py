#!/usr/bin/env python
"""Executor-loss probe for STATEFUL Structured Streaming (round 17).

``tools/cluster_loss_probe.py`` proves executor loss for the corpus
barrier modes, a file-sourced batch job whose recovery is task
re-execution over parquet lineage. Stateful streaming recovery is a
DIFFERENT code path: when an executor JVM dies
mid-microbatch, its state-store partitions (dedup fingerprints,
windowed-agg partials) are gone with the heap (HDFS-backed provider)
or the local RocksDB instance, and the respawned executor must reload
them from the checkpoint's delta/snapshot files before the retried
task can run — plus the file sink's commit log must keep the retried
batch exactly-once (orphan part-files from killed attempts must stay
invisible to a metadata-aware read).

This probe runs on ``local-cluster[2,1,1024]`` (real separate executor
JVMs) and drives two state shapes the contract streaming queries run
through that recovery, for both state-store providers:

- :func:`dedup_stream` (``dropDuplicatesWithinWatermark`` —
  per-fingerprint keyed state; ``streaming_dedup_first``), and
- :func:`windowed_value_rollup` (event-time windowed count and exact
  decimal sum — per-(window, event_type) partial aggregate state,
  finalized by watermark; ``streaming_hourly_rollup`` and
  ``streaming_sliding_rollup``),

each over a deterministic file-source stream (one parquet file per
microbatch, mtime-ordered, ``maxFilesPerTrigger=1`` under
``Trigger.AvailableNow``) with planted exact-copy duplicates across
adjacent batches and a far-future flush row that pushes the watermark
past every real window. Per job a single UNDISTURBED reference run
(default provider) pins the expected sink rows; then one kill leg per
(job, provider) SIGKILLs EVERY executor JVM twice mid-stream (at two
different microbatch ids) and asserts the metadata-aware sink read is
IDENTICAL to the reference — which simultaneously asserts
cross-provider result parity and exactly-once under loss. Orphan
part-files left by killed attempts are counted (disk files vs files
the ``_spark_metadata`` read actually returns).

Emits one JSON line:
{"legs": [{"job": j, "provider": p, "kills": k, "batches": n,
           "identical": bool, "disk_files": d, "committed_files": c}],
 "kills_total": K, "all_identical": bool}
Invoked standalone or by
tests/test_streaming.py::test_cluster_executor_loss_stateful_streaming
in a subprocess (a second SparkContext cannot share the pytest JVM).
"""
from __future__ import annotations

import glob
import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from executors import exec_pids, wait_executors  # noqa: E402

N_FILES = 18                 # real data files (one microbatch each)
ROWS_PER_FILE = 40
DUP_ROWS = 10                # odd files repeat 10 exact rows of file b-1
KILL_BATCHES = (5, 11)       # SIGKILL all executors when these start
EVENT_TYPES = ("view", "click", "purchase")  # the rollup's key column
ROCKSDB = ("org.apache.spark.sql.execution.streaming.state."
           "RocksDBStateStoreProvider")
HDFS = ("org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider")


def main() -> None:
    import shutil
    import tempfile

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType,
                                   TimestampType)

    from data_engineering_projects_spark.streaming.jobs import (
        dedup_stream, windowed_value_rollup)

    spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .appName("cluster-stream-loss-probe").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    schema = StructType([
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("fp", StringType()),
    ])

    # --- deterministic input corpus: one file per microbatch ---------
    base_ms = 1_700_000_000_000
    in_dir = tempfile.mkdtemp(prefix="stream_loss_in_")

    def file_rows(b: int) -> list[tuple]:
        rows = []
        for i in range(ROWS_PER_FILE):
            src = b - 1 if (b % 2 == 1 and i < DUP_ROWS) else b
            ms = base_ms + src * 60_000 + i * 1_000
            # a fractional value: the rollup sums it as decimal(18,2)
            rows.append((ms, (i % 4), EVENT_TYPES[i % len(EVENT_TYPES)],
                         float((src * 7 + i) % 100) + 0.25,
                         f"fp-{src}-{i}"))
        return rows

    row_schema = ("ms long, user_id long, event_type string, "
                  "value double, fp string")
    for b in range(N_FILES):
        df = spark.createDataFrame(file_rows(b), row_schema).select(
            F.timestamp_millis("ms").alias("ts"),
            "user_id", "event_type", "value", "fp").coalesce(1)
        df.write.mode("overwrite").parquet(f"{in_dir}/b{b:03d}.tmp")
        part = glob.glob(f"{in_dir}/b{b:03d}.tmp/part-*.parquet")[0]
        os.replace(part, f"{in_dir}/batch{b:03d}.parquet")
        shutil.rmtree(f"{in_dir}/b{b:03d}.tmp")
    # flush row a day later: watermark passes every real window
    flush = spark.createDataFrame(
        [(base_ms + 86_400_000, 0, "flush", 0.0, "fp-flush")], row_schema
    ).select(F.timestamp_millis("ms").alias("ts"),
             "user_id", "event_type", "value", "fp").coalesce(1)
    flush.write.mode("overwrite").parquet(f"{in_dir}/zf.tmp")
    part = glob.glob(f"{in_dir}/zf.tmp/part-*.parquet")[0]
    os.replace(part, f"{in_dir}/zflush.parquet")
    shutil.rmtree(f"{in_dir}/zf.tmp")
    # pin file-source ordering: strictly increasing mtimes
    t0 = time.time() - 3_600
    for i, name in enumerate(sorted(os.listdir(in_dir))):
        os.utime(os.path.join(in_dir, name), (t0 + i, t0 + i))

    JOBS = {
        "dedup": lambda src: dedup_stream(src, watermark="10 minutes"),
        "rollup": lambda src: windowed_value_rollup(
            src, F.window("ts", "5 minutes"), watermark="10 minutes"),
    }

    kills_total = {"n": 0}

    def run_query(job: str, provider: str, kill: bool,
                  workdir: str) -> dict:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", provider)
        sink = os.path.join(workdir, "sink")
        ckpt = os.path.join(workdir, "ckpt")
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(in_dir))
        q = (JOBS[job](src).writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())

        leg_kills = {"n": 0}
        if kill:
            def killer():
                fired = set()
                while q.isActive:
                    prog = q.lastProgress
                    if prog is not None:
                        bid = prog.get("batchId", -1)
                        for kb in KILL_BATCHES:
                            if bid >= kb and kb not in fired:
                                fired.add(kb)
                                time.sleep(0.2)  # land mid-next-batch
                                for pid in exec_pids(app_id):
                                    try:
                                        os.kill(pid, signal.SIGKILL)
                                        leg_kills["n"] += 1
                                        kills_total["n"] += 1
                                    except OSError:
                                        pass
                    if len(fired) == len(KILL_BATCHES):
                        return
                    time.sleep(0.1)
            kt = threading.Thread(target=killer, daemon=True)
            kt.start()
        q.awaitTermination()
        prog = q.lastProgress
        batches = (prog.get("batchId", -1) + 1) if prog else 0
        wait_executors(app_id)

        out = spark.read.parquet(sink)   # metadata-aware: committed only
        rows = sorted(tuple(r) for r in out.collect())
        committed = out.select(
            F.input_file_name().alias("f")).distinct().count()
        disk = len(glob.glob(os.path.join(sink, "part-*")))
        return {"rows": rows, "batches": batches,
                "kills": leg_kills["n"], "disk_files": disk,
                "committed_files": committed}

    wait_executors(app_id)
    root = tempfile.mkdtemp(prefix="stream_loss_")
    legs, refs = [], {}
    for job in JOBS:
        refs[job] = run_query(job, HDFS, kill=False,
                              workdir=os.path.join(root, f"ref_{job}"))
    for job in JOBS:
        for pname, provider in (("hdfs", HDFS), ("rocksdb", ROCKSDB)):
            r = run_query(job, provider, kill=True,
                          workdir=os.path.join(root, f"{job}_{pname}"))
            legs.append({"job": job, "provider": pname,
                         "kills": r["kills"], "batches": r["batches"],
                         "identical": r["rows"] == refs[job]["rows"],
                         "n_rows": len(r["rows"]),
                         "disk_files": r["disk_files"],
                         "committed_files": r["committed_files"]})

    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(in_dir, ignore_errors=True)
    print(json.dumps({"legs": legs, "kills_total": kills_total["n"],
                      "ref_rows": {j: len(refs[j]["rows"])
                                   for j in refs},
                      "all_identical": all(l["identical"]
                                           for l in legs)}))
    spark.stop()


if __name__ == "__main__":
    main()
