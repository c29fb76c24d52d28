#!/usr/bin/env python
"""Executor-loss probe for the corpus pipeline's barrier modes (round
16, verdict #3). Runs on ``local-cluster[2,1,1024]`` — real separate
executor JVMs under standalone workers, the closest this container gets
to a cluster — and kills EVERY executor of the app immediately after
the first materialization barrier of :func:`extend_corpus`, mid-query:

- default mode (eager ``localCheckpoint``): the barrier's blocks live
  only in the dead executors' block managers and the lineage is
  truncated, so the query must FAIL (the documented trade: re-running
  the batch is safe under the stream's replay protocol);
- ``reliable_barriers=True`` (eager ``checkpoint`` to the session
  checkpoint dir): blocks re-read from checkpoint files, so the SAME
  mid-query loss must complete with admissions identical to an
  undisturbed run.

Workers respawn executors in seconds (standalone mode), which the probe
relies on for the post-kill work in both legs. Emits one JSON line:
{"local_failed": bool, "reliable_admitted": [...], "undisturbed": [...],
 "kills": N}. Invoked standalone or by
tests/test_corpus_pipeline.py::test_cluster_executor_loss_barrier_modes
in a subprocess (a second SparkContext can't share the pytest JVM).
"""
from __future__ import annotations

import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from executors import exec_pids, wait_executors  # noqa: E402


def _words(n: int, tag: str) -> str:
    return " ".join(f"{tag}{i}" for i in range(n))


def main() -> None:
    from pyspark.sql import SparkSession

    from data_engineering_projects_spark.pipelines import corpus as C

    spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .appName("cluster-loss-probe").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    def make_inputs():
        corpus_raw = spark.createDataFrame(
            [(1, _words(60, "alpha"), "web", "en"),
             (2, _words(70, "gamma"), "books", "en")],
            "doc_id long, text string, source string, lang string")
        new = spark.createDataFrame(
            [(11, _words(60, "alpha") + " plus extra trailing content "
              "words", "web", "en"),
             (13, _words(64, "delta") + " tail one", "web", "en"),
             (14, _words(64, "delta"), "web", "en"),
             (15, _words(66, "epsilon"), "books", "en")],
            "doc_id long, text string, source string, lang string")
        return corpus_raw, new

    wait_executors(app_id)
    corpus_raw, new = make_inputs()

    # undisturbed reference run (default barriers, no kills)
    undisturbed = sorted(
        r["doc_id"]
        for r in C.extend_corpus(corpus_raw, new).docs.collect())

    # arm the mid-query kill: wrap the pipeline's own barrier helper so
    # the FIRST materialized barrier of the next extend_corpus call is
    # immediately followed by the loss of every executor holding it
    real_barrier = C._barrier
    state = {"armed": False, "kills": 0}

    def killing_barrier(df, reliable):
        out = real_barrier(df, reliable)
        if state["armed"]:
            state["armed"] = False
            for pid in exec_pids(app_id):
                os.kill(pid, signal.SIGKILL)
                state["kills"] += 1
            time.sleep(1.0)
        return out

    C._barrier = killing_barrier

    # leg 1: default localCheckpoint barriers must FAIL the query
    state["armed"] = True
    local_failed = False
    try:
        C.extend_corpus(corpus_raw, new).docs.collect()
    except Exception:
        local_failed = True
    wait_executors(app_id)

    # leg 2: reliable barriers must complete with identical admissions
    spark.sparkContext.setCheckpointDir("/tmp/cluster_loss_probe_ckpt")
    state["armed"] = True
    reliable_admitted = sorted(
        r["doc_id"] for r in C.extend_corpus(
            corpus_raw, new, reliable_barriers=True).docs.collect())

    print(json.dumps({"local_failed": local_failed,
                      "reliable_admitted": reliable_admitted,
                      "undisturbed": undisturbed,
                      "kills": state["kills"]}))
    spark.stop()


if __name__ == "__main__":
    main()
