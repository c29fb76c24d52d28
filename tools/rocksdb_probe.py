#!/usr/bin/env python
"""A/B the Structured Streaming state-store provider: HDFS-backed
(default) vs RocksDB (r8 verdict #6).

Runs a subset of the contract streaming queries twice per provider
(warm + timed) at --base scale and prints one JSON line per
(provider, query) with wall seconds and sink row count, then a summary.
Row counts must agree across providers — the provider changes WHERE
state lives (JVM heap hashmap + snapshot files vs off-heap RocksDB
instances), never results.

Why this matters at 100 TB: the HDFS-backed provider keeps every
partition's entire state map on the executor HEAP between batches —
state volume is bounded by executor memory and large state churns GC.
RocksDB moves state off-heap with incremental changelog checkpointing,
which is the production choice once per-executor state exceeds a few
GB. The interplay with ``_with_state_partitions`` (state sized to the
rows the stream admits) is recorded here: the sizing rule bounds the
per-partition state either provider holds, so the two knobs compose —
partition count controls snapshot/maintenance fan-out, the provider
controls where each store's bytes live.

Usage: python tools/rocksdb_probe.py [--base /root/testdata/sf0.1]
Results are recorded in SCALING.md ("RocksDB state store" section).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROCKSDB = ("org.apache.spark.sql.execution.streaming.state."
           "RocksDBStateStoreProvider")
PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"

QUERIES = ["streaming_hourly_rollup", "streaming_session_rollup",
           "streaming_click_attribution"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--master", default="local[16]")
    args = ap.parse_args()

    from data_engineering_projects_spark import contract
    from data_engineering_projects_spark.session import get_session

    contract.load_all()
    spark = get_session("rocksdb_probe", master=args.master,
                        shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    default_provider = spark.conf.get(PROVIDER_KEY)
    results = []
    for provider, label in [(default_provider, "hdfs"), (ROCKSDB, "rocksdb")]:
        spark.conf.set(PROVIDER_KEY, provider)
        for name in QUERIES:
            # warm pass (JIT, file-stream source, provider init), then
            # timed pass; each _run_stream_to_memory call streams the
            # table's own files into a fresh checkpoint, so no state is
            # reused across passes or providers.
            contract.QUERIES[name](spark, args.base)
            t0 = time.perf_counter()
            df = contract.QUERIES[name](spark, args.base)
            rows = df.count()
            rec = {"provider": label, "query": name,
                   "sec": round(time.perf_counter() - t0, 2), "rows": rows}
            results.append(rec)
            print(json.dumps(rec), flush=True)
    summary = {}
    for name in QUERIES:
        by = {r["provider"]: r for r in results if r["query"] == name}
        agree = by["hdfs"]["rows"] == by["rocksdb"]["rows"]
        summary[name] = {
            "hdfs_sec": by["hdfs"]["sec"],
            "rocksdb_sec": by["rocksdb"]["sec"],
            # floor the denominator: a sub-10ms hdfs pass rounds to 0.0
            # and would ZeroDivisionError away the whole summary line
            "ratio": round(by["rocksdb"]["sec"] / max(by["hdfs"]["sec"], 0.01), 2),
            "rows_agree": agree}
    print(json.dumps({"summary": summary}))
    spark.stop()
    return 0 if all(s["rows_agree"] for s in summary.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
