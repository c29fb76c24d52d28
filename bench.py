#!/usr/bin/env python
"""Benchmark harness: runs every driver-facing contract query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints two JSON
lines.

The first is the full record {"metric", "value": total_sec, "unit",
"queries": {name: sec}, "spread": {name: [raw samples]}, "streaming":
[tagged names], "streaming_total", "batch_total",
"streaming_fixed_overhead", "reps_completed", "loadavg", "sf", ...}; it is
also written to BENCH_detail.json beside this script. The FINAL line is a
compact copy (headline totals plus the slowest per-query timings) of at
most 2000 bytes: the driver keeps only the last 2000 bytes of stdout, and
the ~4 KB full-registry line arrived left-truncated ("parsed": null in
BENCH_r02–r05).

Protocol:

- Three warm-ups (the flagship query for JVM/codegen JIT, a mapInPandas
  over every core for Python-worker start-up, and ``dedup_simhash`` for
  the text/hash expression paths) run before anything is timed.
- Up to $SPARK_GRAFT_BENCH_REPS (default 3) full passes over the
  registry; each query reports the median of its samples (best-of under
  three). Reps of one query land a pass apart, so a transient load spike
  inflates at most one of its samples. Streaming queries are sampled on
  the first pass only: their wall time is dominated by fixed
  micro-batch/sink start-stop cost, measured apart as
  "streaming_fixed_overhead" (a 1-row parquet table streamed as a no-op
  through the same file-stream/availableNow/memory-sink harness, best of
  two).
- The next pass starts only if seconds-since-process-start plus 1.5x the
  last pass fits $SPARK_GRAFT_BENCH_DEADLINE (default 545; the driver
  kills bench about 580 s after process start).
- ``SPARK_GRAFT_BENCH_ONLY=q1,q2`` times a subset, tagged
  ``metric: contract_suite_runtime_subset`` so it is never read as a
  suite total. Unknown names exit with status 2 before a session starts.

Timings are raw wall times, not load-corrected. The record keeps one
plain load witness, ``os.getloadavg()`` at the start of each pass. For a
speed A/B with per-layer job, stage and executor counters use
``perfbench/run.py``.

Each query is fully executed through the noop sink (computes every row,
writes nothing) so timings measure the real plan, not a count shortcut.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from data_engineering_projects_spark import contract
from data_engineering_projects_spark.contract import extensions
from data_engineering_projects_spark.session import (free_local_checkpoint,
                                                     get_session, scratch_dir)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Deadline projections measure from PROCESS start (import time ≈ exec
# start): the driver's ~580s timeout covers session spin-up and warmups
# too, not just the timed passes.
_PROC_T0 = time.perf_counter()

#: Bytes the compact line may use; headroom inside the 2000-byte capture.
COMPACT_BUDGET = 1600


def robust_stat(vals: list[float]) -> float:
    """Median at >=3 samples, else best-of (noise only ever inflates)."""
    vals = sorted(vals)
    if len(vals) >= 3:
        return vals[len(vals) // 2]
    return vals[0]


def parse_only(raw: str, registry: list[str]) -> list[str]:
    """The sorted names of a comma-separated SPARK_GRAFT_BENCH_ONLY value
    ([] when it names none). Names outside ``registry`` exit with
    status 2 and are listed on stderr."""
    only = sorted({s.strip() for s in raw.split(",") if s.strip()})
    unknown = [s for s in only if s not in registry]
    if unknown:
        print(f"SPARK_GRAFT_BENCH_ONLY names unknown queries: "
              f"{', '.join(unknown)}", file=sys.stderr)
        sys.exit(2)
    return only


def compact_line(full: dict) -> str:
    """The final stdout line: the headline keys of the full record plus
    as many per-query timings, slowest first, as fit COMPACT_BUDGET."""
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "sf": full["sf"],
        "n_queries": len(full["queries"]),
        "batch_total": full["batch_total"],
        "streaming_total": full["streaming_total"],
        "streaming_fixed_overhead": full["streaming_fixed_overhead"],
        "reps": full["reps_completed"],
        "queries": {},
    }
    for name, t in sorted(full["queries"].items(), key=lambda kv: -kv[1]):
        compact["queries"][name] = t
        if len(json.dumps(compact)) > COMPACT_BUDGET:
            del compact["queries"][name]
            break
    return json.dumps(compact)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    contract.load_all()
    registry = sorted(contract.QUERIES)
    only = parse_only(os.environ.get("SPARK_GRAFT_BENCH_ONLY", ""), registry)
    names = only or registry
    reps_target = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    deadline = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "545"))

    spark = get_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm the JVM/codegen once on the flagship so per-query numbers are
    # not dominated by first-run JIT.
    noop(contract.QUERIES["aws_tti_top10"](spark, SF_DIR))
    # warm the python workers (fork + pandas import per core) so the first
    # pandas-UDF query isn't charged the one-time startup tax.
    cores = spark.sparkContext.defaultParallelism
    noop(spark.range(cores).repartition(cores)
         .mapInPandas(lambda it: it, "id long"))
    # warm the text/hash expression paths (regex tokenize, md5, HOFs) —
    # their first execution pays several seconds of JVM JIT that would
    # otherwise be charged to whichever dedup query runs first.
    noop(extensions.dedup_simhash(spark, SF_DIR))

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        df = contract.QUERIES[name](spark, SF_DIR)
        noop(df)
        dt = time.perf_counter() - t0
        # some queries RETURN a localCheckpoint'd frame, and the
        # iterative ones hold loop-invariant checkpoints (edge lists,
        # base relations) as plan leaves; once timed and discarded their
        # blocks would otherwise linger in the block manager until JVM
        # GC and show up as a slowly rising floor across reps (the r9
        # COVERAGE note) — free them eagerly. deep is safe here because
        # the whole result tree is dead between reps.
        free_local_checkpoint(df, deep=True)
        return dt

    samples: dict[str, list[float]] = {n: [] for n in names}
    loadavg: list[list[float]] = []
    for rep in range(reps_target):
        loadavg.append([round(x, 2) for x in os.getloadavg()])
        pass_t0 = time.perf_counter()
        for name in names:
            if rep > 0 and name.startswith("streaming_"):
                continue  # fixed-overhead dominated: first-pass sample only
            samples[name].append(run_once(name))
        last_pass = time.perf_counter() - pass_t0
        elapsed = time.perf_counter() - _PROC_T0
        if elapsed + 1.5 * last_pass > deadline:
            break  # projected next-pass finish busts the driver timeout

    timings = {n: round(robust_stat(samples[n]), 3) for n in names}
    total = round(sum(timings.values()), 3)
    # Fixed streaming overhead, measured explicitly (r6 verdict #3): a
    # 1-row parquet table streamed as a no-op through the SAME
    # table_and_stream -> availableNow -> memory-sink harness the contract
    # streaming queries use. Its time is pure session/sink start-stop
    # cost — none of it is data-proportional — so streaming_total
    # decomposes as ~n_streams x streaming_fixed_overhead + data work.
    from data_engineering_projects_spark.contract.sessions import (
        _run_stream_to_memory)
    from data_engineering_projects_spark.sources import table_and_stream

    one_dir = scratch_dir("depa_bench_noop_")
    spark.range(1).selectExpr("CAST(id AS LONG) AS id") \
        .write.parquet(f"{one_dir}/one.parquet")

    def noop_stream_once() -> float:
        t0 = time.perf_counter()
        _, one = table_and_stream(spark, one_dir, "one")
        _run_stream_to_memory(spark, one, 1, "noopfixed", lambda s: s)
        return time.perf_counter() - t0

    try:
        streaming_fixed = round(min(noop_stream_once(), noop_stream_once()), 3)
    finally:
        shutil.rmtree(one_dir, ignore_errors=True)
    streaming = [n for n in names if n.startswith("streaming_")]
    streaming_total = round(sum(timings[n] for n in streaming), 3)
    full = {
        "metric": ("contract_suite_runtime_subset" if only
                   else "contract_suite_runtime"),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "subset": only or None,
        "spread": {n: [round(v, 3) for v in vs]
                   for n, vs in samples.items()},
        "reps_completed": len(loadavg),
        "loadavg": loadavg,
        "streaming": streaming,
        "streaming_total": streaming_total,
        "streaming_fixed_overhead": streaming_fixed,
        "batch_total": round(total - streaming_total, 3),
        "sf": _sf_from_dir(SF_DIR),
    }
    print(json.dumps(full))
    with open(os.path.join(HERE, "BENCH_detail.json"), "w") as f:
        json.dump(full, f)
    print(compact_line(full))
    spark.stop()


if __name__ == "__main__":
    main()
