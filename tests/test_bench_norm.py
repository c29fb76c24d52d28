"""Unit coverage for bench.py's pure parts: the per-query statistic, the
SPARK_GRAFT_BENCH_ONLY check, and the compact final line the driver
parses. No Spark session."""

from __future__ import annotations

import json

import pytest

import bench
from bench import compact_line, parse_only, robust_stat
from data_engineering_projects_spark import contract


def test_robust_stat_median_and_best_of():
    assert robust_stat([3.0, 1.0, 2.0]) == 2.0          # median at >=3
    assert robust_stat([5.0, 1.0, 2.0, 4.0, 3.0]) == 3.0
    assert robust_stat([2.0, 1.5]) == 1.5               # best-of at 2
    assert robust_stat([7.0]) == 7.0


def test_parse_only_returns_sorted_subset_or_empty():
    registry = ["a_q", "b_q", "c_q"]
    assert parse_only("", registry) == []
    assert parse_only(" , ", registry) == []
    assert parse_only("c_q, a_q,c_q", registry) == ["a_q", "c_q"]


def test_bench_rejects_unknown_names_before_a_session(monkeypatch, capsys):
    def no_session(*_args, **_kwargs):
        raise AssertionError("session started before the subset check")

    monkeypatch.setattr(bench, "get_session", no_session)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY",
                       "not_a_query_2,aws_tti_top10,not_a_query_1")
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code == 2
    assert "not_a_query_1, not_a_query_2" in capsys.readouterr().err


def test_compact_line_fits_capture_and_keeps_slowest_first():
    contract.load_all()
    names = sorted(contract.QUERIES, key=lambda n: (-len(n), n))[:129]
    assert len(names) == 129
    # distinct timings in an order unrelated to the names' order
    timings = {n: round(0.123 + ((i * 37) % 129) * 0.0417, 3)
               for i, n in enumerate(names)}
    streaming = [n for n in names if n.startswith("streaming_")]
    streaming_total = round(sum(timings[n] for n in streaming), 3)
    total = round(sum(timings.values()), 3)
    full = {"metric": "contract_suite_runtime", "value": total,
            "unit": "sec", "sf": 0.1, "queries": timings,
            "batch_total": round(total - streaming_total, 3),
            "streaming_total": streaming_total,
            "streaming_fixed_overhead": 0.506, "reps_completed": 3}

    line = compact_line(full)

    assert len(line.encode()) <= 2000
    got = json.loads(line)
    assert {"metric", "value", "unit", "sf", "n_queries", "batch_total",
            "streaming_total", "streaming_fixed_overhead", "reps",
            "queries"} <= set(got)
    assert got["n_queries"] == 129 and got["reps"] == 3
    kept = list(got["queries"])
    slowest = sorted(timings, key=lambda n: -timings[n])
    assert 0 < len(kept) < 129
    assert kept == slowest[:len(kept)]
    assert all(got["queries"][n] == timings[n] for n in kept)
