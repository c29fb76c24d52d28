"""Differential tests: every registered contract query vs its DuckDB oracle
(the driver's t2 gate, run locally)."""

from __future__ import annotations

import pytest

from data_engineering_projects_spark import contract

contract.load_all()

NAMES = sorted(contract.QUERIES)


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    from .oracle import compare
    fn = contract.QUERIES[name]
    df = fn(spark, sf_dir)
    if name in contract.ORACLES:
        compare(df, contract.ORACLES[name], sf_dir)
    else:
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0


def test_oracles_subset_of_queries():
    assert set(contract.ORACLES) <= set(contract.QUERIES)


def test_registry_swap_invariants():
    """The registry is frozen at a PINNED size (growth is a deliberate act
    that bumps the pin here): ``contract.QUERIES``, the driver's
    ``queries()`` and ``oracle_sql()`` hold the same 129 names, and every
    swapped-in query has an oracle."""
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    assert len(contract.QUERIES) == 129
    assert set(qs) == set(osql) == set(contract.QUERIES)
    for name in ("embed_pq_adc_topk", "orders_scd2_current",
                 "docs_pii_scrub", "corpus_extend_admissions"):
        assert name in qs and name in osql


def test_simhash_stage_matches_oracle(spark, sf_dir):
    """``dedup_simhash`` is not registered, but ``dedup_simhash_pairs``
    consumes it as its first stage: pin the per-doc signatures on their
    own so a wrong stage is told apart from a wrong banding."""
    from data_engineering_projects_spark.contract.extensions import (
        _simhash_sql, dedup_simhash)
    from .oracle import compare
    compare(dedup_simhash(spark, sf_dir), _simhash_sql(), sf_dir)


def test_staleness_order_rotates_correctly():
    """The dynamic rotation must (1) front any query whose latest driver
    row is not fully green or that has no row, (2, round 16) keep the
    whole oldest-round cohort next (the 2-round staleness bound),
    changed-code queries first within it, (3) then front green queries
    whose implementing module changed since their row (a green row only
    certifies the tree the driver ran on), oldest-row-first, then the
    rest by age, and (4) fall back to the static list when no
    correctness files exist — so the ~50-query driver budget always
    lands on the rows that need refreshing."""
    import glob
    import json
    import os

    import __spark_entry__ as e

    order = e._staleness_order(list(contract.QUERIES))
    assert order is not None and len(order) == len(contract.QUERIES)

    import re

    here = os.path.dirname(os.path.abspath(e.__file__))
    latest = {}
    files = []
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            files.append((int(m.group(1)), p))
    for rnd, p in sorted(files):
        for name, v in json.load(open(p)).items():
            green = bool(v.get("rows_match") and v.get("schema_match")
                         and v.get("hash_match") and not v.get("err"))
            latest[name] = (rnd, green)
    # mirror the implementation's full key so the assertion stays valid
    # when reds span multiple rounds or never-checked queries coexist
    changed = e._changed_since(latest, list(contract.QUERIES))
    oldest = min((rnd for rnd, green in
                  (latest.get(n, (0, False))
                   for n in contract.QUERIES) if green), default=0)

    def key(name):
        rnd, green = latest.get(name, (0, False))
        if not green:
            return (0, rnd, 0, name)
        if rnd == oldest:
            return (1, rnd, 0 if name in changed else 1, name)
        if name in changed:
            return (2, rnd, 0, name)
        return (3, rnd, 0, name)
    assert order == sorted(contract.QUERIES, key=key)
    reds = {q for q in contract.QUERIES
            if not latest.get(q, (0, False))[1]}
    # every non-green / never-checked query sorts before every green one
    assert set(order[:len(reds)]) == reds
    # the 2-round staleness bound survives the change-coupling: every
    # oldest-round row sorts before any newer-round row
    greens = [q for q in order if latest.get(q, (0, False))[1]]
    n_oldest = sum(1 for q in greens if latest[q][0] == oldest)
    assert all(latest[q][0] == oldest
               for q in greens[:n_oldest])


def test_staleness_order_falls_back_without_correctness_files(monkeypatch):
    """No CORRECTNESS files (first round / foreign checkout) -> None, and
    `_ordered` then applies the static _FRONT_R6 list."""
    import glob

    import __spark_entry__ as e

    monkeypatch.setattr(glob, "glob", lambda *a, **k: [])
    assert e._staleness_order(list(contract.QUERIES)) is None
    d = {k: k for k in contract.QUERIES}
    assert list(e._ordered(d))[:3] == [n for n in e._FRONT_R6 if n in d][:3]


def test_front_list_names_are_real_and_unique():
    """The driver checks ~50 queries per round in `queries()` order, and
    the front list is how stale driver rows get refreshed. `_ordered`
    silently skips unknown names, so a typo would quietly drop a query
    from its rotation slot — pin that every front entry resolves and none
    repeats (a repeat would waste a driver-check slot)."""
    import __spark_entry__ as e
    front = e._FRONT_R6
    assert len(front) == len(set(front)), "duplicate front entries"
    unknown = [n for n in front if n not in contract.QUERIES]
    assert not unknown, f"front entries not in registry: {unknown}"
