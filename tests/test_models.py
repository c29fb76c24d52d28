"""ModelGraph (dbt-analog) tests: topo order, selection closure,
materialization, quality gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_projects_spark.plans.models import ModelGraph, Materialization
from data_engineering_projects_spark import quality as Q


def _graph(spark, tmp_path=None):
    g = ModelGraph(vars={"min_v": 2}, warehouse_dir=str(tmp_path) if tmp_path else None)
    g.add_source("src", lambda s, v: s.range(10).withColumnRenamed("id", "v"))

    @g.model(deps=["src"])
    def filtered(s, v, src):
        return src.filter(F.col("v") >= v["min_v"])

    @g.model(deps=["filtered"], materialization=Materialization.TABLE)
    def summed(s, v, filtered):
        return filtered.agg(F.sum("v").alias("total"))

    return g


def test_topo_and_run(spark, tmp_path):
    g = _graph(spark, tmp_path)
    order = g.topo_order()
    assert order.index("src") < order.index("filtered") < order.index("summed")
    built = g.run(spark)
    assert built["summed"].collect()[0]["total"] == sum(range(2, 10))
    # table materialization wrote parquet and re-read it
    assert (tmp_path / "summed").exists()
    # temp views registered (dbt ref() via spark.table works)
    assert spark.table("filtered").count() == 8


def test_select_closure(spark):
    g = _graph(spark)
    built = g.run(spark, select=["filtered"])
    assert set(built) == {"src", "filtered"}


def test_check_gate_blocks_downstream(spark):
    g = ModelGraph()
    g.add_source("src", lambda s, v: s.createDataFrame(
        [(1, None)], "id long, name string"))
    ran = []

    @g.model(deps=["src"], checks=[Q.not_null("name")])
    def staged(s, v, src):
        return src

    @g.model(deps=["staged"])
    def downstream(s, v, staged):
        ran.append(True)
        return staged

    with pytest.raises(Q.QualityError):
        g.run(spark)
    assert not ran  # fail-fast: downstream never built (5_dbt/READ.md:71)


def test_incremental_materialization(spark, tmp_path):
    """dbt 'incremental' analog: second run appends only rows whose
    unique key is new; existing rows survive unchanged."""
    from data_engineering_projects_spark.plans.models import ModelGraph

    batches = [[(1, "a"), (2, "b")], [(2, "b2"), (3, "c")]]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", unique_key=["id"])
    def inc_events(spark, vars):
        return spark.createDataFrame(batches[state["i"]], "id long, v string")

    out1 = g.run(spark)["inc_events"]
    assert sorted((r["id"], r["v"]) for r in out1.collect()) == [(1, "a"), (2, "b")]

    state["i"] = 1
    out2 = g.run(spark)["inc_events"]
    # id=2 already exists -> its new version is NOT applied (append-new-only);
    # id=3 is new -> appended
    assert sorted((r["id"], r["v"]) for r in out2.collect()) == \
        [(1, "a"), (2, "b"), (3, "c")]


def test_incremental_merge_upserts(spark, tmp_path):
    """merge strategy: a changed row is UPDATED (not duplicated, not
    ignored); new keys insert; untouched keys survive."""
    batches = [[(1, "a"), (2, "b")], [(2, "b2"), (3, "c")]]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", unique_key=["id"],
             incremental_strategy="merge")
    def merged_events(spark, vars):
        return spark.createDataFrame(batches[state["i"]], "id long, v string")

    g.run(spark)
    state["i"] = 1
    out = g.run(spark)["merged_events"]
    assert sorted((r["id"], r["v"]) for r in out.collect()) == \
        [(1, "a"), (2, "b2"), (3, "c")]


def test_incremental_merge_partition_pruned(spark, tmp_path):
    """merge with partition_by ⊆ unique_key takes the partition-pruned
    path: upsert semantics hold AND the files of partitions absent from
    the batch are byte-identical untouched (same names, sizes, mtimes) —
    the O(batch partitions) write-amplification contract."""
    import os

    batches = [
        [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 3, "c")],
        [("d2", 3, "c2"), ("d2", 4, "d")],  # touches d2 only
    ]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", unique_key=["day", "id"],
             partition_by=["day"], incremental_strategy="merge")
    def pm_events(spark, vars):
        return spark.createDataFrame(
            batches[state["i"]], "day string, id long, v string")

    g.run(spark)
    d1 = str(tmp_path / "pm_events" / "day=d1")
    before = {f: (os.path.getsize(os.path.join(d1, f)),
                  os.path.getmtime(os.path.join(d1, f)))
              for f in os.listdir(d1)}
    state["i"] = 1
    out = g.run(spark)["pm_events"]
    # upsert semantics: (d2,3) updated, (d2,4) inserted, d1 rows survive
    assert sorted((r["day"], r["id"], r["v"]) for r in out.collect()) == \
        [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 3, "c2"), ("d2", 4, "d")]
    after = {f: (os.path.getsize(os.path.join(d1, f)),
                 os.path.getmtime(os.path.join(d1, f)))
             for f in os.listdir(d1)}
    assert before == after  # untouched partition never rewritten


def test_incremental_merge_partition_cap_join_fallback(spark, tmp_path,
                                                       monkeypatch):
    """Past $SPARK_GRAFT_MAX_TOUCHED_PARTITIONS distinct partition tuples
    the pruned merge must switch to the broadcast-semi-join prune (no
    driver-side partition list) and still produce identical upsert
    results: untouched partitions byte-identical, touched partitions
    upserted. Cap forced to 3 with a 6-partition batch to exercise the
    fallback deterministically."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_MAX_TOUCHED_PARTITIONS", "3")
    days = [f"d{i}" for i in range(8)]
    batches = [
        [(d, i, "a") for i, d in enumerate(days)],          # seed all 8
        [(d, i, "b") for i, d in enumerate(days) if i >= 2]  # touch 6 > cap
        + [("d2", 99, "new")],
    ]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", unique_key=["day", "id"],
             partition_by=["day"], incremental_strategy="merge")
    def cap_events(spark, vars):
        return spark.createDataFrame(
            batches[state["i"]], "day string, id long, v string")

    g.run(spark)
    d0 = str(tmp_path / "cap_events" / "day=d0")
    before = {f: (os.path.getsize(os.path.join(d0, f)),
                  os.path.getmtime(os.path.join(d0, f)))
              for f in os.listdir(d0)}
    state["i"] = 1
    out = g.run(spark)["cap_events"]
    expect = sorted(
        [("d0", 0, "a"), ("d1", 1, "a")]
        + [(d, i, "b") for i, d in enumerate(days) if i >= 2]
        + [("d2", 99, "new")])
    assert sorted((r["day"], r["id"], r["v"]) for r in out.collect()) == \
        expect
    after = {f: (os.path.getsize(os.path.join(d0, f)),
                 os.path.getmtime(os.path.join(d0, f)))
             for f in os.listdir(d0)}
    assert before == after  # untouched partition never rewritten


def test_incremental_merge_partition_outside_key_full_rewrite(spark, tmp_path):
    """merge with a partition column NOT in unique_key cannot assume keys
    are partition-stable — it must fall back to the global-snapshot merge
    and still produce correct upserts (a key moving between partitions)."""
    batches = [
        [("d1", 1, "a"), ("d2", 2, "b")],
        [("d3", 1, "a_moved")],  # key 1 moves from partition d1 to d3
    ]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", unique_key=["id"],
             partition_by=["day"], incremental_strategy="merge")
    def mv_events(spark, vars):
        return spark.createDataFrame(
            batches[state["i"]], "day string, id long, v string")

    g.run(spark)
    state["i"] = 1
    out = g.run(spark)["mv_events"]
    assert sorted((r["day"], r["id"], r["v"]) for r in out.collect()) == \
        [("d2", 2, "b"), ("d3", 1, "a_moved")]


def test_incremental_insert_overwrite_by_partition(spark, tmp_path):
    """insert_overwrite: partitions present in the batch are replaced
    wholesale; absent partitions are untouched."""
    batches = [
        [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 3, "c")],
        [("d2", 9, "z")],  # rewrites d2 only; d1 must survive
    ]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", partition_by=["day"],
             incremental_strategy="insert_overwrite")
    def part_events(spark, vars):
        return spark.createDataFrame(
            batches[state["i"]], "day string, id long, v string")

    g.run(spark)
    state["i"] = 1
    out = g.run(spark)["part_events"]
    assert sorted((r["day"], r["id"], r["v"]) for r in out.collect()) == \
        [("d1", 1, "a"), ("d1", 2, "b"), ("d2", 9, "z")]


def test_incremental_strategy_validation(spark, tmp_path):
    g = ModelGraph(warehouse_dir=str(tmp_path))
    with pytest.raises(ValueError):
        @g.model(materialization="incremental", incremental_strategy="bogus")
        def nope(spark, vars):
            pass


def test_sql_model_literal_braces(spark):
    """Model SQL containing literal braces (regex quantifiers, struct
    syntax) must survive var interpolation."""
    g = ModelGraph(vars={"min_v": 2})
    g.add_source("src", lambda s, v: s.range(10).withColumnRenamed("id", "v"))
    g.sql_model(
        "braced",
        r"""SELECT v, named_struct('a', v) AS st,
                   regexp_extract(CAST(v AS STRING), '([0-9]{1,2})', 1) AS d
            FROM src WHERE v >= {min_v}""",
        deps=["src"])
    out = g.run(spark)["braced"]
    rows = out.collect()
    assert len(rows) == 8 and rows[0]["st"] is not None


def test_incremental_merge_frees_checkpoint_blocks(spark, tmp_path):
    """The pruned-merge path localCheckpoints the merged relation before
    the in-place overwrite; Dataset.unpersist() is a no-op for those
    blocks (cache-manager only), so the cleanup must go through
    session.free_local_checkpoint — a daily incremental job on a shared
    session must not leak one merged partition's blocks per run."""
    def stored(s):
        return len(s.sparkContext._jsc.sc().getRDDStorageInfo())

    batches = [
        [("d1", 1, "a"), ("d2", 2, "b")],
        [("d2", 2, "b2"), ("d2", 3, "c")],
    ]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", unique_key=["day", "id"],
             partition_by=["day"], incremental_strategy="merge")
    def fr_events(spark, vars):
        return spark.createDataFrame(
            batches[state["i"]], "day string, id long, v string")

    g.run(spark)
    base = stored(spark)
    state["i"] = 1
    g.run(spark)  # merge path: checkpoint created and freed within
    assert stored(spark) <= base


def test_snapshot_merge_swap_never_loses_table(spark, tmp_path):
    """The unpartitioned (full-snapshot) merge swaps via a retained
    backup: rename old -> bak, rename tmp -> path, drop bak — so no
    crash point leaves NEITHER a live table nor a backup (the previous
    rmtree-then-rename order had exactly that window). Also proves a
    stale backup from a simulated earlier crash is cleaned up, not
    tripped over."""
    import os

    batches = [
        [(1, "a"), (2, "b")],
        [(2, "b2"), (3, "c")],
    ]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", unique_key=["id"],
             incremental_strategy="merge")  # no partition_by: snapshot path
    def snap_events(spark, vars):
        return spark.createDataFrame(batches[state["i"]], "id long, v string")

    g.run(spark)
    # simulate a crash that left a backup behind
    path = str(tmp_path / "snap_events")
    os.makedirs(path + "__merge_bak/garbage")
    state["i"] = 1
    out = g.run(spark)["snap_events"]
    assert sorted((r["id"], r["v"]) for r in out.collect()) == \
        [(1, "a"), (2, "b2"), (3, "c")]
    assert not os.path.exists(path + "__merge_bak")  # swap completed
    assert not os.path.exists(path + "__merge_tmp")


def test_interrupted_swap_recovers_old_table(spark, tmp_path):
    """A crash BETWEEN the swap's two renames leaves `path` absent with
    the old table only in `__merge_bak`. The next run must restore
    bak -> path before the incremental-vs-initial branch — otherwise it
    would silently reinitialize from the current batch alone and the
    following merge's leftover-cleanup would delete the only copy of
    the old data (round-9 ADVICE, plans/models.py)."""
    import os
    import shutil

    batches = [
        [(1, "a"), (2, "b")],
        [(2, "b2"), (3, "c")],
    ]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", unique_key=["id"],
             incremental_strategy="merge")
    def crash_events(spark, vars):
        return spark.createDataFrame(batches[state["i"]], "id long, v string")

    g.run(spark)
    # simulate the crash: rename(path, bak) happened, rename(tmp, path)
    # did not — path is gone, bak holds the only copy of batch 0
    path = str(tmp_path / "crash_events")
    os.rename(path, path + "__merge_bak")
    shutil.rmtree(path + "__merge_tmp", ignore_errors=True)
    assert not os.path.exists(path)
    state["i"] = 1
    out = g.run(spark)["crash_events"]
    # row (1, "a") exists ONLY in the recovered backup: its presence
    # proves the old table was restored and merged, not reinitialized
    assert sorted((r["id"], r["v"]) for r in out.collect()) == \
        [(1, "a"), (2, "b2"), (3, "c")]
    assert not os.path.exists(path + "__merge_bak")
    assert not os.path.exists(path + "__merge_tmp")


def test_interrupted_swap_recovery_on_initial_branch(spark, tmp_path):
    """Same crash window, but the recovery must fire even when the next
    run would take the initial-write branch: a bak with no path is
    restored (and then merged), never rmtree'd as leftover."""
    import os

    g = ModelGraph(warehouse_dir=str(tmp_path))
    feed = {"rows": [(1, "a")]}

    @g.model(materialization="incremental", unique_key=["id"],
             incremental_strategy="merge")
    def init_events(spark, vars):
        return spark.createDataFrame(feed["rows"], "id long, v string")

    g.run(spark)
    path = str(tmp_path / "init_events")
    os.rename(path, path + "__merge_bak")
    feed["rows"] = [(2, "b")]
    out = g.run(spark)["init_events"]
    assert sorted((r["id"], r["v"]) for r in out.collect()) == \
        [(1, "a"), (2, "b")]
    assert not os.path.exists(path + "__merge_bak")


def test_merge_replay_is_idempotent(spark, tmp_path):
    """foreachBatch exactly-once rests on the merge being idempotent
    under batch REPLAY (a crash after commit-to-sink but before
    checkpoint advance re-delivers the same batch): running the same
    batch through the merge twice must leave the table identical."""
    batch2 = [("p1", 2, "b2"), ("p2", 3, "c")]
    feed = {"rows": [("p1", 1, "a"), ("p1", 2, "b")]}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", unique_key=["part", "id"],
             partition_by=["part"], incremental_strategy="merge")
    def rp_events(spark, vars):
        return spark.createDataFrame(feed["rows"],
                                     "part string, id long, v string")

    g.run(spark)
    feed["rows"] = batch2
    g.run(spark)
    once = sorted(tuple(r) for r in
                  spark.read.parquet(str(tmp_path / "rp_events"))
                  .select("part", "id", "v").collect())
    g.run(spark)  # replay the SAME batch
    twice = sorted(tuple(r) for r in
                   spark.read.parquet(str(tmp_path / "rp_events"))
                   .select("part", "id", "v").collect())
    assert once == twice == [("p1", 1, "a"), ("p1", 2, "b2"), ("p2", 3, "c")]


def test_dynamic_overwrite_is_per_write_not_session_conf(spark, tmp_path,
                                                         monkeypatch):
    """insert_overwrite and the partition-pruned merge ask for dynamic
    partition overwrite on their own writer: the session's
    partitionOverwriteMode is never written, so a concurrent caller on the
    same session never runs under a flipped overwrite mode."""
    key = "spark.sql.sources.partitionOverwriteMode"
    conf_type = type(spark.conf)
    real_set = conf_type.set
    written = []

    def spy(self, k, v):
        written.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(conf_type, "set", spy)
    session_mode = spark.conf.get(key)
    batches = [[("d1", 1, "a"), ("d2", 2, "b")], [("d2", 2, "b2")]]
    state = {"i": 0}
    g = ModelGraph(warehouse_dir=str(tmp_path))

    @g.model(materialization="incremental", partition_by=["day"],
             incremental_strategy="insert_overwrite")
    def io_events(spark, vars):
        return spark.createDataFrame(
            batches[state["i"]], "day string, id long, v string")

    @g.model(materialization="incremental", unique_key=["day", "id"],
             partition_by=["day"], incremental_strategy="merge")
    def pm_events(spark, vars):
        return spark.createDataFrame(
            batches[state["i"]], "day string, id long, v string")

    g.run(spark)
    state["i"] = 1
    out = g.run(spark)
    for name in ("io_events", "pm_events"):
        assert sorted((r["day"], r["id"], r["v"])
                      for r in out[name].collect()) == \
            [("d1", 1, "a"), ("d2", 2, "b2")]
    assert key not in written
    assert spark.conf.get(key) == session_mode
