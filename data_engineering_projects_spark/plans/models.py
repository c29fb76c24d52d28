"""Model registry + topologically-ordered runner — the dbt analog
(SURVEY.md §3 entry point 3, §7.3).

Mapping from dbt concepts (5_dbt/READ.md):
- model          = a Python function ``(spark, **deps) -> DataFrame``
- ``ref()``      = declared dependency edges; the DAG is explicit and
                   topologically executed (5_dbt/READ.md:74-99)
- ``var()``      = the graph's config dict (5_dbt/READ.md:118-121)
- materialized=view  -> the DataFrame stays lazy and is passed downstream
  unmaterialized, so Catalyst fuses across model boundaries exactly like
  dbt staging views compile into consumers (5_dbt/READ.md:127-128)
- materialized=table -> checkpoint to parquet and re-read, cutting plan
  depth and enabling reuse across downstream models without recompute
  (5_dbt/READ.md:123-133)
- tests run attached to a model, gating downstream models fail-fast, like
  ``run_data_quality_checks`` preceding ``transform_data_with_dbt`` in the
  reference DAG (5_dbt/READ.md:53-71)

Catalyst supplies compile→analyze→optimize→execute; this layer only
supplies naming, ordering, materialization, and gates.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from enum import Enum
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..quality import Check, CheckResult, run_checks
from ..session import free_local_checkpoint


class Materialization(str, Enum):
    VIEW = "view"
    TABLE = "table"
    INCREMENTAL = "incremental"


#: dbt's three incremental strategies (5_dbt/READ.md:123-133 materializes
#: daily tables; the reference re-runs full-refresh, but an INCREMENTAL
#: advertisement must honor all three):
#: - append: insert rows whose unique_key is unseen; never touch old rows
#: - merge: upsert — replace rows whose unique_key exists, insert the rest
#: - insert_overwrite: replace exactly the partitions present in this run
INCREMENTAL_STRATEGIES = ("append", "merge", "insert_overwrite")


def interpolate_vars(sql: str, v: dict) -> str:
    """Replace only known ``{var}`` placeholders, leaving every other brace
    untouched — ``str.format`` would raise on literal braces in model SQL
    (struct/map literals, regex quantifiers like ``{2,3}``)."""
    for k, val in v.items():
        sql = sql.replace("{" + k + "}", str(val))
    return sql


@dataclass
class Model:
    name: str
    fn: Callable[..., DataFrame]
    deps: tuple[str, ...] = ()
    materialization: Materialization = Materialization.VIEW
    checks: list[Check] = field(default_factory=list)
    partition_by: tuple[str, ...] = ()
    unique_key: tuple[str, ...] = ()
    incremental_strategy: str = "append"


class ModelGraph:
    """A registry of models forming a DAG, executed in topological order.

    >>> g = ModelGraph(vars={"start_date": "2024-01-01"})
    >>> @g.model()
    ... def stg_speed(spark, vars):
    ...     return ...
    >>> @g.model(deps=["stg_speed"], materialization="table")
    ... def hourly(spark, vars, stg_speed):
    ...     return stg_speed.groupBy(...).agg(...)
    >>> results = g.run(spark)
    """

    def __init__(self, vars: dict | None = None, warehouse_dir: str | None = None):
        self.vars = dict(vars or {})
        self.warehouse_dir = warehouse_dir
        self._models: dict[str, Model] = {}
        self.check_results: dict[str, list[CheckResult]] = {}

    def model(self, name: str | None = None, deps: list[str] | None = None,
              materialization: str | Materialization = Materialization.VIEW,
              checks: list[Check] | None = None,
              partition_by: list[str] | None = None,
              unique_key: list[str] | None = None,
              incremental_strategy: str = "append"):
        if incremental_strategy not in INCREMENTAL_STRATEGIES:
            raise ValueError(f"incremental_strategy must be one of "
                             f"{INCREMENTAL_STRATEGIES}, got {incremental_strategy!r}")

        def deco(fn):
            n = name or fn.__name__
            self._models[n] = Model(
                n, fn, tuple(deps or ()), Materialization(materialization),
                list(checks or ()), tuple(partition_by or ()),
                tuple(unique_key or ()), incremental_strategy)
            return fn
        return deco

    def add_source(self, name: str, fn: Callable[[SparkSession, dict], DataFrame]):
        """dbt ``source()`` analog: a leaf model wrapping a raw scan."""
        self._models[name] = Model(name, fn, ())

    def sql_model(self, name: str, sql: str, deps: list[str],
                  materialization: str | Materialization = Materialization.VIEW,
                  checks: list[Check] | None = None) -> None:
        """A model defined as a SQL string (the dbt-model / PostgresOperator
        SQL-file analog, 5_dbt/READ.md:47-51, :63-67). Dependencies are
        referenced by name — they are registered as temp views when they
        materialize — and ``{var}`` placeholders interpolate from the
        graph's vars (the ``{{ var() }}`` analog, 5_dbt/READ.md:118-121).
        Interpolation replaces only *known* var keys, so literal braces in
        the SQL (struct literals, regex quantifiers) pass through."""
        def fn(spark: SparkSession, v: dict, **_deps) -> DataFrame:
            return spark.sql(interpolate_vars(sql, v))
        self._models[name] = Model(name, fn, tuple(deps),
                                   Materialization(materialization),
                                   list(checks or ()))

    def sql_file_model(self, name: str, path: str, deps: list[str],
                       **kwargs) -> None:
        """S12: run a SQL script from a file (PostgresOperator
        ``sql='sql/generate_insights.sql'`` analog)."""
        with open(path) as f:
            self.sql_model(name, f.read(), deps, **kwargs)

    def topo_order(self) -> list[str]:
        ts = TopologicalSorter({n: m.deps for n, m in self._models.items()})
        return list(ts.static_order())

    def run(self, spark: SparkSession,
            select: list[str] | None = None) -> dict[str, DataFrame]:
        """Execute the DAG (optionally only ``select`` models + ancestors).
        Returns the materialized DataFrame per model. ERROR-severity check
        failures raise before any downstream model runs."""
        wanted = set(self._models) if select is None else self._closure(select)
        built: dict[str, DataFrame] = {}
        for name in self.topo_order():
            if name not in wanted:
                continue
            m = self._models[name]
            kwargs = {d: built[d] for d in m.deps}
            df = m.fn(spark, self.vars, **kwargs)
            if m.checks:
                self.check_results[name] = run_checks(df, m.checks)
            built[name] = self._materialize(spark, m, df)
        return built

    def _closure(self, select: list[str]) -> set[str]:
        out: set[str] = set()
        stack = list(select)
        while stack:
            n = stack.pop()
            if n in out:
                continue
            out.add(n)
            stack.extend(self._models[n].deps)
        return out

    def _materialize(self, spark: SparkSession, m: Model, df: DataFrame) -> DataFrame:
        if m.materialization is Materialization.VIEW or not self.warehouse_dir:
            df.createOrReplaceTempView(m.name)
            return df
        path = os.path.join(self.warehouse_dir, m.name)
        self._recover_interrupted_swap(path)
        if m.materialization is Materialization.INCREMENTAL and os.path.exists(path):
            self._incremental(spark, m, df, path)
        else:
            writer = df.write.mode("overwrite")
            if m.partition_by:
                writer = writer.partitionBy(*m.partition_by)
            writer.parquet(path)
        out = spark.read.parquet(path)
        out.createOrReplaceTempView(m.name)
        return out

    @staticmethod
    def _recover_interrupted_swap(path: str) -> None:
        """Complete a merge swap interrupted between its two renames.

        The snapshot-merge swap is ``rename(path, bak); rename(tmp,
        path); rmtree(bak)``. A crash between the renames leaves
        ``path`` absent with the old table only in ``bak``; without
        this step the next run would see ``os.path.exists(path) ==
        False``, silently reinitialize the table from the current
        batch alone, and its later leftover-cleanup would rmtree the
        only surviving copy. Restoring ``bak -> path`` first makes
        every crash point recoverable: ``bak`` is only ever treated
        as a deletable leftover when ``path`` exists."""
        bak = path + "__merge_bak"
        if os.path.exists(bak) and not os.path.exists(path):
            os.rename(bak, path)

    def _incremental(self, spark: SparkSession, m: Model, df: DataFrame,
                     path: str) -> None:
        """The three dbt incremental strategies over a parquet warehouse.
        On a Delta/Iceberg lake, ``merge`` is MERGE INTO and
        ``insert_overwrite`` is the native dynamic-partition overwrite;
        these are the plain-parquet renderings of the same semantics."""
        strategy = m.incremental_strategy
        if strategy == "append":
            # keep existing rows, append only rows whose unique key is new
            # (anti-join against the current table — the key relation, not
            # full rows, flows through the join). Without a unique_key,
            # it's a blind append.
            existing = spark.read.parquet(path)
            if m.unique_key:
                new_rows = df.join(
                    existing.select(*m.unique_key).distinct(),
                    list(m.unique_key), "left_anti")
            else:
                new_rows = df
            writer = new_rows.write.mode("append")
            if m.partition_by:
                writer = writer.partitionBy(*m.partition_by)
            writer.parquet(path)
        elif strategy == "merge":
            # upsert (dbt merge / delete+insert): drop existing rows whose
            # unique_key reappears in this batch, union the batch. Write
            # amplification, best to worst:
            #   1. Partition-pruned parquet merge when partition_by is a
            #      subset of unique_key: ONLY partitions present in this
            #      batch are read, anti-joined, and dynamically
            #      overwritten; every other partition's files are never
            #      touched — O(batch partitions) per run, the 100×-safe
            #      default without a lake format.
            #   2. Full-snapshot rewrite (the only option for an
            #      unpartitioned table on plain parquet) — O(table),
            #      documented; a Delta/Iceberg MERGE INTO (file-pruned
            #      rewrite of matching files only) is the lake-format
            #      replacement past that scale.
            if not m.unique_key:
                raise ValueError(
                    f"model {m.name}: merge strategy requires unique_key")
            if m.partition_by and set(m.partition_by) <= set(m.unique_key):
                self._merge_pruned(spark, m, df, path)
            else:
                existing = spark.read.parquet(path)
                keys = df.select(*m.unique_key).distinct()
                merged = (existing.join(keys, list(m.unique_key), "left_anti")
                          .unionByName(df))
                tmp = path + "__merge_tmp"
                writer = merged.write.mode("overwrite")
                if m.partition_by:
                    writer = writer.partitionBy(*m.partition_by)
                writer.parquet(tmp)
                # swap via a retained backup so no crash point loses the
                # table: after a crash either `path` is intact (old or
                # new) or `path + __merge_bak` still holds the old table,
                # and _recover_interrupted_swap restores bak -> path when
                # a crash landed between the two renames (rmtree-before-
                # rename would have a window with NEITHER; on a real
                # deployment this whole path is a lake-format commit —
                # see the write-amplification ladder above)
                bak = path + "__merge_bak"
                if os.path.exists(bak) and os.path.exists(path):
                    # leftover from a crash AFTER the swap completed;
                    # when path is absent the bak IS the table and
                    # _recover_interrupted_swap restores it instead
                    shutil.rmtree(bak)
                os.rename(path, bak)
                os.rename(tmp, path)
                shutil.rmtree(bak)
        elif strategy == "insert_overwrite":
            # replace exactly the partitions present in this batch, leave
            # all others untouched (dynamic partition overwrite — the
            # dbt insert_overwrite strategy).
            if not m.partition_by:
                raise ValueError(
                    f"model {m.name}: insert_overwrite requires partition_by")
            (df.write.mode("overwrite")
               .option("partitionOverwriteMode", "dynamic")
               .partitionBy(*m.partition_by).parquet(path))
        else:  # pragma: no cover - constructor validates
            raise ValueError(f"unknown incremental strategy {strategy!r}")

    @staticmethod
    def _merge_pruned(spark: SparkSession, m: Model, df: DataFrame,
                      path: str) -> None:
        """Partition-pruned parquet merge: rewrite ONLY the partitions the
        batch touches. Requires ``partition_by ⊆ unique_key`` (checked by
        the caller): then a key can never move between partitions, so a
        matching existing row is guaranteed to live in a batch partition
        and the global upsert decomposes into independent per-partition
        upserts — the same assumption Delta exploits when a partition
        predicate is added to the MERGE ON clause.

        Shape: (1) collect the batch's distinct partition tuples (bounded
        by the batch's partition cardinality — e.g. days in a daily run,
        never rows); (2) scan existing pruned to those partitions (the
        literal OR-of-equalities predicate reaches the parquet source as
        partition pruning — untouched partitions are never read); (3)
        anti-join on the key, union the batch; (4) dynamic-partition
        overwrite, which replaces exactly the partitions present in the
        merged output and leaves every other partition's files untouched
        (pinned byte-identical in tests/test_models.py). The merged
        relation is localCheckpoint'd first because Spark refuses to
        overwrite a path that is also an input of the running plan; the
        materialized blocks are O(touched partitions), not O(table).

        The driver-side partition list is CAPPED (round-9 verdict #3):
        with fine-grained partitioning (hourly × region at 100 TB) the
        touched-tuple set can reach 10⁵⁺ rows, and an unbounded
        ``collect()`` plus a 10⁵-term OR predicate would blow both driver
        memory and the Catalyst expression tree. Past
        ``$SPARK_GRAFT_MAX_TOUCHED_PARTITIONS`` (default 1000) distinct
        tuples the merge switches to a JOIN-based prune: a broadcast
        left-semi join of existing against the batch's distinct partition
        tuples (null-safe, matching the literal path's ``eqNullSafe``).
        Nothing but a cap-sized probe ever reaches the driver; the cost
        is that file-level partition pruning then relies on runtime
        dynamic partition pruning rather than a static predicate, so the
        cap is set where the static OR is still comfortably cheap."""
        import functools
        import operator as _op

        pcols = list(m.partition_by)
        cap = int(os.environ.get("SPARK_GRAFT_MAX_TOUCHED_PARTITIONS",
                                 "1000"))
        touched_rel = df.select(*pcols).distinct()
        probe = touched_rel.limit(cap + 1).collect()
        if not probe:
            return  # empty batch: nothing to merge
        if len(probe) > cap:
            # join-based prune: partition tuples never leave the cluster
            ex = spark.read.parquet(path).alias("__ex")
            tr = touched_rel.alias("__tr")
            cond = functools.reduce(_op.and_, [
                F.col(f"__ex.{c}").eqNullSafe(F.col(f"__tr.{c}"))
                for c in pcols])
            # left_semi output carries only the left side's columns
            existing = ex.join(F.broadcast(tr), cond, "left_semi")
        else:
            pred = F.lit(False)
            for t in (r.asDict() for r in probe):
                conj = F.lit(True)
                for c in pcols:
                    conj = conj & (F.col(c).eqNullSafe(F.lit(t[c])))
                pred = pred | conj
            existing = spark.read.parquet(path).filter(pred)
        keys = df.select(*m.unique_key).distinct()
        merged = (existing.join(keys, list(m.unique_key), "left_anti")
                  .unionByName(df)
                  .localCheckpoint())
        try:
            (merged.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(*pcols).parquet(path))
        finally:
            # Dataset.unpersist() only touches cache-manager entries and
            # is a no-op for localCheckpoint blocks — free them properly
            free_local_checkpoint(merged)
