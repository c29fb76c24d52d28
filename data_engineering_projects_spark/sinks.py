"""Sinks (SURVEY.md §2.1 S6–S12).

The reference appends/overwrites warehouse tables through per-row Python
drivers (to_sql / to_gbq — 1_AWS/README.md:124-134, 2_Azure/READ.md:98-107,
3_BigQuery/READ.md:100-124, 4_Snowflake/READ.md:105-121). Here every sink is
a distributed ``DataFrameWriter`` action; JDBC parallelism comes from
``numPartitions`` and cloud warehouse connectors are pluggable by format
name. Parity testing sinks to parquet/saveAsTable (BASELINE.md).
"""

from __future__ import annotations

import math
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by: list[str] | None = None,
                  sort_within_partitions: list[str] | None = None) -> None:
    """S10/S11: table materialization with optional day-partitioning and
    clustering (dbt partition_by/cluster_by — 5_dbt/READ.md:389-394).

    ``partition_by`` gives downstream partition pruning for free;
    ``sort_within_partitions`` is the open-format analog of BigQuery
    clustering (run-length locality for the cluster key inside each file).
    """
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


@contextmanager
def _staged(df: DataFrame, path: str, target_file_bytes: int,
            max_files: int):
    """Run ``df``'s plan exactly once: write it flat to a staging directory
    beside ``path`` on the destination filesystem and yield ``(staged,
    n_files, stage)`` — the stage re-read with ``df``'s schema, the file
    count that puts ~``target_file_bytes`` of its exact compressed size
    into each output file (capped at ``max_files``), and the stage's
    Hadoop ``Path``, which :func:`_rename_onto` can commit as the output.
    Whatever is still at the stage is deleted on exit, whether or not the
    write succeeded."""
    spark = df.sparkSession
    stage = f"{path.rstrip('/')}._staging-{uuid.uuid4().hex}"
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(stage)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    try:
        df.write.parquet(stage)
        size = fs.getContentSummary(jpath).getLength()
        yield (spark.read.schema(df.schema).parquet(stage),
               max(1, min(max_files, math.ceil(size / target_file_bytes))),
               jpath)
    finally:
        fs.delete(jpath, True)


def _rename_onto(spark, stage, path: str) -> None:
    """Commit the finished ``stage`` (a Hadoop ``Path``) as ``path`` without
    a Spark job: delete ``path``, since ``rename`` onto an existing
    directory would nest the stage inside it, then rename. Atomic on
    HDFS; on S3A the rename copies the stage's files. Cached frames over
    ``path`` are refreshed, as an overwrite through Spark would."""
    dst = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = dst.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(dst, True)
    if not fs.rename(stage, dst):
        raise IOError(f"could not rename {stage.toString()} onto {path}")
    spark.catalog.refreshByPath(path)


def write_compacted(df: DataFrame, path: str,
                    target_file_bytes: int = 128 << 20,
                    layout_cols: list[str] | None = None,
                    mode: str = "overwrite",
                    partition_by: list[str] | None = None,
                    max_files: int = 100_000) -> int:
    """Small-file-problem sink: write ``df`` as ~``target_file_bytes``
    parquet files, optionally range-clustered on ``layout_cols``.

    At 100 TB the two file-layout failure modes are (a) thousands of
    KB-sized files per partition (NameNode/listing pressure, per-file open
    cost dominates scans) and (b) one monster file per partition (no read
    parallelism). Spark's default file count is whatever the last shuffle
    produced — unrelated to output size.

    Cost model: ``df``'s upstream plan runs ONCE, landing flat in a stage
    beside ``path``; the file count is the stage's exact compressed size
    over ``target_file_bytes``; the final layout is one output-sized
    rewrite from the stage on the destination filesystem. At 100 TB that
    is one upstream pass plus one rewrite of the output, where sizing
    from a row count and a bytes/row sample re-ran the upstream plan
    three times. When the stage already is the final layout — one
    output file, the stage holds exactly one data file, no
    ``layout_cols`` or ``partition_by``, ``mode="overwrite"`` — the
    stage is renamed onto ``path`` (:func:`_rename_onto`) instead of
    rewritten, which saves the rewrite's two Spark jobs. The layout:

    - ``layout_cols`` given → ``repartitionByRange`` + ``sortWithinPartitions``
      on those columns: every output file covers a disjoint key range, so
      parquet min/max footer stats make downstream range predicates prune
      whole files (the open-format analog of clustering/Z-order on one
      sort axis).
    - otherwise → round-robin ``repartition(n)``: uniform file sizes even
      under upstream skew.

    ``mode`` and ``partition_by`` apply to the final write only. Returns
    the file count used, capped at ``max_files`` (a tiny target on a huge
    input should never schedule an absurd shuffle width).
    """
    with _staged(df, path, target_file_bytes, max_files) as (staged, n_files, stage):
        if (n_files == 1 and not layout_cols and not partition_by
                and mode == "overwrite" and len(staged.inputFiles()) == 1):
            _rename_onto(df.sparkSession, stage, path)
        else:
            out = (staged.repartitionByRange(n_files, *layout_cols) if layout_cols
                   else staged.repartition(n_files))
            write_parquet(out, path, mode=mode, partition_by=partition_by,
                          sort_within_partitions=layout_cols)
    return n_files


def write_table(df: DataFrame, table: str, mode: str = "overwrite") -> None:
    """dbt ``+materialized: table`` analog (5_dbt/READ.md:123-133)."""
    df.write.mode(mode).saveAsTable(table)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 32, mode: str = "overwrite") -> None:
    """Bucketed table write: pre-shuffles rows into ``n_buckets`` by the
    join/agg key so downstream equi-joins and aggregations between
    co-bucketed tables are exchange-free (the plan shows SortMergeJoin
    with no Exchange below it).

    This is the 100 TB co-location strategy for repeatedly-joined fact
    tables: pay the shuffle once at write time, never at query time.
    Requires ``saveAsTable`` (bucket metadata lives in the catalog).
    """
    (df.write.mode(mode)
       .bucketBy(n_buckets, *bucket_cols)
       .sortBy(*bucket_cols)
       .saveAsTable(table))


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append",
               num_partitions: int = 8, **options: str) -> None:
    """S6/S7: JDBC sink. ``mode='append'`` mirrors ``if_exists='append'``
    (1_AWS/README.md:133-134); ``mode='overwrite'`` mirrors ``'replace'``
    (2_Azure/READ.md:104-107). Writes happen from executors in parallel —
    no driver-side row loop."""
    (df.repartition(num_partitions).write.format("jdbc")
       .option("url", url).option("dbtable", table)
       .options(**options).mode(mode).save())


def write_warehouse(df: DataFrame, fmt: str, table: str, mode: str = "append",
                    **options: str) -> None:
    """S8/S9: cloud warehouse sinks (bigquery / snowflake / ...) by
    connector format name; the connector jars are deploy-time concerns,
    the plan is identical."""
    df.write.format(fmt).options(**options).option("table", table).mode(mode).save()

def zorder_code(df: DataFrame, cols: list[str], bits: int = 16,
                rank: str = "minmax"):
    """Morton (Z-order) key as a Catalyst expression.

    ``rank="minmax"`` (default): each column linearly scales to a
    ``bits``-wide unsigned bucket against its measured min/max (one
    bounded agg job — 2 scalars per column). Cheap, but SKEW-SENSITIVE:
    one extreme outlier stretches the range until every regular value
    lands in bucket 0 and that dimension stops discriminating.

    ``rank="quantile"``: bucket boundaries are the column's approximate
    quantiles (distributed GK via ``approxQuantile`` — the boundary list
    on the driver is 2^bits doubles, so this mode caps ``bits`` at 8 =
    256 buckets/dim, plenty for file-level pruning). Equal-POPULATION
    buckets: outliers own their own buckets and the bulk spreads across
    the rest. Bucket lookup is a codegen'd HOF count of boundaries ≤
    value (≤256 comparisons/row/dim).

    Either way the bucket bits interleave with a static shift/or
    expression tree (``bits × len(cols)`` terms, whole-stage-codegen'd).
    Returns ``(code_column, stats)`` — stats maps col → (min, max) or
    col → boundary list, so callers can persist the scaling used.
    """
    from pyspark.sql import functions as F
    n = len(cols)
    # a long has 63 usable bits (bit 63 is the sign — a set sign bit
    # inverts the range-partition order; shifts >= 64 wrap mod 64 and
    # collide with low bits): cap bits so the interleave always fits
    bits = min(bits, 63 // n)
    buckets = {}
    stats = {}
    if rank == "quantile":
        bits = min(bits, 8)
        nb = 1 << bits
        probs = [i / nb for i in range(1, nb)]
        casted = df.select(*[F.col(c).cast("double").alias(c)
                             for c in cols])
        all_bounds = casted.approxQuantile(cols, probs, 1.0 / (4 * nb))
        for c, bounds in zip(cols, all_bounds):
            stats[c] = bounds
            arr = F.array(*[F.lit(float(b)) for b in bounds])
            v = F.col(c).cast("double")
            # NULL v: the filter predicate is NULL -> treated false ->
            # size 0 -> bucket 0 (NULLs cluster at the key-space floor)
            buckets[c] = F.size(F.filter(arr, lambda b: b <= v)) \
                          .cast("long")
    else:
        aggs = []
        for c in cols:
            aggs += [F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
                     F.max(F.col(c).cast("double")).alias(f"mx_{c}")]
        row = df.agg(*aggs).first()
        max_bucket = (1 << bits) - 1
        for c in cols:
            mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
            stats[c] = (mn, mx)
            if mn is None or mx is None:
                # all-NULL column: no scale exists; constant bucket 0
                buckets[c] = F.lit(0).cast("long")
                continue
            span = (mx - mn) or 1.0
            b = F.least(
                F.lit(max_bucket),
                F.floor((F.col(c).cast("double") - F.lit(mn))
                        / F.lit(span) * F.lit(max_bucket + 1))
                 .cast("long"))
            # coalesce AFTER the clamp: NULL values go to bucket 0 (the
            # same floor placement as quantile mode), never the top
            buckets[c] = F.coalesce(
                F.greatest(F.lit(0).cast("long"), b),
                F.lit(0).cast("long"))
    code = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        for b in range(bits):
            code = code.bitwiseOR(
                F.shiftleft(F.shiftright(buckets[c], b)
                             .bitwiseAND(F.lit(1)), b * n + j))
    return code, stats


def write_zordered(df: DataFrame, path: str, zorder_cols: list[str],
                   target_file_bytes: int = 128 << 20, bits: int = 16,
                   mode: str = "overwrite", rank: str = "minmax",
                   max_files: int = 100_000) -> int:
    """Z-order clustered parquet sink: multi-dimensional locality so
    parquet min/max footer stats prune files for predicates on ANY of
    the ``zorder_cols`` — the layout single-axis range clustering
    (``write_compacted(layout_cols=...)``) can only give to its first
    column.

    Mechanics: interleave-bit morton code (:func:`zorder_code`) →
    ``repartitionByRange`` on the code (each output file covers a
    compact Z-curve segment, i.e. a small hyper-rectangle of the key
    space) → sort within files by the code → drop the helper column.

    The scale story: a 100 TB events table queried by BOTH time range
    and entity id can't be partitioned to serve either predicate well;
    z-ordering the two keys lets footer stats skip most files for
    either. Cost model, as in :func:`write_compacted`: ``df``'s upstream
    plan runs once into a stage beside ``path``, which sizes the file
    count from its exact compressed bytes; the scaling aggregate (min/max
    or ``approxQuantile``) and the clustered rewrite — one full shuffle,
    the price of any clustering — both read the stage, not ``df``.
    """
    with _staged(df, path, target_file_bytes, max_files) as (staged, n_files, _):
        code, _ = zorder_code(staged, zorder_cols, bits=bits, rank=rank)
        (staged.withColumn("__zorder__", code)
               .repartitionByRange(n_files, "__zorder__")
               .sortWithinPartitions("__zorder__")
               .drop("__zorder__")
               .write.mode(mode).parquet(path))
    return n_files
