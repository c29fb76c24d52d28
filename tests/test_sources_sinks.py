"""Source/sink coverage: CSV glob with skip-on-missing (S1/S2), view
registration (S3/S4), partitioned+clustered parquet writes (S10/S11),
SQL-string/file models (S12)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from data_engineering_projects_spark.sources import read_parquet_evolved
from data_engineering_projects_spark.sources import (
    load_table, read_csv_glob, register_views, table_and_stream,
)
from data_engineering_projects_spark import sinks
from data_engineering_projects_spark.sinks import write_parquet
from data_engineering_projects_spark.plans.models import ModelGraph

SCHEMA = StructType([
    StructField("tmc_code", StringType()),
    StructField("travel_time_seconds", DoubleType()),
    StructField("year", IntegerType()),
])


def test_csv_glob_skips_missing_years(spark, tmp_path):
    """The reference's try/except year loop (2_Azure/READ.md:48-56) becomes
    one parallel multi-path scan over the paths that exist."""
    for year in (2015, 2017):  # 2016 deliberately missing
        spark.createDataFrame([("T1", 10.0, year)], SCHEMA) \
            .write.option("header", True).mode("overwrite") \
            .csv(str(tmp_path / f"HITTAV{year}.csv"))
    paths = [str(tmp_path / f"HITTAV{y}.csv") for y in (2015, 2016, 2017)]
    df = read_csv_glob(spark, paths, schema=SCHEMA)
    assert {r["year"] for r in df.collect()} == {2015, 2017}


def test_csv_glob_all_missing_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_csv_glob(spark, [str(tmp_path / "nope.csv")], schema=SCHEMA)


def test_register_views(spark, sf_dir):
    register_views(spark, sf_dir, "nation", "region")
    got = spark.sql("""
        SELECT r.r_name, COUNT(*) AS n FROM nation n
        JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name""")
    assert got.count() == 5


def _stream_rows(spark, stream, tmp_path, name: str) -> list:
    """Every row an availableNow run of ``stream`` admits."""
    q = (stream.writeStream.format("memory").queryName(name)
         .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    try:
        return spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)


def test_table_and_stream_equals_load_table(spark, sf_dir, tmp_path):
    """A single-file table (the test-data layout, which streams its
    parent directory behind ``pathGlobFilter``) and a Spark-written
    directory table both stream the schema and rows that ``load_table``
    reads — including the events ``ts`` fix."""
    from collections import Counter

    # the raw read keeps ts as the stored nanos (bigint) for load_table
    # to convert, exactly as in the single-file table
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(3) \
        .write.parquet(str(tmp_path / "dir" / "events.parquet"))
    for i, sf in enumerate((sf_dir, str(tmp_path / "dir"))):
        want = load_table(spark, sf, "events")
        batch, got = table_and_stream(spark, sf, "events")
        assert got.schema == batch.schema == want.schema
        assert dict(got.dtypes)["ts"] == "timestamp"
        rows = _stream_rows(spark, got, tmp_path, f"table_stream_{i}")
        assert Counter(rows) == Counter(want.collect())


def test_table_stream_admits_no_sibling_file(spark, sf_dir, tmp_path):
    """A sibling of a single-file table (``events_old.parquet``) sits in
    the streamed directory but is not admitted."""
    import shutil
    shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events_old.parquet")
    _, stream = table_and_stream(spark, str(tmp_path), "events")
    rows = _stream_rows(spark, stream, tmp_path, "table_stream_sibling")
    assert len(rows) == load_table(spark, sf_dir, "events").count() > 0


def test_table_read_writes_no_session_conf(spark, sf_dir, monkeypatch):
    """``session.tune`` runs once per session: the first table read of a
    fresh session applies it (a vanilla session still reads the NANOS
    ``events.ts``), and later reads write no session conf, so a read
    inside ``aqe_disabled`` leaves AQE off for the rest of that scope."""
    from data_engineering_projects_spark.session import aqe_disabled

    fresh = spark.newSession()
    fresh.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf_type = type(spark.conf)
    real_set = conf_type.set
    written = []

    def spy(self, k, v):
        written.append(k)
        return real_set(self, k, v)

    monkeypatch.setattr(conf_type, "set", spy)
    assert load_table(fresh, sf_dir, "events").first() is not None
    assert "spark.sql.legacy.parquet.nanosAsLong" in written
    with aqe_disabled(fresh):
        written.clear()
        load_table(fresh, sf_dir, "orders")
        table_and_stream(fresh, sf_dir, "events")
        load_table(spark, sf_dir, "orders")
        assert written == []
        assert fresh.conf.get("spark.sql.adaptive.enabled") == "false"


def _jobs_run(spark, fn) -> int:
    """How many Spark jobs ``fn()`` runs, counted through a job group."""
    import uuid
    sc, group = spark.sparkContext, f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_table_read_runs_no_job_and_keeps_the_inferred_schema(spark, sf_dir,
                                                              tmp_path):
    """A table read takes its schema from the parquet footer on the
    driver: ``load_table`` and ``table_and_stream`` run no Spark job,
    where inference runs one, and give the schema inference gives, for
    every star table and for a Spark-written directory table."""
    from data_engineering_projects_spark.sources import (
        STAR_TABLES, _footer_schema, _typed)
    import os
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    spark.read.parquet(f"{sf}/events.parquet").repartition(3) \
        .write.parquet(str(tmp_path / "events.parquet"))
    tables = [(sf, n) for n in STAR_TABLES] + [(str(tmp_path), "events")]
    for sf_dir, name in tables:
        path = f"{sf_dir}/{name}.parquet"
        frames, inferred = [], []
        assert _jobs_run(spark, lambda: frames.extend(
            [load_table(spark, sf_dir, name),
             *table_and_stream(spark, sf_dir, name)])) == 0, path
        assert _jobs_run(spark, lambda: inferred.append(
            spark.read.parquet(path))) >= 1
        raw = spark.read.schema(_footer_schema(spark, path)[0]).parquet(path)
        assert raw.schema == inferred[0].schema, path
        want = _typed(inferred[0], name).schema
        assert all(f.schema == want for f in frames), path


def test_typed_props_view_parses_once_and_prunes(spark, sf_dir):
    """The typed event-props source: struct field equals the per-call JSON
    path extraction, and a query that never touches the struct carries no
    from_json in its optimized plan (Catalyst prunes the parse)."""
    import contextlib
    import io
    from data_engineering_projects_spark.sources import typed_props_view
    tv = typed_props_view(spark, sf_dir)
    both = tv.select(
        F.col("props_struct").getField("k").alias("typed"),
        F.get_json_object("props", "$.k").cast("bigint").alias("pathed"))
    assert both.filter(
        ~F.col("typed").eqNullSafe(F.col("pathed"))).isEmpty()
    pruned = tv.select("event_id", "event_type")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("extended")
    optimized = buf.getvalue().split("== Optimized Logical Plan ==")[1]
    assert "from_json" not in optimized


def test_partitioned_clustered_write(spark, tmp_path, sf_dir):
    """S11 (5_dbt/READ.md:389-394): day-partition + sort-within-partition
    clustering; the partition column prunes on re-read."""
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    out = str(tmp_path / "part")
    write_parquet(ev, out, partition_by=["day"],
                  sort_within_partitions=["user_id"])
    back = spark.read.parquet(out)
    one_day = back.filter(F.col("day") == "2024-01-05")
    assert one_day.count() > 0
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain()
    assert "PartitionFilters" in buf.getvalue()


def test_sql_model_with_vars(spark):
    g = ModelGraph(vars={"min_n": 2})
    g.add_source("src", lambda s, v: s.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v int"))
    g.sql_model("agg", "SELECT k, COUNT(*) AS n FROM src GROUP BY k", ["src"])
    g.sql_model("big", "SELECT * FROM agg WHERE n >= {min_n}", ["agg"])
    built = g.run(spark)
    assert [r["k"] for r in built["big"].collect()] == ["a"]


def test_sql_file_model(spark, tmp_path):
    f = tmp_path / "insights.sql"
    f.write_text("SELECT COUNT(*) AS n FROM src")
    g = ModelGraph()
    g.add_source("src", lambda s, v: s.range(5))
    g.sql_file_model("insights", str(f), ["src"])
    assert g.run(spark)["insights"].collect()[0]["n"] == 5


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """S11/scale: two tables co-bucketed on the join key must join with
    zero Exchange nodes — the pay-shuffle-once-at-write-time strategy."""
    import contextlib
    import io

    from data_engineering_projects_spark.sinks import write_bucketed

    orders = load_table(spark, sf_dir, "orders").limit(5000)
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed(orders, "b_orders", ["o_custkey"], n_buckets=8)
    write_bucketed(cust, "b_customer", ["c_custkey"], n_buckets=8)
    try:
        j = (spark.table("b_orders")
             .join(spark.table("b_customer"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .groupBy("c_mktsegment").count())
        # AQE defers exchange planning; assert on the non-adaptive plan
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain("formatted")
            plan = buf.getvalue()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_section, plan
        assert j.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_jdbc_roundtrip_append_and_overwrite(spark, tmp_path):
    """S6/S7 executed-path coverage: write_jdbc against the embedded Derby
    engine that ships with the JVM (no external service), read back via
    spark.read.jdbc, exercise both append (if_exists='append') and
    overwrite (if_exists='replace') semantics."""
    from data_engineering_projects_spark.sinks import write_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    drv = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")

    write_jdbc(df, url, "t_rt", mode="append", num_partitions=2, **drv)
    got = spark.read.format("jdbc").option("url", url) \
        .option("dbtable", "t_rt").options(**drv).load()
    assert sorted((r.id, r.v) for r in got.collect()) == [(1, "a"), (2, "b")]

    # append accumulates
    write_jdbc(df, url, "t_rt", mode="append", num_partitions=2, **drv)
    got2 = spark.read.format("jdbc").option("url", url) \
        .option("dbtable", "t_rt").options(**drv).load()
    assert got2.count() == 4

    # overwrite replaces
    df3 = spark.createDataFrame([(9, "z")], "id int, v string")
    write_jdbc(df3, url, "t_rt", mode="overwrite", num_partitions=1,
               truncate="false", **drv)
    got3 = spark.read.format("jdbc").option("url", url) \
        .option("dbtable", "t_rt").options(**drv).load()
    assert sorted((r.id, r.v) for r in got3.collect()) == [(9, "z")]


def test_read_jsonl_with_corrupt_quarantine(spark, tmp_path):
    """JSONL reader: declared schema, malformed lines quarantined into the
    corrupt column instead of failing the scan."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    from data_engineering_projects_spark.sources import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text('{"doc_id": 1, "text": "hello world"}\n'
                 'NOT VALID JSON\n'
                 '{"doc_id": 2, "text": "second doc"}\n')
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    df = read_jsonl(spark, str(p), schema=schema)
    rows = df.collect()
    good = [(r.doc_id, r.text) for r in rows if r._corrupt_record is None]
    bad = [r._corrupt_record for r in rows if r._corrupt_record is not None]
    assert sorted(good) == [(1, "hello world"), (2, "second doc")]
    assert bad == ["NOT VALID JSON"]


# ---------------------------------------------------------------------------
# write_compacted: size-targeted file layout (small-file-problem sink)
# ---------------------------------------------------------------------------

def _parquet_files(path):
    import os
    out = []
    for root, _dirs, files in os.walk(str(path)):
        out.extend(os.path.join(root, f) for f in files
                   if f.endswith(".parquet"))
    return sorted(out)


def test_write_compacted_sizes_files_from_measured_bytes(spark, tmp_path):
    """File count must come from MEASURED compressed bytes / target, not
    from whatever partitioning the input happened to have."""
    import os
    from data_engineering_projects_spark.sinks import write_compacted
    df = (spark.range(0, 20_000, 1, 16)
          .withColumn("payload", F.sha2(F.col("id").cast("string"), 256)))
    plain = tmp_path / "plain"
    df.write.parquet(str(plain))
    size = sum(os.path.getsize(f) for f in _parquet_files(plain))
    target = size // 4  # aim for ~4 files
    out = tmp_path / "compacted"
    n = write_compacted(df, str(out), target_file_bytes=target)
    files = _parquet_files(out)
    assert n == len(files)
    assert 2 <= n <= 8, n  # sizing noise tolerated, 16->~4 compaction real
    # uniform layout: no file more than ~3x the smallest
    sizes = [os.path.getsize(f) for f in files]
    assert max(sizes) <= 3 * min(sizes), sizes
    got = spark.read.parquet(str(out))
    assert got.count() == 20_000


def test_compacted_and_zordered_sinks_run_the_input_plan_once(spark, tmp_path):
    """The staged sinks evaluate ``df`` exactly once: a Python UDF that
    counts its calls sees each row once per write, so a sizing count or
    a bytes/row sample pass over ``df`` would show up as extra calls."""
    from pyspark.sql.types import LongType
    calls = spark.sparkContext.accumulator(0)

    def plus_one(x):
        calls.add(1)
        return x + 1

    df = spark.range(0, 500, 1, 2).withColumn(
        "y", F.udf(plus_one, LongType())("id"))
    sinks.write_compacted(df, str(tmp_path / "c"))
    assert calls.value == 500
    sinks.write_zordered(df, str(tmp_path / "z"), ["id", "y"])
    assert calls.value == 1_000


def test_write_compacted_staging_contract(spark, tmp_path):
    """The stage beside ``path`` never outlives the call, failures still
    propagate, ``mode`` applies to the final write, and the re-read of
    the stage keeps every type and value."""
    import datetime
    import decimal
    import glob
    from pyspark.sql.utils import AnalysisException
    from data_engineering_projects_spark.sinks import write_compacted

    def stages():
        return glob.glob(str(tmp_path / "*._staging-*"))

    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("01", datetime.datetime(2024, 1, 2, 3, 4, 5, 6),
          decimal.Decimal("12.345678")),
         ("10", datetime.datetime(2024, 2, 3, 4, 5, 6), None)],
        "part STRING, ts TIMESTAMP, amount DECIMAL(18,6)")
    write_compacted(df, out, partition_by=["part"])
    assert stages() == []
    back = spark.read.schema(df.schema).parquet(out)
    assert sorted(back.select(*df.columns).collect()) == sorted(df.collect())
    assert sorted(p.name for p in (tmp_path / "t").glob("part=*")) \
        == ["part=01", "part=10"]
    flat = spark.read.parquet(out).schema
    assert flat["ts"].dataType == df.schema["ts"].dataType
    assert flat["amount"].dataType == df.schema["amount"].dataType

    write_compacted(df, out, mode="append", partition_by=["part"])
    assert spark.read.parquet(out).count() == 4

    with pytest.raises(AnalysisException):
        write_compacted(df, out, mode="errorifexists")
    assert stages() == []

    def boom(x):
        raise ValueError("udf failed")

    bad = spark.range(3).withColumn("y", F.udf(boom, "long")("id"))
    with pytest.raises(Exception, match="udf failed"):
        write_compacted(bad, str(tmp_path / "bad"))
    assert stages() == []


def test_write_compacted_commits_a_one_file_stage_by_rename(spark, tmp_path):
    """A one-file overwrite whose stage holds one data file is renamed onto
    ``path``: no job runs after the stage write, the old multi-file
    directory leaves no stale file, and no stage is left behind. A stage
    of two files, an ``append`` and a ``partition_by`` write still go
    through the rewrite."""
    import glob
    import os
    from data_engineering_projects_spark.sinks import write_compacted

    out = str(tmp_path / "t")
    spark.range(100, 200, 1, 4).write.parquet(out)
    assert len(_parquet_files(out)) == 4
    one = spark.range(0, 50, 1, 1)
    assert _jobs_run(spark, lambda: one.write.mode("overwrite")
                     .parquet(str(tmp_path / "probe"))) == 1
    assert _jobs_run(spark, lambda: write_compacted(one, out)) == 1
    assert len(_parquet_files(out)) == 1
    assert glob.glob(str(tmp_path / "*._staging-*")) == []
    assert sorted(r.id for r in spark.read.parquet(out).collect()) \
        == list(range(50))

    # two staged files: rewritten into the one output file
    assert _jobs_run(spark, lambda: write_compacted(
        spark.range(0, 50, 1, 2), out)) > 1
    assert len(_parquet_files(out)) == 1
    assert _jobs_run(spark, lambda: write_compacted(one, out, mode="append")) > 1
    assert spark.read.parquet(out).count() == 100
    assert len(_parquet_files(out)) == 2
    parts = str(tmp_path / "parts")
    assert _jobs_run(spark, lambda: write_compacted(
        one.withColumn("p", F.col("id") % 2), parts, partition_by=["p"])) > 1
    assert sorted(glob.glob(f"{parts}/p=*/*.parquet")) == _parquet_files(parts)
    assert {os.path.basename(os.path.dirname(f)) for f in _parquet_files(parts)} \
        == {"p=0", "p=1"}
    assert glob.glob(str(tmp_path / "*._staging-*")) == []


def test_write_compacted_range_layout_gives_disjoint_file_ranges(spark, tmp_path):
    """layout_cols => repartitionByRange + sortWithinPartitions: parquet
    footer min/max of the layout column must be non-overlapping across
    files, so range predicates prune whole files."""
    import pyarrow.parquet as pq
    from data_engineering_projects_spark.sinks import write_compacted
    df = (spark.range(0, 10_000, 1, 8)
          .withColumn("k", (F.col("id") * 2654435761) % 10_000)
          .withColumn("payload", F.sha2(F.col("k").cast("string"), 256)))
    out = tmp_path / "ranged"
    n = write_compacted(df, str(out), target_file_bytes=120_000,
                        layout_cols=["k"])
    files = _parquet_files(out)
    assert n == len(files) and n >= 2
    spans = []
    for f in files:
        md = pq.read_metadata(f)
        idx = md.schema.names.index("k")
        lo = min(md.row_group(i).column(idx).statistics.min
                 for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max
                 for i in range(md.num_row_groups))
        spans.append((lo, hi))
    spans.sort()
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next, spans


def test_write_compacted_empty_input_single_file(spark, tmp_path):
    from data_engineering_projects_spark.sinks import write_compacted
    df = spark.range(0, 10).filter(F.col("id") < 0)
    out = tmp_path / "empty"
    assert write_compacted(df, str(out)) == 1
    got = spark.read.parquet(str(out))
    assert got.count() == 0 and got.columns == ["id"]


def test_write_compacted_respects_partition_by_and_max_files(spark, tmp_path):
    from data_engineering_projects_spark.sinks import write_compacted
    df = (spark.range(0, 4_000, 1, 8)
          .withColumn("day", (F.col("id") % 4).cast("int"))
          .withColumn("payload", F.sha2(F.col("id").cast("string"), 256)))
    out = tmp_path / "bydays"
    n = write_compacted(df, str(out), target_file_bytes=1,  # absurd target
                        partition_by=["day"], max_files=6)
    assert n == 6  # cap engaged: tiny target never schedules huge shuffles
    got = spark.read.parquet(str(out))
    assert got.count() == 4_000
    assert {r["day"] for r in got.select("day").distinct().collect()} \
        == {0, 1, 2, 3}


class TestZorderedWrite:
    """write_zordered: multi-dimensional file pruning via morton layout."""

    @staticmethod
    def _grid(spark, n=512):
        return (spark.range(n * n)
                .selectExpr(f"CAST(id % {n} AS LONG) AS x",
                            f"CAST(id DIV {n} AS LONG) AS y",
                            "id AS payload"))

    @staticmethod
    def _file_stats(spark, path):
        df = spark.read.parquet(path)
        return (df.groupBy(F.input_file_name().alias("f"))
                  .agg(F.min("x").alias("mnx"), F.max("x").alias("mxx"),
                       F.min("y").alias("mny"), F.max("y").alias("mxy"))
                  .collect())

    def test_prunes_files_on_both_dimensions(self, spark, tmp_path):
        """A y-range predicate must overlap only a fraction of z-ordered
        files; under single-axis x range clustering the same predicate
        overlaps EVERY file (each file spans all of y). That pruning gap
        is the operator's whole reason to exist."""
        df = self._grid(spark)
        zp, rp = str(tmp_path / "z"), str(tmp_path / "r")
        n_z = sinks.write_zordered(df, zp, ["x", "y"],
                                   target_file_bytes=64 << 10)
        assert n_z >= 8
        sinks.write_compacted(df, rp, layout_cols=["x"],
                              target_file_bytes=64 << 10)
        zstats = self._file_stats(spark, zp)
        rstats = self._file_stats(spark, rp)
        assert len(zstats) == n_z
        lo, hi = 0, 63  # a 1/8 slice of the y domain
        z_hit = sum(1 for r in zstats if r["mny"] <= hi and r["mxy"] >= lo)
        r_hit = sum(1 for r in rstats if r["mny"] <= hi and r["mxy"] >= lo)
        assert r_hit == len(rstats)          # range-on-x: no y pruning
        assert z_hit <= len(zstats) / 2      # z-order: most files skipped
        # and x predicates still prune too (z-order serves BOTH dims)
        zx_hit = sum(1 for r in zstats if r["mnx"] <= hi and r["mxx"] >= lo)
        assert zx_hit <= len(zstats) / 2

    def test_round_trips_rows_exactly(self, spark, tmp_path):
        df = self._grid(spark, n=64)
        p = str(tmp_path / "z2")
        sinks.write_zordered(df, p, ["x", "y"], target_file_bytes=16 << 10)
        back = spark.read.parquet(p)
        assert back.count() == 64 * 64
        assert back.agg(F.sum("payload")).first()[0] == \
               df.agg(F.sum("payload")).first()[0]
        assert "__zorder__" not in back.columns

    def test_empty_input_single_file(self, spark, tmp_path):
        df = self._grid(spark, n=8).filter("x < 0")
        p = str(tmp_path / "z3")
        assert sinks.write_zordered(df, p, ["x", "y"]) == 1
        assert spark.read.parquet(p).count() == 0


class TestSchemaEvolution:
    """read_parquet_evolved: appended files gained a column."""

    @staticmethod
    def _write_two_generations(spark, path):
        (spark.range(5).selectExpr("id AS doc_id", "'v1' AS text")
         .write.mode("overwrite").parquet(path))
        (spark.range(5, 10).selectExpr("id AS doc_id", "'v2' AS text",
                                       "CAST(id AS DOUBLE) AS quality")
         .write.mode("append").parquet(path))

    def test_declared_schema_nulls_missing_column(self, spark, tmp_path):
        p = str(tmp_path / "evo")
        self._write_two_generations(spark, p)
        target = StructType([
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("quality", DoubleType()),
        ])
        df = read_parquet_evolved(spark, p, schema=target)
        assert df.count() == 10
        assert df.filter("quality IS NULL").count() == 5   # v1 files
        assert df.filter("quality IS NOT NULL").count() == 5
        assert [f.name for f in df.schema.fields] == \
               ["doc_id", "text", "quality"]

    def test_merge_schema_unions_footers(self, spark, tmp_path):
        p = str(tmp_path / "evo2")
        self._write_two_generations(spark, p)
        df = read_parquet_evolved(spark, p, merge_schema=True)
        assert set(c for c in df.columns) == {"doc_id", "text", "quality"}
        assert df.count() == 10
        # default (no schema, no merge) may miss the evolved column
        plain = read_parquet_evolved(spark, p)
        assert plain.count() == 10

    def test_quantile_rank_survives_outliers(self, spark, tmp_path):
        """One extreme outlier collapses minmax bucketing (every regular
        x lands in bucket 0 → the x dimension stops discriminating and a
        mid-range x predicate overlaps every file); quantile ranking
        keeps equal-population buckets and prunes."""
        n = 128
        df = (spark.range(n * n)
              .selectExpr(f"CAST(id % {n} AS DOUBLE) AS x",
                          f"CAST(id DIV {n} AS LONG) AS y",
                          "id AS payload")
              .unionByName(spark.sql(
                  "SELECT CAST(1e12 AS DOUBLE) x, 0L y, -1L payload")))
        mm, qt = str(tmp_path / "mm"), str(tmp_path / "qt")
        sinks.write_zordered(df, mm, ["x", "y"],
                             target_file_bytes=2 << 10, rank="minmax")
        sinks.write_zordered(df, qt, ["x", "y"],
                             target_file_bytes=2 << 10, rank="quantile")
        lo, hi = 0, 15  # bottom 1/8 of the REGULAR x domain
        mm_stats = TestZorderedWrite._file_stats(spark, mm)
        qt_stats = TestZorderedWrite._file_stats(spark, qt)
        mm_hit = sum(1 for r in mm_stats
                     if r["mnx"] <= hi and r["mxx"] >= lo)
        qt_hit = sum(1 for r in qt_stats
                     if r["mnx"] <= hi and r["mxx"] >= lo)
        assert mm_hit == len(mm_stats)       # outlier killed x pruning
        assert qt_hit <= len(qt_stats) / 2   # quantile mode still prunes
        # row counts identical either way
        assert spark.read.parquet(qt).count() == n * n + 1
        assert len(qt_stats) >= 16
