"""Sources for the engine.

Covers SURVEY.md §2.1 S1–S5: CSV scans (S3A path or local glob), parquet
star-schema scans, temp-view registration (the dbt ``source()`` analog).
A star-schema table is read under the schema of its own parquet footer,
read on the driver, so a table read runs no Spark job.
The XCom JSON exchange (S5) is deliberately eliminated: a single lazy plan
spans all stages, so no data ever round-trips through the driver.

Reference parity notes (citations into /root/reference):
- S1  1_AWS/README.md:51-62   (S3 CSV via boto hook -> s3a:// path read)
- S2  2_Azure/READ.md:48-56   (year-loop CSV with skip-on-missing)
- S3  5_dbt/READ.md:158-159   (dbt source() -> registered view)
- S5  1_AWS/README.md:64-67   (XCom JSON hop -> eliminated, lazy plan)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import tune

#: Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema parquet table with deterministic types
    (see :func:`_typed` for the ``events.ts`` fix) under the schema of
    its parquet footer (:func:`_footer_schema`), so the read runs no
    Spark job. The session's first read applies :func:`session.tune`;
    later reads write no conf."""
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema, _ = _footer_schema(spark, path)
    return _typed(spark.read.schema(schema).parquet(path), name)


def table_and_stream(spark: SparkSession, sf_dir: str,
                     name: str) -> tuple[DataFrame, DataFrame]:
    """:func:`load_table`'s frame and its streaming twin — the same typed
    frame, as a parquet file stream over the table's own files (no
    copy). Both read the schema of the table's parquet footer, which the
    file stream needs declared, so neither runs a Spark job. The batch
    frame serves to count the rows the stream will admit.

    A directory table streams its directory. A single-file table streams
    its parent directory with ``pathGlobFilter`` set to its file name:
    the file source rejects a file path ("Option 'basePath' must be a
    directory"), and the filter keeps sibling files out."""
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema, is_dir = _footer_schema(spark, path)
    reader = spark.readStream.schema(schema)
    stream_path = path
    if not is_dir:
        reader = reader.option("pathGlobFilter", f"{name}.parquet")
        stream_path = sf_dir
    return (_typed(spark.read.schema(schema).parquet(path), name),
            _typed(reader.parquet(stream_path), name))


def _footer_schema(spark: SparkSession, path: str) -> tuple[StructType, bool]:
    """The schema Spark's parquet inference gives ``path``, read on the
    driver from one footer instead of by inference's Spark job, and
    whether ``path`` is a directory. Works on any Hadoop filesystem.

    The conversion is the one the inference job runs per file
    (``ParquetFileFormat.readSchemaFromFooter`` with the session's
    ``ParquetToSparkSchemaConverter``), so session confs such as
    ``nanosAsLong`` apply as they would there. Like inference with
    ``mergeSchema`` off, a directory takes the footer of its first data
    file in path order; a directory with no data file at its top level
    (a partitioned or an empty table) falls back to inference."""
    jvm = spark.sparkContext._jvm
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    status = fs.getFileStatus(p)
    is_dir = status.isDirectory()
    if is_dir:
        data = sorted((s for s in fs.listStatus(p) if s.isFile()
                       and not s.getPath().getName().startswith(("_", "."))),
                      key=lambda s: s.getPath().toString())
        if not data:
            return spark.read.parquet(path).schema, True
        status = data[0]
    footer = pq.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
    converter = pq.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf())
    schema = pq.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(status.getPath(), footer), converter)
    return StructType.fromJson(json.loads(schema.json())), is_dir


def _typed(df: DataFrame, name: str) -> DataFrame:
    """Deterministic types for a raw table read, batch or stream.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; we read it via the nanosAsLong legacy conf
    and truncate to microseconds (integer DIV — no double round-trip, so
    no precision loss at 1e18 magnitudes), matching DuckDB/pandas µs
    semantics bit-for-bit.
    """
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            # defensive: if NTZ inference is re-enabled externally, pin the
            # UTC-instant view (identity on the stored micros under the
            # UTC session timezone).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def widen(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow scan before CPU-heavy per-row derivations.

    Spark splits parquet scans by BYTES (spark.sql.files.maxPartitionBytes),
    which under-parallelizes compute-bound stages: a few-MB documents file
    arrives as 1 partition, so tokenize/shingle/hash would run on one core.
    A round-robin repartition costs one small shuffle of the raw rows and
    buys full-cluster parallelism for everything downstream. No-op when the
    scan is already at least as wide as the target — at 100 TB inputs are
    thousands of splits and this never fires.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or STAR_TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """dbt ``source()`` analog: expose tables as temp views for spark.sql.

    Views stay lazy, so Catalyst fuses across "model" boundaries exactly
    like dbt staging views compile into downstream queries
    (5_dbt/READ.md:127-128).
    """
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)


def typed_props_view(spark: SparkSession, sf_dir: str,
                     schema: str = "k BIGINT",
                     props_col: str = "props") -> DataFrame:
    """Events with the loose JSON ``props`` payload parsed ONCE into a
    typed struct column (``from_json`` with a declared schema) — the
    100 TB pattern for semi-structured event streams: every downstream
    reference reads a struct field (columnar, codegen'd) instead of
    re-running a Jackson parse per ``get_json_object`` call.

    Lazy like every source here, so Catalyst prunes the parse away
    entirely for queries that never touch ``props_struct``; materialize
    it (write to parquet with the struct column) when many jobs share
    the same hot paths."""
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("props_struct", F.from_json(props_col, schema))


def read_csv_glob(spark: SparkSession, paths: list[str], schema=None,
                  header: bool = True) -> DataFrame:
    """S1/S2: multi-path CSV scan with skip-on-missing semantics.

    The reference's sequential year loop with try/except FileNotFoundError
    (2_Azure/READ.md:48-56) becomes a single parallel multi-path scan over
    the paths that exist — the existence check happens once at plan-build
    time, and Spark parallelizes the read across the cluster.
    """
    existing = [p for p in paths if _path_exists(spark, p)]
    if not existing:
        raise FileNotFoundError(f"none of {len(paths)} input paths exist")
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(existing)


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Works for local and hadoop-visible (s3a://, hdfs://) paths."""
    if "://" not in path:
        return os.path.exists(path)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def read_jsonl(spark: SparkSession, paths: list[str] | str, schema=None,
               corrupt_col: str = "_corrupt_record") -> DataFrame:
    """JSONL corpus reader — the interchange format of LLM training-data
    pipelines (one JSON document per line).

    With a declared ``schema`` the scan is single-pass and malformed lines
    land in ``corrupt_col`` (PERMISSIVE mode) instead of failing the job —
    at 100 TB a bad line must never kill the read, and the corrupt column
    makes the bad rows auditable/quarantinable. Without a schema Spark
    infers (an extra full pass — acceptable for exploration, never for
    production scans; declare the schema at scale)."""
    reader = spark.read.option("mode", "PERMISSIVE")
    if schema is not None:
        from pyspark.sql.types import StringType, StructField
        if corrupt_col not in [f.name for f in schema.fields]:
            schema = schema.add(StructField(corrupt_col, StringType()))
        reader = (reader.schema(schema)
                  .option("columnNameOfCorruptRecord", corrupt_col))
    return reader.json(paths)


def read_parquet_evolved(spark: SparkSession, path: str, schema=None,
                         merge_schema: bool = False) -> DataFrame:
    """Schema-evolution-tolerant parquet reader for long-lived append
    tables (a corpus directory written over months gains columns).

    Two strategies, chosen by whether the TARGET schema is known:

    - ``schema`` given (the production path): read with the declared
      schema — files missing a column yield NULLs for it, extra columns
      in newer files are pruned, and NO footer pass happens. O(0) planning
      cost at any file count; this is the 100 TB default.
    - ``merge_schema=True`` (the exploration path): ``mergeSchema``
      unions every file footer's schema. Correct, but the planning cost
      is a footer read per file — O(files), noticeable at 10⁵+ files —
      so it is opt-in, never the default.

    Incompatible evolutions (same column, different type) fail loudly in
    both modes — parquet cannot reconcile them at read time; that class
    needs a rewrite migration.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(path)
