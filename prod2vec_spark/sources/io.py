"""Sources & sinks (SURVEY.md §2.1, S1-S7).

The reference reads CSV from S3 into pandas
(/root/reference/utils/util_functions.py:5-27) and persists pickles
(data_prep.py:204-234).  The engine's data plane is parquet end-to-end:
columnar, splittable, predicate-pushdown-able — the only sane choice at
100 TB.  CSV scan/sink are kept for the reference's CSV surface (S1/S4).

Every input table has one declared schema in ``TABLES`` and is read
with it (``read_table``): Spark's own inference would run a one-task
footer job on every open.  The declaration is checked instead by one
driver-side footer read through the Hadoop FS API (no Spark job), so a
file that lacks a declared column or stores it as another type raises
rather than reading NULLs or a silently widened column.  Catalyst still
prunes columns and pushes filters into the reader.  ``read_partials``
reads a stage's ``batch_id=N`` partials the same way, with the schema
its caller declares.

Pipeline stage hand-offs use ``checkpoint``: the parquet sink plus a
read-back that reuses the schema just written, so a stage never pays a
footer-inference job to reopen its own output, and the write can
observe row counts or other aggregates on the way out.

The streaming sinks live here too: ``write_stream_parquet``, the
checkpointed parquet file sink of a row stream, and
``start_batch_stage``, the one micro-batch door of a stateful stage.
"""

from __future__ import annotations

import functools
import json
from types import SimpleNamespace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The declared schema of each input table (FIXTURES.md §2): the read
# schema of ``read_table`` and the expectation of the quality gates.
# Every data dir stores µs timestamps without a UTC adjustment, which
# Spark reads as TIMESTAMP_NTZ; the declaration equals what inference
# gives for each of them (tests/test_declared_schemas.py).
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def expected_schema(name: str) -> T.StructType:
    return TABLES[name]


def spread_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor before expensive per-row work
    (optimization guide §2.5, input skew: "repartition immediately
    after the read").

    A parquet table written as ONE row group yields one scan task no
    matter how many cores the session has — Spark can only split scans
    at row-group boundaries — so every tokenizer/codec/HOF/n-gram
    chain above it runs serially until the first shuffle.  This helper
    round-robin-repartitions to the session's default parallelism ONLY
    when the scan has fewer partitions than that floor: on a real
    multi-file table (100 TB: thousands of splits) the condition is
    false and the function is an exact no-op — no extra exchange ever
    ships at scale.  The floor derives from the session's core count,
    never a constant, so the driver's lower-core bench runs keep their
    scaling measurement.

    Only worth applying where per-row compute dominates the one-time
    cost of shuffling the rows once (text/codec/vector operators) —
    a plain relational aggregate's map-side partial agg is cheaper
    than the repartition write, so those scans are left alone."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


# Tables whose consumers are uniformly compute-heavy per row (text
# tokenization / HOF chains on ``documents``, per-row vector math on
# ``embeddings``) — the two corpus-class tables.  Relational tables
# (lineitem/orders/events/dims) keep their raw scans: their consumers
# are partial-agg-before-shuffle shapes where a blanket repartition
# would pay a full-width shuffle write on the single scan task for no
# downstream win.
_SPREAD_TABLES = frozenset({"documents", "embeddings"})


@functools.cache
def _footer_classes(jvm):
    """The JVM classes of a footer read, looked up once per gateway:
    each lookup is one py4j round trip per package segment, together
    about half the cost of the read itself."""
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    parquet = jvm.org.apache.parquet
    return SimpleNamespace(
        path=jvm.org.apache.hadoop.fs.Path,
        reader=parquet.hadoop.ParquetFileReader,
        footer=parquet.hadoop.Footer,
        no_row_groups=parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        converter=pq.ParquetToSparkSchemaConverter,
        fmt=pq.ParquetFileFormat,
    )


def _footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema Spark's parquet inference gives ``path`` (a file, or
    the first data file of a directory), from one driver-side footer
    read through the Hadoop FS API: no Spark job.  The conversion is
    Spark's own (session confs, Spark's row metadata), so a
    TIMESTAMP(NANOS) column raises here as it would on a scan."""
    jc = _footer_classes(spark._jvm)
    conf = spark._jsc.hadoopConfiguration()
    hpath = jc.path(path)
    fs = hpath.getFileSystem(conf)
    if fs.getFileStatus(hpath).isDirectory():
        names = sorted(
            st.getPath().toString()
            for st in fs.listStatus(hpath)
            if not st.getPath().getName().startswith(("_", "."))
        )
        if not names:
            raise FileNotFoundError(f"{path} holds no parquet data file")
        hpath = jc.path(names[0])
    meta = jc.reader.readFooter(conf, hpath, jc.no_row_groups)
    found = jc.fmt.readSchemaFromFooter(
        jc.footer(hpath, meta),
        jc.converter(spark._jsparkSession.sessionState().conf()),
    )
    return _nullable(T.StructType.fromJson(json.loads(found.json())))


def _conformed(
    spark: SparkSession, path: str, declared: T.StructType
) -> T.StructType:
    """The read schema of ``path`` once its footer agrees with
    ``declared``: every declared column present with the declared type
    (nullability aside).  Raises ``ValueError`` otherwise.  Columns the
    file holds beyond the declaration keep their place."""
    found = _footer_schema(spark, path)
    have = {f.name: f.dataType for f in found.fields}
    bad = [
        f"{f.name} {have[f.name].simpleString() if f.name in have else 'missing'}"
        f" (declared {f.dataType.simpleString()})"
        for f in declared.fields
        if _nullable(f.dataType) != have.get(f.name)
    ]
    if bad:
        raise ValueError(
            f"{path} disagrees with its declared schema: {', '.join(bad)}"
        )
    return found


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    """S1-class scan: one logical table from the testdata directory,
    read with its declared schema (``TABLES``) — no inference job.

    One footer read checks the declaration first: a file that lacks a
    declared column or stores one as another type raises ``ValueError``
    (a TIMESTAMP(NANOS) column raises Spark's own error).  Columns
    beyond the declaration (a corpus that carries ``url``) are read as
    the file stores them.

    ``spread`` (default: on for the corpus-class tables, see
    ``_SPREAD_TABLES``) applies the scale-adaptive parallelism floor
    of ``spread_scan`` so compute-heavy consumers never serialize on a
    single-row-group local file; pass ``spread=False`` to pin the raw
    scan partitioning."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_conformed(spark, path, TABLES[name])).parquet(path)
    if spread is None:
        spread = name in _SPREAD_TABLES
    if spread:
        df = spread_scan(df)
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan (reference S1, util_functions.py:5-27).

    Explicit schema preferred — inferSchema double-scans the input,
    which is unacceptable at scale.
    """
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Replaces the reference's pickle sink (S2, data_prep.py:204-234).
    For a write the caller reads back, use ``checkpoint``."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` as a parquet scan reports it: every field, array element
    and map value nullable (Spark's file sources read ``asNullable``)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def checkpoint(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    observe: list | None = None,
):
    """Write ``df`` to ``path`` as parquet and return a read-back frame
    of what was written — the one stage hand-off of the pipelines.

    The read-back carries the schema the write just used (data columns
    first, then ``partition_by`` columns, all nullable — what a parquet
    scan reports), so opening it runs no Spark job: a plain
    ``spark.read.parquet`` would first run a one-task footer-inference
    job on a file this process wrote moments ago.  Partition columns
    keep their written type rather than the type partition discovery
    would infer from the directory names, and an empty partitioned
    write (no data file at all) reads back as an empty frame instead
    of an inference error.

    ``observe``: aggregate Columns, each aliased, evaluated on the
    write itself through a ``pyspark.sql.Observation`` — a row count
    or checksum of the checkpoint without a second action over it.
    With ``observe`` the call returns ``(frame, {alias: value})``."""
    metrics = None
    if observe:
        metrics = Observation()
        df = df.observe(metrics, *observe)
    write_parquet(df, path, partition_by)
    parts = partition_by or []
    schema = _nullable(
        T.StructType(
            [f for f in df.schema.fields if f.name not in parts]
            + [df.schema[c] for c in parts]
        )
    )
    out = df.sparkSession.read.schema(schema).parquet(path)
    return out if metrics is None else (out, metrics.get)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink (S4, post_process.py:102-103). ``single_file`` mirrors the
    reference's one-file pandas ``to_csv`` — only for small results."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed-table sink (ENGINE scope; SURVEY.md §4.3
    shuffle-minimization): pay the partitioning ONCE at write time so
    every later join/aggregate on the bucket key is exchange-free —
    the standard way to co-locate a fact table that is joined on the
    same key by many downstream queries (at 100 TB, re-shuffling the
    fact per query is the dominant cost).  ``sort_col`` additionally
    sorts within buckets, letting sort-merge joins skip their sort.

    tests/test_plans.py locks the zero-Exchange join plan."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON-lines source (ENGINE scope: the interchange format of most
    LLM-corpus drops).  Explicit schema strongly preferred — inference
    double-scans, and a 100 TB json read without a schema also silently
    widens mixed-type fields."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines sink (ENGINE scope)."""
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (ENGINE scope): the other columnar interchange format
    a Spark shop encounters (Hive-era warehouses).  Same pushdown /
    pruning behavior as parquet — Catalyst treats both as v2
    file scans with PushedFilters."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (ENGINE scope)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw-text source (ENGINE scope): one row per line, single
    ``value`` column — the ingest shape of unstructured corpus drops
    before parsing/scoring assigns structure."""
    return spark.read.text(path)


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every registry table as a temp view so users can run
    ad-hoc ``spark.sql`` over the same data the DataFrame catalog
    reads — the SQL entry point of the engine.  Views are lazy
    (metadata only); Catalyst plans SQL over them identically to the
    DataFrame API."""
    for name in TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TABLES)


def _partial_files(spark: SparkSession, dir_path: str, checkpoint) -> list[str]:
    """The data files of the ``batch_id=N`` partials under ``dir_path``
    (the ``start_batch_stage`` sink layout), listed through the Hadoop
    FileSystem API so ``file://``, ``s3a://`` and ``hdfs://`` paths
    resolve like local ones.

    Given the writing stage's ``checkpoint``, raises ``RuntimeError``
    when a batch id committed under ``<checkpoint>/commits`` has no
    partial here: reading or resuming over it would silently forget
    that batch's state."""
    from prod2vec_spark.sources.artifacts import _fs_path, list_artifacts

    fs, hpath = _fs_path(spark, f"{dir_path}/batch_id=*/*.parquet")
    files = sorted(st.getPath().toString() for st in fs.globStatus(hpath) or [])
    if checkpoint is not None:
        present = {int(f.rsplit("batch_id=", 1)[1].split("/", 1)[0]) for f in files}
        lost = sorted(
            int(n)
            for n in list_artifacts(spark, f"{checkpoint}/commits")
            if n.isdigit() and int(n) not in present
        )
        if lost:
            raise RuntimeError(
                f"checkpoint {checkpoint} has committed batches {lost} but "
                f"{dir_path} holds no batch_id=N partial for them; restore "
                "them or start from a fresh checkpoint"
            )
    return files


def read_partials(
    spark: SparkSession, dir_path: str, schema, checkpoint: str | None = None
) -> DataFrame:
    """The union of the committed ``batch_id=N`` partials under
    ``dir_path`` with their ``batch_id`` partition column, read with
    ``schema`` (DDL string or StructType) plus ``batch_id int``: no
    inference job.  One partial's footer is checked against ``schema``
    as in ``read_table``.  Before the first commit it is an empty frame
    of ``schema`` plus ``batch_id`` — never a directory created as a
    side effect.  Given the writing stage's ``checkpoint``, a committed
    batch whose partial is missing raises ``RuntimeError`` instead of
    reading as empty."""
    files = _partial_files(spark, dir_path, checkpoint)
    if not files:
        return spark.createDataFrame([], schema).withColumn(
            "batch_id", F.lit(None).cast("int")
        )
    declared = (
        schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    )
    read_schema = _conformed(spark, files[0], declared).add("batch_id", T.IntegerType())
    return spark.read.schema(read_schema).option("basePath", dir_path).parquet(dir_path)


def start_batch_stage(stream: DataFrame, per_batch, out_dirs, checkpoint: str):
    """The one door for a stateful micro-batch stage: start ``stream``
    as an availableNow drain and return the started query.

    ``per_batch(batch_df, batch_id)`` — an ordinary batch operator —
    returns one frame per entry of ``out_dirs``; the door writes them
    in that order to ``<dir>/batch_id=N`` with overwrite, so a
    replayed batch rewrites its own partials with the same rows
    (exactly-once: the file-sink ``_spark_metadata`` log does not
    cover foreachBatch).  A ``per_batch`` that reads its own earlier
    partials excludes its own batch id, for the same reason.

    Raises ``RuntimeError`` before starting when a batch committed
    under ``checkpoint`` has no partial in one of ``out_dirs``:
    resuming would build on state the lost partial held.  Read the
    partials back with ``read_partials(spark, dir, schema,
    checkpoint)``, which takes the same guard."""
    spark = stream.sparkSession
    dirs = list(out_dirs)
    for d in dirs:
        _partial_files(spark, d, checkpoint)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        for frame, d in zip(per_batch(batch_df, batch_id), dirs, strict=True):
            frame.write.mode("overwrite").parquet(f"{d}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
):
    """Checkpointed parquet streaming sink — the production file-sink
    path (the memory sink is test-only).  Exactly-once across restarts:
    the file sink records committed files in its _spark_metadata
    transaction log and the checkpoint records consumed source offsets,
    so re-starting the query with the same checkpoint neither re-reads
    nor re-writes data already committed — the standard Structured
    Streaming recovery contract (a kafka/delta sink swaps in with the
    same options; those connectors aren't in this environment).

    Drains with trigger(availableNow=True): process everything
    currently available, then stop — the batch-parity testing mode and
    the incremental-backfill production mode.  Returns the started
    StreamingQuery; callers awaitTermination()."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
