"""Sources & sinks (SURVEY.md §2.1, S1–S12).

The reference's source surface is InputFormats (Text/Csv/Binary/Collection/
Generic, plus addons) driven by ``DataSourceTask``; sinks are OutputFormats
driven by ``DataSinkTask`` with optional global ordering. Spark's reader/
writer framework subsumes the split handling, parallel enumeration and
format parsing, so the engine's source layer is: typed parquet loaders for
the fixture tables, and thin text/csv/collection readers mirroring the
reference API names.

The parquet footer is the one source of truth for a fixture table's
schema. Inferring it costs a Spark job per read, so :func:`load_table`
infers once per file version and reads every later call with the
remembered schema: a metadata memo keyed on the file's path, size and
mtime and the inference confs. It never holds data, and a rewritten file
is inferred again.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The driver-generated fixture tables (FIXTURES.md §1).
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Session confs that change the schema Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: path -> (its footer stamp, the schema inferred from its footer). One
#: entry per path: a rewritten file or a changed conf replaces it. Two
#: threads loading a new file at once both infer and store equal entries.
_FOOTER_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}

#: Columns stored as TIMESTAMP(NANOS) in the fixture parquet; read via
#: spark.sql.legacy.parquet.nanosAsLong (set in session.RUNTIME_CONF) and
#: normalized to microsecond timestamps here.
_NANOS_TS_COLUMNS = frozenset({"ts"})


def _footer_stamp(spark: SparkSession, path: str) -> tuple | None:
    """What the schema inferred from ``path`` depends on: the file's size
    and mtime and the inference confs. None when ``os.stat`` cannot see
    ``path`` as one regular file."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_size, st.st_mtime_ns, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S4-equivalent: the engine's binary batch source is parquet.

    Reference: BinaryInputFormat / SerializedInputFormat block sources
    (``api/common/io/BinaryInputFormat.java``, SURVEY §2.1 S4). Parquet is
    the engine's replacement: columnar, splittable, predicate-pushdown.

    The first read of a file infers its schema from the footer (one Spark
    job); later reads of the same file version pass that schema to the
    reader and run no job. Paths ``os.stat`` cannot see as one regular
    file (URI schemes, directory datasets) infer on every call.

    NANOS-precision timestamp columns (which Spark's vectorized reader
    rejects) are read as raw long nanos and truncated toward zero to
    microsecond timestamps — the same truncation DuckDB applies reading the
    file (pre-1970 values included), so downstream semantics agree across
    engines.
    """
    path = f"{sf_dir}/{name}.parquet"
    stamp = _footer_stamp(spark, path)
    seen, schema = _FOOTER_SCHEMAS.get(path, (None, None))
    # format().load(path) is what read.parquet(path) runs, without the
    # py4j round trips of converting a path list (~2 ms of ~10 per call).
    reader = spark.read.format("parquet")
    if stamp is None or seen != stamp:
        df = reader.load(path)
        schema = df.schema
        if stamp is not None:
            _FOOTER_SCHEMAS[path] = (stamp, schema)
    else:
        df = reader.schema(schema).load(path)
    for field in schema.fields:
        if isinstance(field.dataType, T.LongType) and field.name in _NANOS_TS_COLUMNS:
            df = df.withColumn(
                field.name, F.expr(f"timestamp_micros({field.name} div 1000)")
            )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL entry point."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """S1: TextInputFormat — lines of a file as single-string records.

    Reference: ``api/common/io/DelimitedInputFormat`` + ``TextInputFormat``
    driven by ``DataSourceTask`` (SURVEY §2.1 S1). Spark's text source
    handles splits, directory enumeration and compression natively.
    """
    return spark.read.text(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    sep: str = ",",
    included_fields: list[str] | None = None,
    header: bool = False,
) -> DataFrame:
    """S2: CsvInputFormat — delimited parse with projection mask.

    Reference: ``api/common/io/GenericCsvInputFormat`` + ``CsvReader``
    ``includedFields`` mask (SURVEY §2.1 S2); the mask maps to a
    ``select`` which Catalyst pushes into the scan as column pruning.
    """
    df = spark.read.csv(path, schema=schema, sep=sep, header=header)
    if included_fields is not None:
        df = df.select(*included_fields)
    return df


def read_csv_robust(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    sep: str = ",",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S2 at 100 TB: permissive CSV parse that QUARANTINES bad rows
    instead of failing the job (reference: GenericCsvInputFormat's
    lenient/skip-invalid-lines flags).

    Malformed lines land whole in ``corrupt_col`` with the typed columns
    NULL; callers split the frame (`WHERE corrupt_col IS NULL` vs NOT)
    into clean data + a quarantine sink. At scale a single bad record
    must never kill a million-task job — this is the default posture the
    engine recommends for ingest.
    """
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt_col, T.StringType())])
    df = spark.read.csv(
        path,
        schema=full,
        sep=sep,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=corrupt_col,
    )
    # Spark refuses queries that reference ONLY the internal corrupt
    # column on a raw scan (the parser would have nothing to parse);
    # caching materializes the parsed form and lifts the restriction so
    # callers can split clean/quarantine freely.
    return df.cache()


def load_table_evolved(
    spark: SparkSession, paths: list[str], merge_schema: bool = True
) -> DataFrame:
    """Schema-evolution read: one logical table from parquet files written
    at different schema versions (columns added over time). With
    ``mergeSchema`` Spark unions the field sets; missing columns read as
    NULL — the standard posture for years of accumulated 100 TB data
    where rewriting old files is off the table.
    """
    return spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(*paths)


#: Above this row count local_rows falls back to createDataFrame — a
#: hundred-thousand-literal expression tree costs Catalyst more to compile
#: than the Python-worker upload costs to run.
_LOCAL_ROWS_MAX = 4096


def local_rows(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Small-collection source with NO Python execution path.

    ``createDataFrame(list)`` ships rows through pickled Python RDD
    partitions: defaultParallelism tasks, each launching (or waking) a
    Python worker — measured ~1.3 s per COLD worker, i.e. ~45 s of
    executor time for a 2-row fractions dim at 32 cores (engine-metrics
    finding, round 3; invisible in wall clock because the tasks run in
    parallel). Broadcast dims are built constantly — sampling fractions,
    mixture weights, partition offsets — so the engine's small-dim path
    must never touch Python.

    Here the rows become ONE JVM literal — explode(array(struct…)) over
    a one-split range(1) — a single task, zero Python workers, and a
    relation small enough that Catalyst broadcasts it directly. Values
    must be plain scalars (str/int/float/bool/None/date/Decimal); a row
    whose arity differs from the schema's raises. Empty input is a
    typed projection over a one-split range(0). Falls back to
    createDataFrame above _LOCAL_ROWS_MAX rows (plan-compile cost
    crosses over).
    """
    st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    values = [row if isinstance(row, (tuple, list)) else (row,) for row in rows]
    for row, vals in zip(rows, values):
        if len(vals) != len(st.fields):
            # a short row would read its missing columns back as NULL —
            # e.g. a NULL event-time sentinel that never advances a
            # watermark — so fail here instead
            raise ValueError(
                f"local_rows: row {row!r} has {len(vals)} values for"
                f" {len(st.fields)} schema fields"
            )
    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
        )
    if len(rows) > _LOCAL_ROWS_MAX:
        return spark.createDataFrame(rows, schema=schema)
    structs = [
        F.struct(*[F.lit(v).alias(f.name) for v, f in zip(vals, st.fields)])
        for vals in values
    ]
    return spark.range(0, 1, 1, 1).select(
        F.explode(F.array(*structs)).alias("__r")
    ).select(*[F.col(f"__r.{f.name}").cast(f.dataType).alias(f.name) for f in st.fields])


def from_elements(spark: SparkSession, rows: list, schema) -> DataFrame:
    """S5: CollectionInputFormat / fromElements — local collection source.

    Scalar-tuple collections take the JVM-literal path (local_rows);
    nested/complex rows fall back to createDataFrame.
    """
    try:
        return local_rows(spark, rows, schema)
    except Exception:
        return spark.createDataFrame(rows, schema=schema)


def generate_sequence(spark: SparkSession, start: int, end: int) -> DataFrame:
    """S5: ExecutionEnvironment.generateSequence(from, to) — inclusive ends.

    ``spark.range`` is the distributed equivalent (end-exclusive, hence +1);
    column named ``id`` like Spark convention.
    """
    return spark.range(start, end + 1)


def write_sorted(df: DataFrame, path: str, order_cols: list[str], fmt: str = "parquet") -> None:
    """S12: sink with global order (FileDataSink.setGlobalOrder).

    Reference range-partitions by a ``DataDistribution`` then sorts locally
    so concatenated output files form a total order (SURVEY §2.1 S12).
    Spark: ``orderBy`` produces exactly that physical shape
    (range-partition exchange + per-partition sort); file N's rows all
    precede file N+1's.
    """
    df.orderBy(*order_cols).write.format(fmt).mode("overwrite").save(path)


def write_shards(df: DataFrame, num_shards: int, path: str, fmt: str = "parquet") -> None:
    """Training-shard writer: exactly ``num_shards`` evenly-sized output
    files via round-robin repartition (the layout data loaders expect —
    shard count decoupled from upstream partitioning, no skew from the
    last shuffle's key distribution)."""
    df.repartition(num_shards).write.format(fmt).mode("overwrite").save(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    max_files_per_partition: int | None = 1,
) -> None:
    """Hive-style partitioned sink (`path/col=value/...`) — the 100 TB
    layout that turns downstream predicate filters on ``partition_cols``
    into directory pruning (zero I/O for excluded partitions).

    By default rows are repartitioned on the partition columns first so
    each output partition is written by few tasks (without it, every task
    holding any value of the column opens a file in every directory —
    the classic small-files explosion at scale). Pass
    ``max_files_per_partition=None`` to keep upstream partitioning.
    Partition columns should be low-cardinality; high-cardinality keys
    belong in bucketed layouts (see tests/test_bucketing.py).
    """
    out = df
    if max_files_per_partition is not None:
        out = df.repartition(*[F.col(c) for c in partition_cols])
    out.write.partitionBy(*partition_cols).format(fmt).mode("overwrite").save(path)
