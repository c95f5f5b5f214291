"""Schema-enforced readers (reference SURVEY.md §2.1 S1-S6).

The reference reads PostgreSQL with psycopg2 (`extractors/database_extractor.py:23-110`)
and CSV with pandas (`extractors/csv_extractor.py:22-68`). Here every source
is declarative: Catalyst pushes filters/projections into the scan (JDBC
pushdown, Parquet predicate pushdown + column pruning), which covers the
reference's hand-written WHERE/column-list SQL (S2/S3) for free.

Every parquet table the package opens, the source tables (``load_table``)
and the indexes, models and stream state it persists, goes through
``read_parquet``: its schema is read from the parquet footer on the driver
(``footer_schema``) and declared to the reader, so opening a table launches
no Spark job (a schema-less ``spark.read.parquet`` runs one inference job per
read). ``data_entries`` answers "is the table there" with one Hadoop glob.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_warehouse_punta_fina_spark.schemas import SOURCE_SCHEMAS, TABLE_NAMES


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Open the parquet table at ``path`` (S6) under its ``footer_schema``."""
    return spark.read.schema(footer_schema(spark, path)).parquet(path)


def data_entries(spark: SparkSession, dir_glob: str) -> list:
    """Hadoop paths of the entries a parquet read sees (names not starting
    with ``_`` or ``.``) directly under every directory matching the glob
    ``dir_glob``: a table is there iff this is non-empty. One glob, no job."""
    p = spark._jvm.org.apache.hadoop.fs.Path(f"{dir_glob}/[!_.]*")
    found = p.getFileSystem(spark._jsc.hadoopConfiguration()).globStatus(p)
    return [st.getPath() for st in found or []]


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV scan (S4/S5). Prefer an explicit schema; inference is a 2nd full scan.

    Large files are split across partitions natively
    (``spark.sql.files.maxPartitionBytes``), which replaces the reference's
    chunked ``pd.read_csv(chunksize=...)`` loop (`core/batch_processor.py:345-354`).
    """
    reader = spark.read.option("header", str(header).lower()).option("encoding", "UTF-8")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan — self-describing columnar like parquet; predicate
    pushdown and column pruning work identically (`PushedFilters` in the
    plan), so the engine's scan posture is format-agnostic."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """JSON-lines scan — the interchange format crawled/labeled corpora
    actually arrive in (one JSON object per line; beyond the reference's
    CSV/parquet surface). Prefer an explicit schema: inference is a
    second full scan AND silently unions divergent shapes, where a
    declared StructType makes shape drift a loud null. Lines that do not
    parse land in ``_corrupt_record`` (PERMISSIVE default) rather than
    killing a 100 TB job."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl_tolerant(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Quarantining JSONL ingestion: (good, bad). A 100 TB crawl WILL
    contain malformed lines; PERMISSIVE mode only captures them when the
    schema declares the corrupt-record column, so this appends it, splits
    on it, and returns clean rows (column dropped) plus a quarantine
    frame of the raw offending lines — the reference's row-level
    validation quarantine (`core/data_validator.py`) at the INGESTION
    boundary instead of post-load. Spark requires caching or a
    materialization barrier before filtering on the corrupt column
    (SPARK-21610: the scan otherwise prunes the data columns the parse
    needs); the split here goes through one cached pass."""
    full = T.StructType(
        [*schema.fields, T.StructField(corrupt_col, T.StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
        .cache()
    )
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad


def read_csv_tolerant(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """CSV twin of :func:`read_jsonl_tolerant`: (good, bad) with
    malformed lines quarantined instead of killing the job — the
    reference ingests ~12 hand-maintained CSVs (`extractors/
    csv_extractor.py`), exactly the files that arrive with broken rows.
    A row is corrupt when it cannot be parsed INTO THE SCHEMA (wrong
    column count, unparseable type); the raw line lands in the
    quarantine frame."""
    full = T.StructType(
        [*schema.fields, T.StructField(corrupt_col, T.StringType())]
    )
    raw = (
        spark.read.schema(full)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
        .cache()
    )
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str | None = None,
    query: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC scan (S1-S3). Filters/projections push down to the database.

    ``partition_column`` + bounds gives a parallel read (the reference reads
    single-threaded; on a cluster a single-connection JDBC read is the
    bottleneck, so bound-partitioned reads are the default posture).
    """
    reader = spark.read.format("jdbc").option("url", url)
    if query is not None:
        reader = reader.option("query", query)
    elif table is not None:
        reader = reader.option("dbtable", table)
    else:
        raise ValueError("either table or query is required")
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


# Footer key under which Spark's parquet writer stores the row schema as JSON
# (ParquetReadSupport.SPARK_METADATA_KEY).
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# Arrow leaf types whose Spark type does not depend on the column: the
# mapping of ParquetToSparkSchemaConverter for the parquet type each is
# stored as. Unsigned ints widen; a duration is a plain INT64 in parquet.
_PRIMITIVES = (
    (pa.types.is_boolean, T.BooleanType()),
    (pa.types.is_int8, T.ByteType()),
    (pa.types.is_int16, T.ShortType()),
    (pa.types.is_int32, T.IntegerType()),
    (pa.types.is_int64, T.LongType()),
    (pa.types.is_uint8, T.ShortType()),
    (pa.types.is_uint16, T.IntegerType()),
    (pa.types.is_uint32, T.LongType()),
    (pa.types.is_uint64, T.DecimalType(20, 0)),
    (pa.types.is_float32, T.FloatType()),
    (pa.types.is_float64, T.DoubleType()),
    (pa.types.is_date, T.DateType()),
    (pa.types.is_duration, T.LongType()),
    (pa.types.is_null, T.IntegerType()),
)


def _data_files(path: str) -> tuple[pafs.FileSystem, str, list[str]]:
    """``path`` on its filesystem and the data files a read of it scans, in
    path order: ``path`` itself, or every file below it with no component
    Spark's file index hides (``_SUCCESS``, ``_temporary``, ``.crc``; a
    ``_``-name holding ``=`` is a partition directory)."""
    if "://" in path:
        fs, local = pafs.FileSystem.from_uri(path)
    else:
        fs, local = pafs.LocalFileSystem(), os.path.abspath(path)
    local = local.rstrip("/")
    info = fs.get_file_info(local)
    if info.type == pafs.FileType.File:
        return fs, local, [local]
    if info.type != pafs.FileType.Directory:
        raise FileNotFoundError(f"parquet path does not exist: {path}")
    files = sorted(
        f.path
        for f in fs.get_file_info(pafs.FileSelector(local, recursive=True))
        if f.type == pafs.FileType.File
        and not any(
            c.startswith(".") or (c.startswith("_") and "=" not in c)
            for c in f.path[len(local) + 1 :].split("/")
        )
    )
    if not files:
        raise ValueError(f"{path}: directory holds no parquet data file")
    return fs, local, files


def _partition_fields(path: str, local: str, files: list[str]) -> list[T.StructField]:
    """The ``k=<int>`` directory columns between ``local`` and its ``files``,
    typed as Spark's partition inference types them (``IntegerType`` if
    every value fits 32 bits, else ``LongType``); any other raises."""
    values: dict[str, list[int]] = {}
    for d in dict.fromkeys(d for f in files for d in f[len(local) + 1 :].split("/")[:-1]):
        column, eq, value = d.partition("=")
        if not (eq and re.fullmatch(r"[+-]?[0-9]+", value) and -(2**63) <= int(value) < 2**63):
            raise ValueError(f"{path}: partition directory {d!r} of column {column!r} is not <column>=<int>")
        values.setdefault(column, []).append(int(value))
    return [
        T.StructField(c, T.IntegerType() if all(-(2**31) <= v < 2**31 for v in vs) else T.LongType())
        for c, vs in values.items()
    ]


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` would infer, read from one
    parquet footer on the driver instead of by a Spark job, followed by
    the partition columns of the directories below ``path``
    (``_partition_fields``; a read of ``…/epoch=N`` gets no ``epoch``).

    A Spark-written file carries its row schema as JSON in the footer; it
    is used as is (``ParquetFileFormat.readSchemaFromFooter``). Any other
    file's arrow schema is mapped the way ``ParquetToSparkSchemaConverter``
    maps the parquet types behind it, under the session's
    ``inferTimestampNTZ`` and ``binaryAsString`` confs and with
    ``nanosAsLong`` on (``load_table`` sets it). The footer is read on
    every call, so a rewritten file is seen. Raises ``ValueError`` naming
    the column and its type when Spark has no mapping for it."""
    fs, local, files = _data_files(path)
    partitions = _partition_fields(path, local, files)
    with pq.ParquetFile(files[0], filesystem=fs) as pf:
        row_schema = (pf.metadata.metadata or {}).get(_SPARK_ROW_METADATA)
        arrow_schema = pf.schema_arrow
        physical_types = [c.physical_type for c in pf.schema]
    if row_schema is not None:
        return T.StructType(T.StructType.fromJson(json.loads(row_schema)).fields + partitions)
    conf = spark.conf
    infer_ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
    binary_as_string = conf.get("spark.sql.parquet.binaryAsString", "false") == "true"
    # one parquet leaf per arrow leaf, in the same depth-first order
    leaves = iter(physical_types)

    def convert(t: pa.DataType, column: str) -> T.DataType:
        if pa.types.is_dictionary(t):
            return convert(t.value_type, column)
        if pa.types.is_struct(t):
            return T.StructType(
                [T.StructField(f.name, convert(f.type, f"{column}.{f.name}")) for f in t]
            )
        if pa.types.is_map(t):
            return T.MapType(
                convert(t.key_type, f"{column}.key"), convert(t.item_type, f"{column}.value")
            )
        if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
            return T.ArrayType(convert(t.value_type, f"{column}.element"))
        physical = next(leaves)
        if pa.types.is_timestamp(t):
            if physical == "INT96":
                return T.TimestampType()
            if t.unit == "ns":
                return T.LongType()
            if t.tz is not None or not infer_ntz:
                return T.TimestampType()
            return T.TimestampNTZType()
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return T.StringType()
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return T.StringType() if binary_as_string else T.BinaryType()
        if pa.types.is_fixed_size_binary(t):
            return T.BinaryType()
        if pa.types.is_decimal(t) and t.precision <= 38:  # DecimalType.MAX_PRECISION
            return T.DecimalType(t.precision, t.scale)
        for is_type, spark_type in _PRIMITIVES:
            if is_type(t):
                return spark_type
        raise ValueError(f"{path}: column {column!r} has arrow type {t}, which Spark cannot read")

    return T.StructType([T.StructField(f.name, convert(f.type, f.name)) for f in arrow_schema] + partitions)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one source table, launching no Spark job.

    The scan's schema comes from the table's parquet footer
    (``footer_schema``), read on the driver, and is declared to the reader;
    a schema-less read would run one inference job per call. The schema is
    the file's own, not SOURCE_SCHEMAS: a table may hold a subset of the
    declared columns.

    The testdata parquet has stored timestamps under two encodings across
    rounds; columns declared TimestampType in SOURCE_SCHEMAS are normalized
    here so downstream operators always see TIMESTAMP regardless of how the
    files were written:

    - ``TIMESTAMP(NANOS)``: Spark reads raw int64 nanos under
      ``spark.sql.legacy.parquet.nanosAsLong`` → converted via
      micros = nanos div 1000 (integer division, NOT ``/1000``:
      long→double loses precision above 2^53, corrupting micros by ±1).
    - ``timestamp[us]`` without timezone: Spark reads TIMESTAMP_NTZ →
      cast to TIMESTAMP (value-preserving under the session's pinned
      UTC timezone; both are micros-since-epoch wall-clock UTC).

    Both coercions are cheap projections that stay in codegen.
    """
    if name not in SOURCE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # runtime-settable SQL conf: required for TIMESTAMP(NANOS) parquet even
    # when the caller supplies its own SparkSession (e.g. the driver)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    declared = {f.name: f.dataType for f in SOURCE_SCHEMAS[name].fields}
    actual = {f.name: f.dataType for f in df.schema.fields}
    for c, want in declared.items():
        got = actual.get(c)
        if not isinstance(want, T.TimestampType):
            continue
        if isinstance(got, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(got, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
