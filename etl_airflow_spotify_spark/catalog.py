"""Typed loaders for the driver's synthetic test tables.

Tables (one parquet file per table under a scale-factor dir, see
/root/repo/TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings.

The only normalization done here is the ``events.ts`` column:
the file stores parquet TIMESTAMP(NANOS) which Spark's vectorized reader
rejects, so we read the physical int64 (``spark.sql.legacy.parquet.
nanosAsLong``) and convert to TIMESTAMP_NTZ at microsecond precision —
bit-identical to what DuckDB produces for the same file.

``parquet_footer`` sizes a table from its parquet footers (row count,
uncompressed bytes per column) with no Spark job, so a query can choose
a driver-side finish before it plans anything; ``read_columns`` then
reads the columns that finish needs on the driver, again with no Spark
job.

``local_frame`` builds the other kind of input: a small frame from rows
the driver already holds (a loop's profile, a local finish's output).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .session import configure

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


FileKey = tuple[str, int, int]

# Inferred parquet schemas and footer sizes by (absolute path, mtime_ns,
# size): inferring a schema runs a Spark job (~80 ms), reading with a
# given schema does not. A rewritten file changes its key, so both are
# read afresh.
_SCHEMAS: dict[FileKey, StructType] = {}
_FOOTERS: dict[FileKey, tuple[int, dict[str, int]]] = {}


def _file_key(sf_dir: str, name: str) -> FileKey:
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    st = os.stat(path)
    return path, st.st_mtime_ns, st.st_size


def parquet_footer(sf_dir: str, name: str) -> tuple[int, dict[str, int]]:
    """``(rows, {column: uncompressed bytes})`` of one test table, summed
    over its row groups' footer metadata. Reads only the footer: no
    Spark job, no data pages."""
    key = _file_key(sf_dir, name)
    if key not in _FOOTERS:
        meta = pq.ParquetFile(key[0]).metadata
        paths = [meta.schema.column(c).path for c in range(meta.num_columns)]
        sizes = dict.fromkeys(paths, 0)
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            for c, path in enumerate(paths):
                sizes[path] += group.column(c).total_uncompressed_size
        _FOOTERS[key] = (meta.num_rows, sizes)
    return _FOOTERS[key]


def read_columns(sf_dir: str, name: str, columns: list[str],
                 dictionary: tuple[str, ...] = ()) -> pa.Table:
    """The named ``columns`` of one test table as an Arrow table, read on
    the driver by one ``pq.read_table``: no Spark job. For inputs a
    footer (``parquet_footer``) has already sized to fit; nothing is
    memoized, so the driver holds the data only while the caller does.
    Columns named in ``dictionary`` come back dictionary-encoded, each
    distinct value held once. ``events`` is refused: its ``ts`` needs
    ``load_table``'s normalization."""
    if name == "events":
        raise ValueError("events must be read with load_table")
    return pq.read_table(_file_key(sf_dir, name)[0], columns=columns,
                         read_dictionary=list(dictionary))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with oracle-compatible types. The file's
    schema is inferred on its first read and reused while the file is
    unchanged."""
    # First: nanosAsLong decides what events.ts infers as.
    configure(spark)
    key = _file_key(sf_dir, name)
    path = key[0]
    if key in _SCHEMAS:
        df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMAS[key] = df.schema
    if name == "events":
        # The driver has generated events.ts two ways across rounds:
        # parquet TIMESTAMP(NANOS) (read as int64 via nanosAsLong) and
        # plain TIMESTAMP(MICROS). Normalize both to TIMESTAMP_NTZ
        # micros — bit-identical to DuckDB's read of the same file.
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            # Integer DIV, not `/`: float division loses low bits at
            # 1e18 nanos.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition to full parallelism when the input arrived in
    fewer splits than cores — applied BEFORE expensive per-row work
    (shingling, tokenizing, hashing) so that work parallelizes even when
    a small test file reads as one split. No-op shape at real scale,
    where scans already produce >= cores partitions.

    Gated on ``inputFiles()`` (a file listing), NOT
    ``df.rdd.getNumPartitions()``: the RDD conversion materializes the
    physical plan at query-BUILD time, driver-side work paid on every
    plan construction. File count under-estimates split count (big
    files split further by maxPartitionBytes), so this only ever errs
    toward repartitioning — and once file count reaches core count the
    shuffle is correctly skipped."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        return df.repartition(target, key)
    return df


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: StructType | str) -> DataFrame:
    """A frame over driver-held tuple ``rows``, handed to the JVM as an
    Arrow table so the plan root is a ``LocalRelation``. Built from the
    Python rows directly, it would be a ``LogicalRDD`` instead, and
    every action on it would start a Python worker to unpickle them."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema=schema)


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Expose the test tables as temp views for spark.sql queries."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
