"""Typed loaders for the driver's synthetic test tables.

Tables (one parquet file per table under a scale-factor dir, see
/root/repo/TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings.

The only normalization done here is the ``events.ts`` column:
the file stores parquet TIMESTAMP(NANOS) which Spark's vectorized reader
rejects, so we read the physical int64 (``spark.sql.legacy.parquet.
nanosAsLong``) and convert to TIMESTAMP_NTZ at microsecond precision —
bit-identical to what DuckDB produces for the same file.

``local_frame`` builds the other kind of input: a small frame from rows
the driver already holds (a loop's profile, a local finish's output).
"""

from __future__ import annotations

import os

import pyarrow as pa
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


# Inferred parquet schemas by (absolute path, mtime_ns, size): inferring
# one runs a Spark job (~80 ms), reading with a given schema does not.
# A rewritten file changes its key, so its schema is inferred afresh.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with oracle-compatible types. The file's
    schema is inferred on its first read and reused while the file is
    unchanged."""
    # First: nanosAsLong decides what events.ts infers as.
    configure(spark)
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
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
