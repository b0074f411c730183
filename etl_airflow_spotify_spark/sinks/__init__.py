"""File sinks + latest-pointer publish (reference S8-S12).

The reference writes one CSV/parquet per table with a timestamped name
(load.py:81-121) and maintains ``{name}_latest.csv`` symlinks — always
``.csv`` even for parquet output, a latent bug (load.py:181). Here the
"latest" pointer is a view over the newest timestamped path:
format-agnostic and atomic (view replacement), which is also the
pattern that works on object stores where symlinks don't exist.

The table writes run concurrently. Every pipeline table is read from
the 1-row snapshot ``LocalRelation``, so each write is a one-task job:
written one after another they keep one core busy and the run pays each
job's fixed overhead in turn. Each write runs on its own thread and
inherits the caller's job group, local properties and tags.

The views carry the schema the pipeline wrote, so publishing reads no
file to infer one and launches no Spark job. CSV views therefore carry
the table's types, not inferred ones.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

FORMATS = ("csv", "parquet", "json")


def _write(df: DataFrame, path: str, fmt: str) -> None:
    writer = df.write.mode("errorifexists").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    writer.save(path)


def save_tables(tables: dict[str, DataFrame], directory: str, run_ts: str,
                fmt: str = "parquet") -> dict[str, str]:
    """S9/S10: write every table under a timestamped dir. Unknown format
    raises (load.py:112-113). Unlike the reference (load.py:100-102),
    empty tables ARE written — schema-complete empty output beats a
    missing file downstream.

    The writes run at once, one thread per table. All of them finish
    before this returns; then the first failure in table order is
    raised."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format: {fmt!r} (use one of {FORMATS})")
    paths = {name: os.path.join(directory, f"{name}_{run_ts}")
             for name in tables}
    if not tables:
        return paths
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        # Wrapped once per write: each thread gets its own copy of the
        # caller's local properties, since a write sets its SQL
        # execution id in them.
        futures = [
            pool.submit(inheritable_thread_target(df.sparkSession)(_write),
                        df, paths[name], fmt)
            for name, df in tables.items()]
    for future in futures:
        future.result()
    return paths


def publish_latest(spark: SparkSession, paths: dict[str, str],
                   schemas: dict[str, StructType],
                   fmt: str = "parquet") -> dict[str, str]:
    """S12: expose each newest artifact as ``{name}_latest`` (temp view
    here; ``CREATE OR REPLACE VIEW``/saveAsTable on a metastore deploy),
    read with the schema it was written with (``schemas[name]``).
    Replacement is atomic; readers never see a half-written pointer."""
    views = {}
    for name, path in paths.items():
        reader = spark.read.format(fmt).schema(schemas[name])
        if fmt == "csv":
            reader = reader.option("header", True)
        view = f"{name}_latest"
        reader.load(path).createOrReplaceTempView(view)
        views[name] = view
    return views
