"""Raw snapshot source/sink (reference S7/S8).

The reference writes one indented-JSON file per run with a timestamped
name (load.py:56-79) and re-reads it in the transform task
(dags/spotify_etl_dag.py:179-182). Here a snapshot is a 1-row DataFrame
with the explicit RAW_SNAPSHOT schema — empty or partial snapshots keep
full schema (the reference's schema-less fallback loses it).

The row is handed to the JVM as an Arrow table, so the plan root is a
``LocalRelation`` held by the JVM. A frame built from Python rows is a
``LogicalRDD`` instead: every action on it (the raw write, each table
write, the join's second read) re-runs a Python worker and Pyrolite
unpickling over the whole nested row.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..catalog import local_frame
from ..spotify.schemas import RAW_SNAPSHOT


def snapshot_from_dict(spark: SparkSession, raw: dict) -> DataFrame:
    """Wrap an extract_full_dataset()-shaped dict (extract.py:271-276)
    into a typed 1-row, JVM-resident DataFrame."""
    row = (raw.get("extraction_timestamp"), raw.get("releases", []),
           raw.get("audio_features", []), raw.get("categories", []))
    return local_frame(spark, [row], RAW_SNAPSHOT)


def write_snapshot(df: DataFrame, directory: str, run_ts: str) -> str:
    """S8: timestamp-named immutable snapshot dir (filename scheme from
    load.py:67-68, '{prefix}_{ts}')."""
    path = os.path.join(directory, f"spotify_raw_data_{run_ts}")
    df.write.mode("errorifexists").json(path)
    return path


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """S7: schema-pinned JSON read — empty/missing fields stay typed."""
    return spark.read.schema(RAW_SNAPSHOT).json(path)


def latest_snapshot_path(directory: str) -> str | None:
    """S13: newest raw snapshot by name (timestamps sort
    lexicographically; the reference sorts by mtime,
    dags/spotify_etl_dag.py:149-153)."""
    if not os.path.isdir(directory):
        return None
    runs = sorted(d for d in os.listdir(directory)
                  if d.startswith("spotify_raw_data_"))
    return os.path.join(directory, runs[-1]) if runs else None
