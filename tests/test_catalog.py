"""``catalog.load_table`` infers a parquet file's schema once and reuses
it while the file is unchanged."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from etl_airflow_spotify_spark.catalog import load_table


def test_second_load_reuses_the_inferred_schema(spark, tmp_path, jobs_of):
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}),
                   tmp_path / "t.parquet")
    first, first_jobs = jobs_of(
        "load-first", lambda: load_table(spark, str(tmp_path), "t"))
    second, second_jobs = jobs_of(
        "load-second", lambda: load_table(spark, str(tmp_path), "t"))
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(1, "a"), (2, "b")]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [2], "extra": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert [tuple(r) for r in df.collect()] == [(2, "x")]
