"""``catalog.load_table`` infers a parquet file's schema once and reuses
it while the file is unchanged; ``catalog.parquet_footer`` sizes a table
from its footers, keyed the same way."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_airflow_spotify_spark.catalog import load_table, parquet_footer


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


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_row_count_matches_count(spark, sf_dir, sf):
    """At each test scale factor (the directories beside ``sf_dir``)."""
    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    for name in ("documents", "lineitem"):
        rows, sizes = parquet_footer(sf_dir, name)
        df = load_table(spark, sf_dir, name)
        assert rows == df.count()
        assert set(sizes) == set(df.columns)
        assert all(n > 0 for n in sizes.values())


def test_rewritten_file_is_sized_again(tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1]}), path)
    rows, sizes = parquet_footer(str(tmp_path), "t")
    assert (rows, list(sizes)) == (1, ["k"])
    assert parquet_footer(str(tmp_path), "t") == (rows, sizes)
    pq.write_table(pa.table({"k": [2, 3, 4], "text": ["x" * 100] * 3}),
                   path)
    rows, sizes = parquet_footer(str(tmp_path), "t")
    assert (rows, list(sizes)) == (3, ["k", "text"])
    assert sizes["text"] >= 100
