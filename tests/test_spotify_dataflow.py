"""Golden tests for the Spotify dataflow (SURVEY.md §2.A parity),
covering every edge case the reference handles: null audio-feature
elements, albums with no artists, null artist details, empty images,
variable-precision release dates, unknown track artists, empty inputs,
and the tracks<->features left join."""

from __future__ import annotations

import collections
import os
import threading
from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from etl_airflow_spotify_spark.sinks import publish_latest, save_tables
from etl_airflow_spotify_spark.sources.spotify_rest import (
    FakeSpotifyClient, extract_full_dataset)
from etl_airflow_spotify_spark.sources.snapshot import snapshot_from_dict
from etl_airflow_spotify_spark.spotify import schemas
from etl_airflow_spotify_spark.spotify.normalize import (
    merge_tracks_features, release_date_parsed, snapshot_tables)

RUN_DATE = "2026-08-13"


@pytest.fixture(scope="module")
def tables(spark):
    raw = extract_full_dataset(FakeSpotifyClient(), limit=50,
                               run_ts="2026-08-13T00:00:00+00:00")
    snap = snapshot_from_dict(spark, raw)
    return snapshot_tables(snap, run_date=RUN_DATE)


def test_albums_shape_and_edges(tables):
    albums = {r.album_id: r for r in tables["albums"].collect()}
    assert len(albums) == 12
    assert [f.name for f in tables["albums"].schema.fields] == \
           [f.name for f in schemas.ALBUMS.fields]
    # album 1 has no artists -> null main artist (transform.py:51-52 guard)
    assert albums["alb001"].main_artist_id is None
    assert albums["alb001"].artist_genres == ""  # null detail -> [] -> ""
    # album 2 has no images -> null image_url (extract.py:245-246)
    assert albums["alb002"].image_url is None
    # art003 lookup fails -> null detail -> empty genres (transform.py:53)
    a3 = [a for a in albums.values() if a.main_artist_id == "art003"]
    assert a3 and all(a.artist_genres == "" for a in a3)
    # genres comma-joined for a healthy album (transform.py:66)
    healthy = albums["alb000"]
    assert healthy.artist_genres and ", " in healthy.artist_genres
    # popularity default 0 when API omits it (extract.py:240)
    assert albums["alb004"].popularity == 0
    assert str(healthy.extraction_date) == RUN_DATE


def test_tracks_explode_accounting(tables):
    tracks = tables["tracks"]
    # every album contributed exactly total_tracks rows (P4 accounting)
    per_album = {r.album_id: r.n for r in
                 tracks.groupBy("album_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_album.values()) == {4} and len(per_album) == 12
    # missing artist name -> "Unknown Artist" (transform.py:77)
    t01 = tracks.filter(F.col("track_id") == "trk000_1").collect()[0]
    assert t01.artists == "Unknown Artist"
    # map access external_urls.spotify (transform.py:86)
    assert t01.spotify_url == "https://open.example/trk000_1"


def test_audio_features_null_elements_dropped(tables):
    feats = tables["audio_features"]
    # every 4th track (suffix _3) returns null from the API (P8)
    assert feats.count() == 12 * 3
    assert feats.filter(F.col("track_id").isNull()).count() == 0


def test_merge_left_join_semantics(tables):
    merged = tables["tracks_with_features"]
    assert merged.count() == tables["tracks"].count()  # left join row parity
    # unmatched tracks carry nulls, not dropped rows (J3 decision)
    unmatched = merged.filter(F.col("danceability").isNull())
    assert unmatched.count() == 12  # the _3 tracks
    # single extraction_date column survives the merge (P12/P13)
    assert merged.columns.count("extraction_date") == 1


def test_categories_real_flatten(tables):
    # the reference stubs categories to empty (transform.py:177); we don't
    cats = tables["categories"].collect()
    assert {c.category_id for c in cats} == {f"cat{i}" for i in range(6)}


def test_empty_snapshot_keeps_schema(spark):
    empty = snapshot_from_dict(spark, {"extraction_timestamp": "t"})
    t = snapshot_tables(empty, run_date=RUN_DATE)
    for name, expected in [("albums", schemas.ALBUMS), ("tracks", schemas.TRACKS),
                           ("audio_features", schemas.AUDIO_FEATURES),
                           ("categories", schemas.CATEGORIES)]:
        assert t[name].count() == 0
        assert [f.name for f in t[name].schema.fields] == \
               [f.name for f in expected.fields], name


def test_merge_with_empty_features_keeps_left(spark, tables):
    # SQL semantics where the reference bails out (transform.py:152-154)
    empty_feats = tables["audio_features"].filter(F.lit(False))
    merged = merge_tracks_features(tables["tracks"], empty_feats)
    assert merged.count() == tables["tracks"].count()
    assert merged.filter(F.col("tempo").isNotNull()).count() == 0


def test_release_date_parsing(spark):
    df = spark.createDataFrame(
        [("2025",), ("2025-03",), ("2025-03-19",), (None,)], ["d"])
    parsed = [str(r.p) if r.p else None for r in
              df.select(release_date_parsed(F.col("d")).alias("p")).collect()]
    assert parsed == ["2025-01-01", "2025-03-01", "2025-03-19", None]


def test_pipeline_end_to_end(spark, tmp_path):
    from etl_airflow_spotify_spark.spotify.pipeline import (PipelineConfig,
                                                            run)

    cfg = PipelineConfig(output_dir=str(tmp_path), fmt="parquet", limit=5)
    res = run(spark, FakeSpotifyClient(), cfg, run_ts="20260813T000000",
              run_date=RUN_DATE)
    assert res.status == "success", res.error
    assert res.stats["albums"] == 5 and res.stats["tracks"] == 20
    # latest views are queryable (S12)
    assert spark.table("albums_latest").count() == 5
    # idempotency: same run_ts refuses to double-write
    res2 = run(spark, FakeSpotifyClient(), cfg, run_ts="20260813T000000")
    assert res2.status == "failed"


def test_run_reports_phase_seconds(spark, tmp_path):
    from etl_airflow_spotify_spark.spotify.pipeline import (PipelineConfig,
                                                            run)

    cfg = PipelineConfig(output_dir=str(tmp_path), limit=5)
    res = run(spark, FakeSpotifyClient(), cfg, run_ts="phases",
              run_date=RUN_DATE)
    assert res.status == "success", res.error
    assert set(res.phases) == {"extract", "snapshot", "write_snapshot",
                               "normalize", "save", "publish"}
    assert all(sec >= 0 for sec in res.phases.values()), res.phases
    assert sum(res.phases.values()) <= res.elapsed_sec


@contextmanager
def _job_group(sc, group):
    """Run the block under job group ``group``; yield a function that
    returns the group's jobs once the listener bus has caught up."""
    previous = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return [sc.statusTracker().getJobInfo(j)
                for j in sc.statusTracker().getJobIdsForGroup(group)]

    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", previous)


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json"])
def test_latest_views_carry_written_schema(spark, tables, tmp_path, fmt):
    """Each ``{name}_latest`` view has the written table's column names
    and types (CSV included: no inferred types), holds its rows, and
    publishing launches no Spark job."""
    paths = save_tables(tables, str(tmp_path), "pub", fmt=fmt)
    with _job_group(spark.sparkContext, f"publish-{fmt}") as jobs:
        views = publish_latest(
            spark, paths, {n: df.schema for n, df in tables.items()}, fmt=fmt)
    assert jobs() == []
    for name, df in tables.items():
        view = spark.table(views[name])
        assert [(f.name, f.dataType) for f in view.schema] == \
               [(f.name, f.dataType) for f in df.schema], name
        assert collections.Counter(map(tuple, view.collect())) == \
               collections.Counter(map(tuple, df.collect())), name


def test_save_tables_concurrent_writes_finish_before_raising(spark, tables,
                                                             tmp_path):
    """The concurrent writes keep the caller's job group; a failed write
    is raised only after every other write has finished and every pool
    thread has exited, and the first failure in table order wins."""
    from etl_airflow_spotify_spark.spotify.pipeline import (PipelineConfig,
                                                            run)

    out = str(tmp_path / "processed")
    with _job_group(spark.sparkContext, "sink-concurrent") as jobs:
        save_tables(tables, out, "ok")
    assert len(jobs()) >= len(tables) == 5

    for name in ("categories", "tracks_with_features"):
        os.makedirs(os.path.join(out, f"{name}_dup"))
    threads = threading.active_count()
    with _job_group(spark.sparkContext, "sink-failing") as jobs:
        with pytest.raises(AnalysisException, match="categories_dup"):
            save_tables(tables, out, "dup")
    assert threading.active_count() == threads
    for name in ("albums", "tracks", "audio_features"):
        assert os.path.exists(os.path.join(out, f"{name}_dup", "_SUCCESS"))
    assert {job.status for job in jobs()} == {"SUCCEEDED"}

    # Every table path of run "dup" now exists; the run fails in the sink.
    cfg = PipelineConfig(output_dir=str(tmp_path), save_raw=False)
    res = run(spark, FakeSpotifyClient(), cfg, run_ts="dup", run_date=RUN_DATE)
    assert res.status == "failed" and "albums_dup" in res.error, res.error
    assert threading.active_count() == threads


def _run_within(timeout, *args, **kwargs):
    """``pipeline.run`` on a daemon thread: a run whose observed stats
    never arrive fails the test instead of hanging the suite."""
    from etl_airflow_spotify_spark.spotify.pipeline import run

    out = []
    worker = threading.Thread(target=lambda: out.append(run(*args, **kwargs)),
                              daemon=True)
    worker.start()
    worker.join(timeout)
    assert out, f"pipeline.run did not return within {timeout}s"
    return out[0]


@pytest.mark.parametrize("fmt,empty", [("parquet", False), ("csv", False),
                                       ("json", False), ("parquet", True)])
def test_observed_stats_equal_count(spark, tmp_path, monkeypatch, fmt, empty):
    """Run stats come from metrics observed during the write pass; each
    must equal a fresh count of the table that pass wrote, including on
    an empty extract (no hang waiting for metrics)."""
    from etl_airflow_spotify_spark.spotify import pipeline

    if empty:
        monkeypatch.setattr(pipeline, "extract_full_dataset",
                            lambda *a, **k: {"extraction_timestamp": "t"})
    cfg = pipeline.PipelineConfig(output_dir=str(tmp_path), fmt=fmt)
    res = _run_within(300, spark, FakeSpotifyClient(), cfg,
                      run_ts=f"obs_{fmt}_{empty}", run_date=RUN_DATE)
    assert res.status == "success", res.error
    names = ("albums", "tracks", "audio_features", "categories",
             "tracks_with_features")
    assert set(res.stats) == set(names)
    for name in names:
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", True)
        assert res.stats[name] == reader.load(res.paths[name]).count(), name
    if empty:
        assert set(res.stats.values()) == {0}
    else:
        assert res.stats["tracks"] == res.stats["tracks_with_features"] == 48


def _snapshot_row(raw):
    return {"extraction_timestamp": raw.get("extraction_timestamp"),
            "releases": raw.get("releases", []),
            "audio_features": raw.get("audio_features", []),
            "categories": raw.get("categories", [])}


@pytest.mark.parametrize("raw", [
    extract_full_dataset(FakeSpotifyClient(seed=42), limit=50,
                         run_ts="2026-08-13T00:00:00+00:00"),
    {"extraction_timestamp": "t"},
], ids=["seed42", "empty"])
def test_snapshot_is_jvm_local_relation(spark, raw):
    """The snapshot is an Arrow-built LocalRelation, not a LogicalRDD
    that re-runs a Python worker on every action, and it holds exactly
    the rows a row-built frame of the same dict holds."""
    snap = snapshot_from_dict(spark, raw)
    plan = snap._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    ref = spark.createDataFrame([_snapshot_row(raw)], schemas.RAW_SNAPSHOT)
    assert snap.schema == ref.schema
    assert snap.collect() == ref.collect()
    assert snap.toJSON().collect() == ref.toJSON().collect()


def test_run_summary_notification_golden():
    """O6 message formatter parity (reference
    dags/spotify_etl_dag.py:276-322): extraction + transformation
    sections, zero-defaults, timestamp line."""
    from etl_airflow_spotify_spark.spotify.pipeline import (RunResult,
                                                            format_run_summary)

    res = RunResult(status="success", run_ts="20260814T000000",
                    stats={"albums": 5, "tracks": 20, "audio_features": 18,
                           "categories": 3})
    msg = format_run_summary(res, now="2026-08-14 00:00:00")
    assert msg == (
        "Spotify ETL Pipeline Completed!\n\n"
        "Extraction:\n- 5 new releases\n- 18 audio features\n"
        "- 3 categories\n\n"
        "Transformation:\n- 5 albums processed\n- 20 tracks processed\n"
        "- 18 audio features processed\n\n"
        "Time: 2026-08-14 00:00:00\n")
    # missing stats default to 0 (reference's None-stats branch)
    empty = format_run_summary(
        RunResult(status="failed", run_ts="x", error="boom"),
        now="2026-08-14 00:00:00")
    assert "- 0 new releases" in empty and empty.endswith("Error: boom\n")
    assert empty.startswith("Spotify ETL Pipeline FAILED")


def test_distributed_feature_fetch(spark):
    from etl_airflow_spotify_spark.sources.spotify_rest import (
        fetch_audio_features_distributed)

    ids = spark.createDataFrame(
        [(f"trk{i:03d}_{t}",) for i in range(3) for t in range(4)],
        ["track_id"])
    out = fetch_audio_features_distributed(spark, ids, FakeSpotifyClient)
    rows = out.collect()
    assert len(rows) == 9  # the _3 ids return null -> dropped
    assert all(r.danceability is not None for r in rows)


def test_rest_datasource_distributed_scan(spark):
    """The Spark 4 Python DataSource fans per-album track fetches out
    across partitions and returns exactly the rows the driver-side
    client loop produces."""
    from etl_airflow_spotify_spark.sources import rest_datasource as R
    from etl_airflow_spotify_spark.sources.spotify_rest import FakeSpotifyClient

    R.register(spark)
    df = (spark.read.format("spotify_rest")
          .option("seed", 42).option("albums_per_partition", 4).load())
    # 12 albums / 4 per batch -> 3 fetch partitions
    assert df.rdd.getNumPartitions() == 3
    client = FakeSpotifyClient(seed=42)
    expected = {(a["id"], t["id"])
                for a in client.get_new_releases()
                for t in client.get_tracks_from_album(a["id"])}
    got = {(r.album_id, r.track_id) for r in df.collect()}
    assert got == expected
