"""End-to-end pipeline runner (reference O1-O6 semantics).

The reference orchestrates four Airflow tasks across process boundaries
with XCom/file handoff (dags/spotify_etl_dag.py:326-368). On Spark the
transform DAG is one lazy plan; only two durable boundaries remain:
the raw snapshot (restartability, S8) and the table sinks. ``run`` is
idempotent per ``run_ts`` — re-running a completed run fails on the
errorifexists sinks rather than double-writing (O4's catchup=False
analog).

Run stats (A1) are row counts observed while the tables are written: each
table carries a ``DataFrame.observe`` count, so the single write pass
reports them and no table is read a second time to count it.

The raw snapshot is written first and alone: it is the durable replay
boundary, so it must exist before any table does. The table writes then
run concurrently (``sinks.save_tables``): each is a one-task job on the
1-row snapshot ``LocalRelation``, so one after another they would keep
one core busy. The ``{name}_latest`` views carry the schema the tables
were written with, so publishing launches no job.

``RunResult.phases`` holds the wall seconds of each phase (``PHASES``)."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Observation, SparkSession

from ..sinks import publish_latest, save_tables
from ..sources.snapshot import snapshot_from_dict, write_snapshot
from ..sources.spotify_rest import SpotifyClient, extract_full_dataset
from .normalize import snapshot_tables

PHASES = ("extract", "snapshot", "write_snapshot", "normalize", "save",
          "publish")


@dataclass
class PipelineConfig:
    """The knobs that matter to the dataflow, sourced either directly
    or from the full O7 config engine via ``from_config``."""
    output_dir: str = "data"
    fmt: str = "parquet"
    limit: int = 50
    country: str | None = None
    save_raw: bool = True

    @classmethod
    def from_config(cls, cfg) -> "PipelineConfig":
        """Bind the layered YAML/.env/env ``config.Config`` (O7,
        reference config/config.py:44-223) to the dataflow knobs."""
        params = cfg.get_parameters()
        return cls(output_dir=cfg.get("paths.base", "data"),
                   fmt=cfg.get("output.format", "parquet"),
                   limit=params["limit"] if isinstance(params["limit"], int)
                   else 50,
                   country=params["country"],
                   save_raw=bool(cfg.get("output.save_raw", True)))


@dataclass
class RunResult:
    status: str
    run_ts: str
    stats: dict[str, int] = field(default_factory=dict)
    paths: dict[str, str] = field(default_factory=dict)
    elapsed_sec: float = 0.0
    error: str | None = None
    phases: dict[str, float] = field(default_factory=dict)


def format_run_summary(result: RunResult, now: str | None = None) -> str:
    """O6 completion-notification message (reference
    dags/spotify_etl_dag.py:276-322 ``send_completion_notification``):
    the same two-section extraction/transformation summary with
    zero-defaults for missing stats and a completion timestamp. The
    reference prints it (delivery is a deployment concern there too);
    callers here route the string to their own channel. ``now`` is
    injectable for deterministic golden tests; it defaults to the
    current wall-clock like the reference."""
    import datetime as _dt

    stats = result.stats or {}
    ts = now or _dt.datetime.now().strftime("%Y-%m-%d %H:%M:%S")
    return (
        "Spotify ETL Pipeline "
        f"{'Completed!' if result.status == 'success' else 'FAILED'}\n"
        "\n"
        "Extraction:\n"
        f"- {stats.get('albums', 0)} new releases\n"
        f"- {stats.get('audio_features', 0)} audio features\n"
        f"- {stats.get('categories', 0)} categories\n"
        "\n"
        "Transformation:\n"
        f"- {stats.get('albums', 0)} albums processed\n"
        f"- {stats.get('tracks', 0)} tracks processed\n"
        f"- {stats.get('audio_features', 0)} audio features processed\n"
        "\n"
        f"Time: {ts}\n"
        + (f"Error: {result.error}\n" if result.error else "")
    )


def run(spark: SparkSession, client: SpotifyClient, config: PipelineConfig,
        run_ts: str, run_date: str | None = None) -> RunResult:
    """extract -> snapshot -> normalize -> sink -> publish, with the
    run-summary stats the reference reports (A1/A2/O6,
    etl_pipeline.py:184-237). Failures return a failed result rather
    than raising (etl_pipeline.py:227-237)."""
    t0 = time.perf_counter()
    phases = dict.fromkeys(PHASES, 0.0)

    def timed(phase, fn, *args, **kwargs):
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            phases[phase] = time.perf_counter() - start

    try:
        raw = timed("extract", extract_full_dataset, client,
                    limit=config.limit, country=config.country, run_ts=run_ts)
        snapshot = timed("snapshot", snapshot_from_dict, spark, raw)
        paths = {}
        if config.save_raw:
            paths["raw"] = timed("write_snapshot", write_snapshot, snapshot,
                                 f"{config.output_dir}/raw", run_ts)
        tables = timed("normalize", snapshot_tables, snapshot,
                       run_date=run_date)
        counts = {name: Observation(name) for name in tables}  # A1
        table_paths = timed("save", save_tables, {
            name: df.observe(counts[name], F.count(F.lit(1)).alias("rows"))
            for name, df in tables.items()},
            f"{config.output_dir}/processed", run_ts, fmt=config.fmt)
        timed("publish", publish_latest, spark, table_paths,
              {name: df.schema for name, df in tables.items()},
              fmt=config.fmt)
        paths.update(table_paths)
        stats = {name: obs.get["rows"] for name, obs in counts.items()}
        return RunResult(status="success", run_ts=run_ts, stats=stats,
                         paths=paths, elapsed_sec=time.perf_counter() - t0,
                         phases=phases)
    except Exception as e:  # noqa: BLE001
        return RunResult(status="failed", run_ts=run_ts,
                         elapsed_sec=time.perf_counter() - t0, error=str(e),
                         phases=phases)
