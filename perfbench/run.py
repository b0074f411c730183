"""Layer-split benchmark of the engine: one workload per process.

Run from the repository root:

    python3 perfbench/run.py --workload spotify_etl --seed 1 --seconds 20 --trace 0

Workloads (README.md says why each was chosen and which layer it isolates):

* ``spotify_etl``  one ``spotify.pipeline.run`` per iteration over a seeded
                   ``FakeSpotifyClient``: extract -> snapshot -> normalize
                   -> sink -> publish.
* ``query_batch``  a fixed-point graph query whose cost is the jobs the
                   driver issues while building the DataFrame, and two
                   queries whose cost is the final action.

A run sets up ``SETUPS`` times (session start + registry import), runs
``WARMUP_ITERATIONS`` untimed iterations, the first of them checked, then
times iterations for about ``--seconds`` (at least ``MIN_ITERATIONS``).
Query results are checked against committed digests of the DuckDB oracle
(``make_digests.py``); pipeline runs against counts derived from the
extracted data. ``--trace 1`` alternates traced and untraced iterations
and reports the per-layer metrics plus the tracing overhead.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it starts with ``#`` and
holds the run's settings, samples and host load. Spans and the full
detail go to ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import hashlib
import importlib
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback

import pyarrow.dataset

import procstat
from spans import Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "etl_airflow_spotify_spark"
# A copy of the sf0.01 test tables: the benchmark reads nothing outside
# the checkout, and a run must fit its time budget. Fixed per-job
# overhead still dominates at this size (SCALING.md).
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
DIGESTS = os.path.join(BENCH_DIR, "digests.json")
WORK_DIR = os.path.join(BENCH_DIR, ".work")

# A heap that fits a shared 15 GiB box next to the Python workers; the
# package default (24g) gets the JVM OOM-killed there. The heap is
# touched in full at start, so RSS does not swing with when G1 happens to
# grow it; what RSS then tracks is memory outside the Java heap.
DRIVER_MEM = "2g"
SETUPS = 3
# Untimed passes before the timed ones: the first pays code generation
# and is checked; the second is still measurably slower (JIT).
WARMUP_ITERATIONS = 2
MIN_ITERATIONS = 3

SPOTIFY_ALBUMS = 50  # the API clamp in get_new_releases
SPOTIFY_TRACKS_PER_ALBUM = 100
SPOTIFY_RUN_DATE = "2026-01-01"
SPOTIFY_TABLES = ("albums", "tracks", "audio_features", "categories",
                  "tracks_with_features")
# pipeline's module-level references to its phase functions.
PIPELINE_PHASES = (
    ("extract_full_dataset", "sources.extract"),
    ("snapshot_from_dict", "sources.snapshot"),
    ("write_snapshot", "sources.write_snapshot"),
    ("snapshot_tables", "spotify.normalize"),
    ("save_tables", "sinks.save"),
    ("publish_latest", "sinks.publish"),
)

# A fixed-point loop whose time is the jobs the driver issues while it
# builds the DataFrame, then an LLM-curation query whose time is the
# final action's shuffles.
QUERY_BATCH = ("kcore_peeling_profile", "training_data_prep_v2")
WORKLOADS = {"spotify_etl": (), "query_batch": QUERY_BATCH}

END_TO_END = {"setup_s": "s", "iter_s_p50": "s", "cpu_s": "s",
              "rss_mib": "MiB", "success_rate": "ratio"}
PER_LAYER = (
    ("session.start_s", "registry.load_s",
     "queries.build_s", "queries.build_jobs",
     "queries.action_s", "queries.action_jobs")
    + tuple(f"queries.{q}.{m}" for q in QUERY_BATCH
            for m in ("build_s", "build_jobs", "action_s"))
    + ("caching.release_s", "spark.jobs", "spark.stages", "spark.tasks",
       "executor.task_s", "executor.busy_frac", "executor.gc_s",
       "executor.shuffle_read_mib", "executor.shuffle_write_mib",
       "executor.input_mib", "executor.failed_tasks",
       "sources.extract_s", "sources.snapshot_s", "sources.write_snapshot_s",
       "spotify.normalize_s", "sinks.save_s", "sinks.save_jobs",
       "sinks.publish_s", "pipeline.self_s", "pipeline.self_jobs",
       "sinks.output_mib", "sinks.files", "sinks.rows",
       "trace.overhead_frac")
)


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    for suffix, u in (("_s", "s"), ("_mib", "MiB"), ("_frac", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def result_digest(rows: list[tuple], columns: list[str], multiset) -> str:
    """Order-insensitive digest of a result, normalised like the oracle
    comparison (``oracle.multiset``)."""
    items = sorted(multiset(rows, columns).items(), key=repr)
    payload = repr((sorted(c.lower() for c in columns), items))
    return hashlib.sha256(payload.encode()).hexdigest()


def expected_counts(raw: dict) -> dict[str, int]:
    """Row counts each pipeline table must have, from the extracted data:
    tracks explode out of their albums, features without an id are
    dropped, and the track/feature left join repeats a track once per
    feature with its id."""
    tracks = [t["id"] for r in raw["releases"] for t in r["tracks"]]
    feature_ids = collections.Counter(
        f["id"] for f in raw["audio_features"] if f and f.get("id"))
    return {
        "albums": len(raw["releases"]),
        "tracks": len(tracks),
        "audio_features": sum(feature_ids.values()),
        "categories": len(raw["categories"]),
        "tracks_with_features": sum(max(1, feature_ids[t]) for t in tracks),
    }


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for parent, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(parent, n))
    return files, size


def configure_environment(run_dir: str) -> dict[str, str]:
    """Size the session for this box and keep every file it writes
    inside ``run_dir``."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIRS": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", shlex.quote(
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
            "pyspark-shell"]),
    }
    os.environ.update(settings)
    return settings


def package_module(name: str):
    return importlib.import_module(f"{PACKAGE}.{name}")


def executor_totals(sc) -> collections.Counter:
    """Task totals summed over executors, from the status store (works
    with the UI disabled)."""
    summaries = sc._jsc.sc().statusStore().executorList(True)
    tot = collections.Counter()
    for i in range(summaries.size()):
        e = summaries.apply(i)
        tot["task_ms"] += e.totalDuration()
        tot["gc_ms"] += e.totalGCTime()
        tot["shuffle_read"] += e.totalShuffleRead()
        tot["shuffle_write"] += e.totalShuffleWrite()
        tot["input"] += e.totalInputBytes()
        tot["failed_tasks"] += e.failedTasks()
    return tot


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.origin = time.perf_counter()
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        order = list(WORKLOADS[workload])
        random.Random(seed).shuffle(order)
        self.order = order
        with open(DIGESTS) as f:
            self.digests = json.load(f)["queries"]

    # -- set-up --------------------------------------------------------

    def set_up(self) -> tuple[float, float]:
        """Start a session and import the registry; returns both times. A
        repeat stops the session and drops the package's modules first,
        so each set-up pays both again (the JVM is launched once)."""
        if self.spark is not None:
            self.spark.stop()
            for name in [m for m in sys.modules
                         if m == PACKAGE or m.startswith(PACKAGE + ".")]:
                del sys.modules[name]
        t0 = time.perf_counter()
        self.spark = package_module("session").get_session(
            f"perfbench-{self.workload}")
        t1 = time.perf_counter()
        self.queries = package_module("registry").all_queries()
        t2 = time.perf_counter()
        # Entry points from the modules this set-up loaded.
        self.sc = self.spark.sparkContext
        self.pipeline = package_module("spotify.pipeline")
        self.rest = package_module("sources.spotify_rest")
        self.release_all = package_module("caching").release_all
        self.multiset = package_module("oracle").multiset
        return t1 - t0, t2 - t1

    # -- checks --------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"perfbench: {what}", file=sys.stderr)

    def check_query(self, name: str, df) -> None:
        rows = [tuple(r) for r in df.collect()]
        want = self.digests[name]
        got = result_digest(rows, df.columns, self.multiset)
        self.check(len(rows) == want["rows"] and got == want["sha256"],
                   f"{name}: {len(rows)} rows, digest {got[:12]} != "
                   f"{want['rows']} rows, digest {want['sha256'][:12]}")

    # -- iterations ----------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def spotify_client(self, k: int):
        return self.rest.FakeSpotifyClient(
            seed=self.seed * 1000 + k, n_albums=SPOTIFY_ALBUMS,
            tracks_per_album=SPOTIFY_TRACKS_PER_ALBUM)

    def spotify_iteration(self, k: int, layers: collections.Counter) -> float:
        out = os.path.join(self.run_dir, f"out{k}")
        config = self.pipeline.PipelineConfig(output_dir=out)
        t0 = time.perf_counter()
        with self.span("pipeline"):
            result = self.pipeline.run(
                self.spark, self.spotify_client(k), config, run_ts=f"it{k}",
                run_date=SPOTIFY_RUN_DATE)
        elapsed = time.perf_counter() - t0
        self.attempted += 1
        if result.status != "success":
            self.fail(f"pipeline run {k} failed: {result.error}")
            return elapsed
        want = expected_counts(self.rest.extract_full_dataset(
            self.spotify_client(k), limit=config.limit, run_ts=f"it{k}"))
        self.check(result.stats == want,
                   f"run {k}: stats {result.stats} != {want}")
        for name in SPOTIFY_TABLES:  # read back with an independent reader
            n = pyarrow.dataset.dataset(result.paths[name]).count_rows()
            self.check(n == want[name],
                       f"run {k}: {name} read back {n} rows != {want[name]}")
        layers["sinks.files"], size = dir_size(out)
        layers["sinks.output_mib"] = size / 2 ** 20
        layers["sinks.rows"] = sum(want.values())
        shutil.rmtree(out)
        return elapsed

    def query_iteration(self, k: int, check: bool) -> float:
        elapsed = 0.0
        for name in self.order:
            spec = self.queries[name]
            t0 = time.perf_counter()
            self.attempted += 1
            try:
                with self.span(f"queries.{name}.build"):
                    df = spec.spark_fn(self.spark, DATA_DIR)
                with self.span(f"queries.{name}.action"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - count it and go on
                traceback.print_exc()
                self.fail(f"{name} raised in iteration {k}")
                df = None
            t1 = time.perf_counter()
            if check and df is not None:
                self.check_query(name, df)
            t2 = time.perf_counter()
            with self.span("caching.release"):
                self.release_all()
            elapsed += (t1 - t0) + (time.perf_counter() - t2)
        return elapsed

    def iteration(self, k: int, check: bool, layers: collections.Counter) -> float:
        if self.workload == "spotify_etl":
            return self.spotify_iteration(k, layers)
        return self.query_iteration(k, check)

    def traced_iteration(self, k: int) -> tuple[float, collections.Counter]:
        layers = collections.Counter()
        self.tracer.iteration = k
        if self.workload == "spotify_etl":
            for attr, name in PIPELINE_PHASES:
                self.tracer.patch(self.pipeline, attr, name)
        before = executor_totals(self.sc)
        try:
            elapsed = self.iteration(k, False, layers)
        finally:
            self.tracer.unpatch()
        time.sleep(0.2)  # the status store folds task ends in every 100 ms
        delta = executor_totals(self.sc) - before
        for s in self.tracer.close_iteration():
            n = s["name"]
            if n == "pipeline":
                layers["pipeline.self_s"] += s["self_s"]
                layers["pipeline.self_jobs"] += s["jobs"]
            else:
                layers[n + "_s"] += s["dur_s"]
                layers[n + "_jobs"] += s["jobs"]
            if n.startswith("queries."):
                kind = n.rsplit(".", 1)[1]
                layers[f"queries.{kind}_s"] += s["dur_s"]
                layers[f"queries.{kind}_jobs"] += s["jobs"]
            layers["spark.jobs"] += s["jobs"]
            layers["spark.stages"] += s["stages"]
            layers["spark.tasks"] += s["tasks"]
        layers["executor.task_s"] = delta["task_ms"] / 1000
        layers["executor.busy_frac"] = (
            delta["task_ms"] / 1000 / (elapsed * self.cores))
        layers["executor.gc_s"] = delta["gc_ms"] / 1000
        layers["executor.shuffle_read_mib"] = delta["shuffle_read"] / 2 ** 20
        layers["executor.shuffle_write_mib"] = delta["shuffle_write"] / 2 ** 20
        layers["executor.input_mib"] = delta["input"] / 2 ** 20
        layers["executor.failed_tasks"] = delta["failed_tasks"]
        return elapsed, layers

    # -- the run -------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        setups = [self.set_up() for _ in range(SETUPS)]
        warmup = [self.iteration(k, k == 0, collections.Counter())
                  for k in range(WARMUP_ITERATIONS)]
        if self.trace:
            self.tracer = Tracer(self.sc, self.origin)

        samples, cpu, traced, untraced, layer_samples = [], [], [], [], []
        host0, load0 = procstat.host_cpu(), procstat.loadavg()
        tree_cpu0 = procstat.tree_usage()[0]
        start = time.perf_counter()
        k = WARMUP_ITERATIONS
        # Start an iteration only if it should end inside the window.
        while (len(samples) < MIN_ITERATIONS
               or time.perf_counter() - start + statistics.median(samples)
               <= self.seconds):
            cpu_before = procstat.tree_usage()[0]
            if self.trace and (k - WARMUP_ITERATIONS) % 2 == 0:
                elapsed, layers = self.traced_iteration(k)
                traced.append(elapsed)
                layer_samples.append(layers)
            else:
                elapsed = self.iteration(k, False, collections.Counter())
                untraced.append(elapsed)
            cpu.append(procstat.tree_usage()[0] - cpu_before)
            samples.append(elapsed)
            k += 1
        wall = time.perf_counter() - start
        tree_cpu, rss_mib = procstat.tree_usage()
        busy, steal, total = (b - a for a, b in zip(host0, procstat.host_cpu()))
        host = {
            "load1_start": load0, "load1_end": procstat.loadavg(),
            "idle_pct": 100 * (1 - busy / total),
            "steal_pct": 100 * steal / total,
            # CPU the rest of the host (stolen time too) took while we
            # measured, in cores.
            "other_cores": (busy - (tree_cpu - tree_cpu0)) / wall,
        }

        if self.trace:
            metrics = {n: statistics.median(s[n] for s in layer_samples)
                       for n in PER_LAYER}
            metrics["session.start_s"] = statistics.median(s[0] for s in setups)
            metrics["registry.load_s"] = statistics.median(s[1] for s in setups)
            metrics["trace.overhead_frac"] = (
                statistics.median(traced) / statistics.median(untraced) - 1)
        else:
            metrics = {
                "setup_s": statistics.median(sum(s) for s in setups)
                + sum(warmup),
                "iter_s_p50": statistics.median(samples),
                "cpu_s": statistics.median(cpu),
                "rss_mib": rss_mib,
                "success_rate": 1 - self.failed / self.attempted,
            }
        detail = {
            "workload": self.workload, "seed": self.seed,
            "trace": int(self.trace), "order": self.order,
            "setups_s": setups, "warmup_s": warmup,
            "iter_s": samples, "cpu_s": cpu, "traced_iter_s": traced,
            "untraced_iter_s": untraced, "wall_s": wall, "host": host,
            "problems": self.problems,
        }
        return metrics, detail

    def shutdown(self) -> None:
        """Stop Spark, then the JVM and its Python workers, and wait for
        every process this run started to end."""
        if self.spark is None:
            return
        children = [p for p in procstat.tree_pids() if p != os.getpid()]
        self.spark.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and any(
                os.path.exists(f"/proc/{p}") for p in children):
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    for path in (os.path.join(ROOT, PACKAGE), DATA_DIR, DIGESTS):
        if not os.path.exists(path):
            print(f"perfbench: missing {path}; run from a full checkout",
                  file=sys.stderr)
            return 2

    run_dir = os.path.join(
        WORK_DIR, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    settings = configure_environment(run_dir)
    sys.path.insert(0, ROOT)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  run_dir)
    try:
        metrics, detail = bench.run()
    finally:
        bench.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    detail["settings"] = {k: v for k, v in settings.items()
                          if k.startswith("SPARK_GRAFT_")}
    stem = os.path.join(WORK_DIR, os.path.basename(run_dir))
    with open(stem + ".json", "w") as f:
        json.dump({**detail, "metrics": metrics}, f, indent=1)
    if bench.tracer:
        with open(stem + ".spans.jsonl", "w") as f:
            for s in bench.tracer.records():
                f.write(json.dumps(s) + "\n")
    print("# " + json.dumps({k: detail[k] for k in (
        "workload", "seed", "settings", "setups_s", "warmup_s", "iter_s",
        "host")}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": unit(n)}
                    for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
