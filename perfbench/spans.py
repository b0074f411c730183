"""In-memory spans around calls into the package, for the traced run.

Each span runs under its own Spark job group, so the jobs a layer issues
are read back from the status tracker by group. Jobs belong to the
innermost open span: a span's job count is its *self* job count, just as
``self_s`` is its duration minus the time its direct children cover.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, origin: float):
        self.sc = sc
        self.origin = origin
        self.iteration = 0
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "iteration": self.iteration,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{self.iteration}-{idx}",
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, traced)

    def unpatch(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def close_iteration(self) -> list[dict]:
        """Attach job/stage/task counts and self time to this iteration's
        spans and return them."""
        tracker = self.sc.statusTracker()
        spans = [s for s in self.spans if s["iteration"] == self.iteration]
        # A later job lists a stage it reuses (skipped) among its own, so
        # each stage counts once, for the first span whose jobs list it.
        seen: set[int] = set()
        for s in spans:
            stages = tasks = 0
            jobs = tracker.getJobIdsForGroup(s["group"])
            for job_id in sorted(jobs):
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else ()):
                    stage = tracker.getStageInfo(stage_id)
                    ran = stage and stage.numCompletedTasks + stage.numFailedTasks
                    if ran and stage_id not in seen:
                        seen.add(stage_id)
                        stages += 1
                        tasks += ran
            s.update(jobs=len(jobs), stages=stages, tasks=tasks,
                     dur_s=s["end"] - s["start"], self_s=s["end"] - s["start"])
        for s in spans:  # a parent always opens in its child's iteration
            if s["parent"] is not None:
                self.spans[s["parent"]]["self_s"] -= s["dur_s"]
        return spans

    def records(self) -> list[dict]:
        """All spans, times relative to the run's origin."""
        return [{**s, "start": s["start"] - self.origin,
                 "end": s["end"] - self.origin} for s in self.spans]
