"""Spans around the benchmark's calls into the engine's layers.

A span records its name, start, end, parent and run id. While a span is open,
its calls run under a Spark job group of its own, so the jobs, tasks and
failed tasks it reports are the ones it scheduled itself. They are read from
the public ``StatusTracker`` once every job of the group has finished. A
layer's self time is its span's duration minus the time its child spans
cover. The root span of a run keeps the time no layer covers, reported as
``unattributed``.

With tracing off, only the root span of each run is opened: it sets the run's
job group, which still counts the run's Spark jobs, and records nothing else.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager

SETTLE_TIMEOUT_S = 10.0


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = sc
        self._status = sc.statusTracker()
        self._open: list[dict] = []
        self._persisted: list = []
        self._groups = 0
        self._ids = itertools.count()
        self._t0 = time.perf_counter()

    @contextmanager
    def run(self, run_id: str):
        """Root span of one pipeline run. The yielded record holds ``wall_s``
        and ``jobs`` once the block has exited."""
        rec = self._enter("run", run_id)
        try:
            yield rec
        finally:
            self._exit(rec)

    @contextmanager
    def span(self, name: str):
        """Span of one layer call inside a traced run; a no-op untraced."""
        if not (self.enabled and self._open):
            yield
            return
        rec = self._enter(name, self._open[-1]["run"])
        try:
            yield
        finally:
            self._exit(rec)

    def cut(self, df):
        """In a traced run, persist and count ``df``, so that the work behind
        it is done, and timed, inside the open span; untraced, return it as is."""
        if not self.enabled:
            return df
        df = df.persist()
        df.count()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        """Unpersist every frame ``cut`` persisted."""
        while self._persisted:
            self._persisted.pop().unpersist(blocking=True)

    def set_job_group(self, name: str) -> str:
        self._groups += 1
        group = f"{name}#{self._groups}"
        self._sc.setJobGroup(group, name)
        return group

    def _enter(self, name: str, run_id: str) -> dict:
        rec = {
            "name": name,
            "run": run_id,
            "id": next(self._ids),
            "parent": self._open[-1]["id"] if self._open else None,
            "group": self.set_job_group(f"{run_id}/{name}"),
        }
        self._open.append(rec)
        rec["start"] = time.perf_counter()
        return rec

    def _exit(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        rec["wall_s"] = rec["end"] - rec["start"]
        self._open.pop()
        if self._open:
            parent = self._open[-1]
            self._sc.setJobGroup(parent["group"], parent["name"])
        else:
            self.set_job_group("idle")
        rec.update(self._job_counts(rec["group"]))
        if self.enabled:
            self.spans.append(rec)

    def _job_counts(self, group: str) -> dict:
        # Wait until the status store has seen every job of the group end:
        # a job's stages are final by the time its end is recorded.
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while True:
            jobs = [self._status.getJobInfo(j) for j in self._status.getJobIdsForGroup(group)]
            if time.monotonic() > deadline or all(
                j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs
            ):
                break
            time.sleep(0.005)
        stage_ids = {s for j in jobs if j is not None for s in j.stageIds}
        stages = [s for s in map(self._status.getStageInfo, stage_ids) if s is not None]
        return {
            "jobs": len(jobs),
            "tasks": sum(s.numCompletedTasks for s in stages),
            "failed_tasks": sum(s.numFailedTasks for s in stages),
        }

    def layer_totals(self, *run_ids: str) -> dict[str, dict]:
        """Per layer name: summed ``self_s``, ``jobs``, ``tasks`` and
        ``failed_tasks`` over the spans of the given traced runs. The roots'
        self time is keyed ``unattributed``, so all ``self_s`` sum to their
        walls."""
        spans = [s for s in self.spans if s["run"] in run_ids]
        covered: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["wall_s"]
        totals: dict[str, dict] = {}
        for s in spans:
            name = "unattributed" if s["parent"] is None else s["name"]
            t = totals.setdefault(name, {"self_s": 0.0, "jobs": 0, "tasks": 0, "failed_tasks": 0})
            t["self_s"] += s["wall_s"] - covered[s["id"]]
            for k in ("jobs", "tasks", "failed_tasks"):
                t[k] += s[k]
        return totals

    def records(self) -> list[dict]:
        """The spans, with start and end in seconds since the tracer was made."""
        keep = ("name", "run", "id", "parent", "jobs", "tasks", "failed_tasks")
        return [
            {
                **{k: s[k] for k in keep},
                "start": s["start"] - self._t0,
                "end": s["end"] - self._t0,
            }
            for s in self.spans
        ]
