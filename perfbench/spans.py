"""Tracing for the benchmark's traced runs.

Two sources of per-layer numbers:

- spans recorded around the calls the benchmark (and the pipeline it
  drives) makes into each layer's public functions. A span has a name,
  start, end, parent and the iteration (trace) it belongs to; spans are
  kept in memory and written out once, at the end of the run.
- Spark's own per-stage counters from the local Spark UI's REST API,
  attributed to the scheduler jobs an iteration submitted (JobRegistry
  tags them with the job's name as job group).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request
from urllib.parse import urlparse


class Tracer:
    def __init__(self, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []
        self.trace: int | None = None
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "trace": self.trace,
            "parent": self._open[-1] if self._open else None,
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._open.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str, trace: int) -> float:
        """Summed duration of the spans called ``name`` in one iteration."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["trace"] == trace
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def maybe_wrap(tracer: Tracer | None, name: str, fn):
    return fn if tracer is None else tracer.wrap(name, fn)


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Record spans around the sources and sinks calls the shipped jobs
    and the curation pipeline make, by wrapping the names those modules
    look up at call time; the originals are restored on exit."""
    from ferramenta_etl_spark.pipeline import curation, jobs
    from ferramenta_etl_spark.plans import flagship

    targets = [
        (jobs, "load_table", "sources.load_table"),
        (flagship, "load_table", "sources.load_table"),
        (curation, "load_table", "sources.load_table"),
        (jobs, "write_ignore_conflicts", "sinks.write"),
        (curation, "write_ignore_conflicts", "sinks.write"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    try:
        for mod, attr, name in targets:
            setattr(mod, attr, tracer.wrap(name, getattr(mod, attr)))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


class StageCounters:
    """Per-stage task counters of this application, read from the local
    Spark UI's REST API (``/api/v1/applications/<id>/...``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _jobs(self) -> list[dict]:
        """The job list once the UI has caught up: the listener bus
        applies events asynchronously, so poll until two reads agree and
        no job is still running."""
        prev = None
        for _ in range(200):
            jobs = self._get("/jobs")
            state = sorted((j["jobId"], j["status"]) for j in jobs)
            if state == prev and all(s != "RUNNING" for _, s in state):
                return jobs
            prev = state
            time.sleep(0.05)
        raise TimeoutError("Spark UI job list did not settle")

    def last_job_id(self) -> int:
        return max((j["jobId"] for j in self._jobs()), default=-1)

    def totals(self, after_job: int, groups) -> dict[str, float]:
        """Sums over every stage that ran tasks for the jobs newer than
        ``after_job`` submitted under one of the job ``groups``."""
        stage_ids = {
            sid
            for j in self._jobs()
            if j["jobId"] > after_job and j.get("jobGroup") in groups
            for sid in j["stageIds"]
        }
        out = dict.fromkeys(
            ("stages", "tasks", "task_failures", "run_ms", "gc_ms", "shuffle_write_bytes",
             "spill_bytes"), 0
        )
        for s in self._get("/stages"):
            if s["stageId"] not in stage_ids or s["status"] in ("SKIPPED", "PENDING"):
                continue
            out["stages"] += 1
            out["tasks"] += s["numCompleteTasks"]
            out["task_failures"] += s["numFailedTasks"]
            out["run_ms"] += s["executorRunTime"]
            out["gc_ms"] += s["jvmGcTime"]
            out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            out["spill_bytes"] += s["diskBytesSpilled"]
        return out
