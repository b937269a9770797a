"""Config-driven pipeline framework — the reference's Qt orchestrator
(``Executavel do ETL.py``, cited ``E:line``) without the GUI.

Reference behaviors reproduced (SURVEY.md §2.3):
- #6  JSON job registry {name: {label, tooltip}} (E:14, E:42-81)
- #25 run-one job with wall-clock timing + log capture (E:321-363)
- #26 run-all in registry order (E:365-383); here the jobs run
      concurrently, one thread per job, and results come back in
      registry order — the reference's scripts never wait on one
      another, and run-all jobs must likewise be independent
- #27 fail-fast abort: a failure stops the run (E:415-422) — jobs not
      yet started stay pending, in-flight jobs are cancelled
- #29 cancellation via Spark job groups (≙ process terminate, E:438-451)
- #31 structured logging + per-stage timers (S:8-9, S:152, S:190-199)
- #32 per-job status surface (⌛/✅/❌, E:288-292)

Differences by design: jobs are in-process callables on ONE SparkSession
(no child interpreter per job, E:363 — Spark parallelism and one thread
per job replace process isolation), and failures raise structured results
instead of exit codes.
"""

from __future__ import annotations

import json
import logging
import threading
import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

STATUS_PENDING, STATUS_RUNNING, STATUS_OK, STATUS_FAIL = "pending", "running", "ok", "failed"

# How often a fail-fast run re-cancels the job groups still in flight.
CANCEL_POLL_S = 0.2


@dataclass
class Job:
    name: str
    fn: Callable[[SparkSession], object]
    label: str = ""
    tooltip: str = ""


@dataclass
class JobResult:
    name: str
    status: str
    seconds: float = 0.0
    error: str | None = None
    output: object = None


class PipelineError(RuntimeError):
    def __init__(self, result: JobResult, results: list[JobResult]):
        super().__init__(f"job {result.name!r} failed: {result.error}")
        self.result = result
        self.results = results


@dataclass
class JobRegistry:
    """Ordered registry of named pipeline jobs (≙ etl_scripts.json, E:14)."""

    jobs: dict[str, Job] = field(default_factory=dict)

    def register(
        self, name: str, fn: Callable[[SparkSession], object], label: str = "", tooltip: str = ""
    ) -> Job:
        job = Job(name=name, fn=fn, label=label or name, tooltip=tooltip)
        self.jobs[name] = job
        return job

    @classmethod
    def from_json(
        cls, path: str, resolver: Callable[[str], Callable[[SparkSession], object]]
    ) -> "JobRegistry":
        """Load the registry from a JSON config {name: {label, tooltip}}
        (≙ E:42-67); ``resolver`` maps each job name to its callable
        (≙ the script-path resolution at E:294-319)."""
        reg = cls()
        with open(path) as f:
            cfg = json.load(f)
        for name, meta in cfg.items():
            reg.register(
                name, resolver(name), meta.get("label", name), meta.get("tooltip", "")
            )
        return reg

    # -- execution ---------------------------------------------------------

    def run_one(self, spark: SparkSession, name: str) -> JobResult:
        """Run a single job with timing + job-group tagging (≙ E:321-363).
        The job group makes ``cancel(name)`` work mid-flight."""
        job = self.jobs[name]
        sc = spark.sparkContext
        # interruptOnCancel stays False: interrupting task threads mid-I/O
        # can wedge a local-mode executor permanently. Cooperative task
        # kill (checked at codegen batch boundaries) lands in <1s anyway.
        sc.setJobGroup(name, job.label, interruptOnCancel=False)
        log.info("⌛ %s starting", name)
        t0 = time.perf_counter()
        try:
            out = job.fn(spark)
            dt = time.perf_counter() - t0
            log.info("✅ %s finished in %.2fs", name, dt)
            return JobResult(name, STATUS_OK, seconds=round(dt, 3), output=out)
        except Exception as exc:  # noqa: BLE001 — fail-fast surface, not swallow
            dt = time.perf_counter() - t0
            log.error("❌ %s failed after %.2fs: %s", name, dt, exc)
            return JobResult(name, STATUS_FAIL, seconds=round(dt, 3), error=str(exc))
        finally:
            sc.setJobGroup("", "")

    def run_all(
        self,
        spark: SparkSession,
        fail_fast: bool = True,
        runner: Callable[[SparkSession, str], JobResult] | None = None,
    ) -> list[JobResult]:
        """Run every registered job concurrently, one thread per job, on
        the shared session (≙ E:365-383, whose scripts never wait on one
        another); results come back in registry order. Registered jobs
        must be independent, as the shipped five are. Each thread calls
        ``runner`` (default :meth:`run_one`, whose job group is
        per-thread under PySpark's pinned-thread mode); it lets callers
        wrap run_one (e.g. the CLI's progress reporter).

        With ``fail_fast`` (the reference's behavior, E:415-422), the
        first failure stops the run: jobs not yet started are reported
        ``pending``, and the job groups still in flight are cancelled
        again every ``CANCEL_POLL_S`` until their callables return
        (cancelJobGroup only hits actions already submitted, and a job
        submits several in turn); then PipelineError carries the first
        failure and the results."""
        run = runner or self.run_one
        names = list(self.jobs)  # snapshot, ≙ E:371
        if not names:
            return []
        stop = threading.Event()

        def start(name: str) -> JobResult:
            if stop.is_set():
                return JobResult(name, STATUS_PENDING)  # ≙ E:419, never started
            return run(spark, name)

        results: dict[str, JobResult] = {}
        failure: JobResult | None = None
        with ThreadPoolExecutor(len(names), thread_name_prefix="run-all") as pool:
            running = {pool.submit(start, name): name for name in names}
            try:
                while running:
                    done, _ = wait(
                        running,
                        timeout=CANCEL_POLL_S if stop.is_set() else None,
                        return_when=FIRST_COMPLETED,
                    )
                    for fut in done:
                        res = results[running.pop(fut)] = fut.result()
                        if res.status == STATUS_FAIL and fail_fast and failure is None:
                            failure = res
                            stop.set()
                    if stop.is_set():
                        for name in running.values():
                            self.cancel(spark, name)
            finally:
                # a runner that raised, or an interrupt, leaves jobs in
                # flight: start nothing more, cancel them before the join
                stop.set()
                for name in running.values():
                    self.cancel(spark, name)
        ordered = [results[name] for name in names]
        if failure is not None:
            raise PipelineError(failure, ordered)
        return ordered

    def cancel(self, spark: SparkSession, name: str) -> None:
        """Cancel a running job by its job group (≙ E:438-451).

        Only jobs already submitted to the scheduler are cancelled —
        use :meth:`active_job_ids` to confirm the job is in flight
        before relying on this."""
        spark.sparkContext.cancelJobGroup(name)

    def active_job_ids(self, spark: SparkSession, name: str) -> list[int]:
        """Scheduler job ids currently active for a registry job."""
        tracker = spark.sparkContext.statusTracker()
        active = set(tracker.getActiveJobsIds())
        return [j for j in tracker.getJobIdsForGroup(name) if j in active]

    def progress(self, spark: SparkSession, name: str) -> tuple[int, int]:
        """(completed_tasks, total_tasks) across every scheduler job the
        registry job has submitted under its job group so far.

        DATA-DRIVEN progress from the Spark status tracker — the
        reference's bar is synthetic (+1% per 150 ms QTimer regardless of
        work, E:37-38, E:385-390; SURVEY.md §2 #30 flags it). Only stages
        that have launched tasks count: AQE re-submits already-computed
        upstream stages as new never-run stage ids ("skipped" in the UI),
        which would otherwise inflate the denominator forever. Totals
        therefore grow as stages launch — render as 'done/total so far',
        not a percentage of a fixed whole.
        """
        tracker = spark.sparkContext.statusTracker()
        done = total = 0
        for jid in tracker.getJobIdsForGroup(name):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                if st.numActiveTasks + st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # pending or AQE-skipped: no tasks launched yet
                total += st.numTasks
                done += st.numCompletedTasks
        return done, total

    def status_line(self, results: list[JobResult]) -> str:
        """Per-job status chars (≙ E:288-292)."""
        icon = {STATUS_OK: "✅", STATUS_FAIL: "❌", STATUS_PENDING: "⌛"}
        return " ".join(f"{icon.get(r.status, '⌛')} {r.name}" for r in results)
