"""Pipeline framework semantics (≙ Executavel do ETL.py, SURVEY §2.3):
concurrent run-all with results in registry order, fail-fast
cancellation, status surface, JSON config."""

import json
import logging
import re
import threading
import time

import pytest

from ferramenta_etl_spark.pipeline import JobRegistry, PipelineError
from ferramenta_etl_spark.pipeline.registry import JobResult

REGISTRY_LOG = "ferramenta_etl_spark.pipeline.registry"
COMPILED_RE = re.compile(r"run_all: (\d+) jobs, (\d+) generated classes compiled")


def test_run_all_in_order(spark):
    """Results come back in registry order whatever order the jobs
    finish in: here the last-registered job finishes first."""
    reg = JobRegistry()
    ran = []
    for name, delay in (("a", 0.6), ("b", 0.3), ("c", 0.0)):
        def job(s, n=name, d=delay):
            time.sleep(d)
            ran.append(n)
            return n.upper()

        reg.register(name, job)
    results = reg.run_all(spark)
    assert sorted(ran) == ["a", "b", "c"]
    assert [r.name for r in results] == ["a", "b", "c"]
    assert [r.status for r in results] == ["ok", "ok", "ok"]
    assert [r.output for r in results] == ["A", "B", "C"]
    assert all(r.seconds >= 0 for r in results)


def test_run_all_runs_jobs_concurrently(spark):
    """Both jobs must be inside their callables at once to pass the
    barrier; a one-at-a-time run breaks it and fails the first job."""
    reg = JobRegistry()
    barrier = threading.Barrier(2, timeout=30)
    for name in ("left", "right"):
        reg.register(name, lambda s, n=name: (barrier.wait(), n)[1])
    results = reg.run_all(spark)
    assert [(r.name, r.status, r.output) for r in results] == [
        ("left", "ok", "left"), ("right", "ok", "right")]


def test_fail_fast_clears_queue(spark):
    """A failure stops the run (≙ E:415-422): PipelineError carries the
    failure and every result in registry order; a job whose callable
    never ran is reported pending, one that ran keeps its own status."""
    reg = JobRegistry()
    ran = []
    reg.register("ok1", lambda s: ran.append("ok1"))

    def boom(s):
        raise ValueError("kaput")

    reg.register("boom", boom)
    reg.register("never", lambda s: ran.append("never"))
    with pytest.raises(PipelineError) as ei:
        reg.run_all(spark)
    assert ei.value.result.name == "boom"
    assert "kaput" in ei.value.result.error
    results = ei.value.results
    assert [r.name for r in results] == ["ok1", "boom", "never"]
    statuses = {r.name: r.status for r in results}
    assert statuses["boom"] == "failed"
    for name in ("ok1", "never"):
        assert statuses[name] == ("ok" if name in ran else "pending"), name
    line = reg.status_line(results)
    icon = {"ok": "✅", "failed": "❌", "pending": "⌛"}
    for name, status in statuses.items():
        assert f"{icon[status]} {name}" in line


def test_fail_fast_pending_iff_never_started_under_thread_churn(spark):
    """Stress: more jobs than cores and a tiny thread switch interval, so
    the failure races the other jobs' starts. Every run still raises,
    and a job reads pending exactly when its callable never ran."""
    import sys

    reg = JobRegistry()

    def boom(s):
        raise ValueError("kaput")

    reg.register("boom", boom)
    ran = set()
    names = [f"job{i:02d}" for i in range(16)]
    for name in names:
        reg.register(name, lambda s, n=name: ran.add(n))
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(20):
            ran.clear()
            with pytest.raises(PipelineError) as ei:
                reg.run_all(spark)
            results = ei.value.results
            assert [r.name for r in results] == ["boom", *names]
            for r in results[1:]:
                assert r.status == ("ok" if r.name in ran else "pending"), r
    finally:
        sys.setswitchinterval(old)


def _sha2_scan(s):
    # ~minutes of work if not cancelled, in many short tasks (see
    # test_cancel_mid_flight)
    return (
        s.range(0, 2_000_000_000, 1, 512)
        .selectExpr("max(sha2(cast(id as string), 256))")
        .collect()
    )


def test_fail_fast_cancels_in_flight_spark_job(spark):
    """One job fails while another runs a long Spark job: fail-fast
    cancels the slow job's group, the run raises PipelineError within
    seconds rather than minutes, and the shared session stays usable."""
    reg = JobRegistry()
    reg.register("slow_scan", _sha2_scan)

    def boom(s):
        deadline = time.time() + 30
        while not reg.active_job_ids(s, "slow_scan"):
            assert time.time() < deadline, "slow job never reached the scheduler"
            time.sleep(0.1)
        raise ValueError("kaput")

    reg.register("boom", boom)
    t0 = time.time()
    with pytest.raises(PipelineError) as ei:
        reg.run_all(spark)
    assert time.time() - t0 < 60, "fail-fast did not stop the slow job within 60s"
    assert ei.value.result.name == "boom"
    slow, failed = ei.value.results
    assert (slow.name, slow.status) == ("slow_scan", "failed")
    assert "cancel" in (slow.error or "").lower()
    assert (failed.name, failed.status) == ("boom", "failed")
    assert spark.range(100).count() == 100


def test_concurrent_jobs_keep_their_own_job_groups(spark):
    """setJobGroup is per-thread under PySpark's pinned-thread mode: two
    jobs running at once each see only their own scheduler jobs, which
    the per-job progress and the benchmark's stage attribution rely on."""
    reg = JobRegistry()
    barrier = threading.Barrier(2, timeout=30)

    def job(s, n):
        barrier.wait()
        for _ in range(3):
            s.range(0, 200_000, 1, 4).selectExpr(f"sum(id * {n})").collect()

    reg.register("group_a", lambda s: job(s, 1))
    reg.register("group_b", lambda s: job(s, 2))
    assert [r.status for r in reg.run_all(spark)] == ["ok", "ok"]
    tracker = spark.sparkContext.statusTracker()
    ids = {name: set(tracker.getJobIdsForGroup(name)) for name in reg.jobs}
    assert all(ids.values()), ids
    assert not ids["group_a"] & ids["group_b"]
    for name in reg.jobs:
        done, total = reg.progress(spark, name)
        assert done == total > 0, name


def test_concurrent_jobs_into_one_sink_stay_first_writer_wins(spark, tmp_path):
    """Two jobs writing overlapping keys into the same parquet sink at
    once are serialized by the sink's writer lock: no key lands twice,
    and the rows the two report appended add up to the distinct keys."""
    from pyspark.sql import functions as F

    from ferramenta_etl_spark.sinks import write_ignore_conflicts

    sink = str(tmp_path / "shared")
    reg = JobRegistry()
    barrier = threading.Barrier(2, timeout=30)

    def load(s, lo, hi):
        batch = s.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(lo).alias("writer"))
        barrier.wait()
        return write_ignore_conflicts(batch, sink, keys=["k"])

    reg.register("low", lambda s: load(s, 0, 1000))
    reg.register("high", lambda s: load(s, 500, 1500))
    results = reg.run_all(spark)
    assert [r.status for r in results] == ["ok", "ok"]
    out = spark.read.parquet(sink)
    assert out.count() == out.select("k").distinct().count() == 1500
    assert sum(r.output for r in results) == 1500
    # whichever writer took the lock first kept all of its keys
    assert sorted(r.output for r in results) == [500, 1000]


def test_no_fail_fast_continues(spark):
    reg = JobRegistry()

    def boom(s):
        raise ValueError("kaput")

    reg.register("boom", boom)
    reg.register("after", lambda s: 42)
    results = reg.run_all(spark, fail_fast=False)
    assert [r.status for r in results] == ["failed", "ok"]
    assert results[1].output == 42


def test_from_json_config(spark, tmp_path):
    cfg = {
        "job_a": {"label": "Job A", "tooltip": "does A"},
        "job_b": {"label": "Job B"},
    }
    p = tmp_path / "etl_scripts.json"
    p.write_text(json.dumps(cfg))
    calls = []
    reg = JobRegistry.from_json(str(p), resolver=lambda name: (lambda s, n=name: calls.append(n)))
    assert list(reg.jobs) == ["job_a", "job_b"]
    assert reg.jobs["job_a"].tooltip == "does A"
    results = reg.run_all(spark)
    assert sorted(calls) == ["job_a", "job_b"]
    assert [(r.name, r.status) for r in results] == [("job_a", "ok"), ("job_b", "ok")]


def test_example_pipeline_end_to_end_idempotent(spark, tmp_path, sf_dir):
    """The shipped 5-job registry (≙ E:46-67) runs extract->transform->
    idempotent-load end to end; a FULL rerun appends zero rows and leaves
    zero duplicate keys (≙ ON CONFLICT DO NOTHING re-run safety)."""
    from ferramenta_etl_spark.pipeline.jobs import build_jobs, default_config

    cfg_path = tmp_path / "etl_jobs.json"
    cfg = default_config(str(cfg_path))  # auto-created (≙ E:68-81)
    assert cfg_path.exists() and len(cfg) == 5

    sink_dir = str(tmp_path / "sinks")
    jobs = build_jobs(sf_dir, sink_dir)
    reg = JobRegistry()
    for name, meta in cfg.items():
        reg.register(name, jobs[name], meta.get("label", name))

    first = reg.run_all(spark)
    assert [r.status for r in first] == ["ok"] * 5
    assert all(r.output > 0 for r in first), "every job should load rows"

    second = reg.run_all(spark)
    assert [r.status for r in second] == ["ok"] * 5
    assert [r.output for r in second] == [0] * 5, "rerun must append nothing"

    keys = {
        "view_manifestos": ["id_cliente"],
        "view_movimento": ["ms_inicio", "ds_tipo"],
        "view_manifestomovimento": ["id_manifesto", "id_movimento"],
        "view_adicionais": ["id_manifesto", "cd_parcela"],
        "parcela_ciot": ["id_manifesto", "cd_parcela"],
    }
    from pyspark.sql import functions as F

    for table, kcols in keys.items():
        out = spark.read.parquet(f"{sink_dir}/{table}")
        dups = out.groupBy(*kcols).count().filter(F.col("count") > 1).count()
        assert dups == 0, f"{table} has duplicate keys after rerun"


def test_warm_rerun_reuses_compiled_classes(spark, tmp_path, sf_dir, caplog):
    """The session's codegen cache holds the shipped jobs' whole working
    set, so the third run_all of the five jobs in one session compiles
    (almost) no generated class. With Spark's default cache of 100
    classes every re-run compiled about 90-115 of its own classes again;
    with the stage id in the class name, a warm run now and then
    recompiled a few classes AQE had numbered differently. The first
    run may compile nothing either, when earlier tests in the session
    already compiled these classes; that the counter moves at all is
    checked on the process-wide total."""
    from ferramenta_etl_spark.pipeline.jobs import build_jobs
    from ferramenta_etl_spark.pipeline.registry import _compile_counters

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    reg = JobRegistry()
    for name, fn in build_jobs(sf_dir, str(tmp_path / "sinks")).items():
        reg.register(name, fn)
    compiled = []
    for _ in range(3):
        caplog.clear()
        with caplog.at_level(logging.INFO, logger=REGISTRY_LOG):
            assert [r.status for r in reg.run_all(spark)] == ["ok"] * 5
        [m] = [m for r in caplog.records if (m := COMPILED_RE.search(r.getMessage()))]
        assert m.group(1) == "5"
        compiled.append(int(m.group(2)))
    assert _compile_counters(spark)[0] > 0
    assert compiled[2] <= 2, compiled


def test_run_all_survives_unreadable_compile_counters(caplog):
    """The compile counters are read through the session's JVM gateway;
    when that read fails, run_all still runs the jobs and says so."""

    class NoGateway:
        @property
        def _jvm(self):
            raise RuntimeError("gateway gone")

    reg = JobRegistry()
    reg.register("a", lambda s: 1)

    def runner(s, name):
        return JobResult(name, "ok", output=reg.jobs[name].fn(s))

    with caplog.at_level(logging.INFO, logger=REGISTRY_LOG):
        results = reg.run_all(NoGateway(), runner=runner)
    assert [(r.status, r.output) for r in results] == [("ok", 1)]
    assert "run_all: 1 jobs, compile counters unavailable" in caplog.text


def test_progress_is_data_driven(spark):
    """registry.progress reports real completed/total task counts from the
    status tracker while a job runs (vs the reference's synthetic +1%/150ms
    bar, E:385-390): observed mid-flight samples are monotonically
    non-decreasing and end at done == total > 0."""
    reg = JobRegistry()

    def slow(s):
        return (
            s.range(0, 400_000_000, 1, 128)
            .selectExpr("max(sha2(cast(id as string), 256))")
            .collect()
        )

    reg.register("prog_job", slow)
    out = {}
    t = threading.Thread(
        target=lambda: out.update(res=reg.run_one(spark, "prog_job")), daemon=True
    )
    t.start()
    samples = []
    deadline = time.time() + 120
    while t.is_alive():
        assert time.time() < deadline, "job did not finish in 120s"
        d, tot = reg.progress(spark, "prog_job")
        if tot:
            samples.append((d, tot))
        time.sleep(0.05)
    t.join()
    assert out["res"].status == "ok"
    assert samples, "never observed the job in the tracker"
    dones = [d for d, _ in samples]
    assert dones == sorted(dones), "completed-task counts went backwards"
    assert any(0 < d < tot for d, tot in samples), "no mid-flight sample"
    d, tot = reg.progress(spark, "prog_job")
    assert d == tot > 0


def test_cancel_mid_flight(spark):
    """registry.cancel kills a running job via its job group
    (≙ process terminate, E:438-451): the job fails, it does not run to
    completion. cancelJobGroup only hits jobs already submitted to the
    scheduler, so wait for scheduler visibility via active_job_ids
    before cancelling."""
    reg = JobRegistry()

    def slow(s):
        # ~minutes of work if not cancelled (sha2 per row, no overflow).
        # MANY SHORT tasks on purpose: cancellation can race task launch,
        # leaving already-running tasks as zombies that hold executor
        # slots until they finish — 512 × ~2s tasks bound that drain to
        # seconds, while the cancel discards the ~480 queued tasks.
        return (
            s.range(0, 2_000_000_000, 1, 512)
            .selectExpr("max(sha2(cast(id as string), 256))")
            .collect()
        )

    reg.register("slow_job", slow)
    out = {}

    def runner():
        out["res"] = reg.run_one(spark, "slow_job")

    t = threading.Thread(target=runner, daemon=True)
    t.start()
    deadline = time.time() + 30
    while not reg.active_job_ids(spark, "slow_job"):
        assert time.time() < deadline, "job never reached the scheduler"
        time.sleep(0.2)
    reg.cancel(spark, "slow_job")
    t.join(60)
    assert not t.is_alive(), "cancel did not stop the job within 60s"
    assert out["res"].status == "failed"
    assert "cancel" in (out["res"].error or "").lower()
    # the shared session must stay healthy after a cancel
    assert spark.range(100).count() == 100
