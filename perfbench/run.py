"""End-to-end benchmark of the ETL engine.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Run from the repository root. One process: generate the workload's inputs
from the seed, start the engine's Spark session at local[<cores>], set up
the sink state and warm up (checked, untimed), then repeat the measured
run for ``--seconds`` (at least once), checking every output. The
last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (BENCHMARK.json lists both). A traced
run alternates untraced and traced runs, so the tracing overhead is
their median difference, and writes its spans to
``.perfbench/spans-<workload>-<seed>.json``.

``setup_s`` is the engine's set-up: the session start plus the cold
first load and the warm-up run, timed around the engine's calls only, so
the benchmark's own input generation and checks are not in it.

Scratch files live under ``.perfbench/`` in the repository root and are
removed at exit.
"""

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "ferramenta_etl_spark")

MIN_RUNS = 1  # measured runs per process, whatever --seconds says
# The session factory's 16g default heap serves bench.py's local[32],
# 512 MB per task slot; this keeps that share per slot, and starts the
# heap at its full size. A heap the collector may grow follows the
# collector's timing, not the workload: peak RSS over five seeds of one
# input size spread 2.6-4.5 GB under the 16g default and 1.4-2.0 GB under
# a growable 2g heap, against 2.64-2.74 GB with the heap fixed at 2g.
HEAP_PER_SLOT_MB = 512

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "sink_bytes_per_row": "B/row",
    "peak_rss_mb": "MB",
    "success_share": "ratio",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    **{f"pipeline.job_s.{short}": "s" for short in (
        "manifestos", "movimento", "manifestomovimento", "adicionais", "parcela_ciot")},
    "pipeline.busy_share": "ratio",
    "pipeline.tasks": "count",
    "pipeline.stages": "count",
    "pipeline.shuffle_write_bytes": "B",
    "pipeline.spill_bytes": "B",
    "pipeline.gc_s": "s",
    "pipeline.task_failures": "count",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "sources.scan_s": "s",
    "sources.bytes_read": "B",
    "sinks.write_s": "s",
    "sinks.overhead_s": "s",
    "sinks.bytes_read": "B",
    "sinks.rows_offered": "count",
    "sinks.rows_appended": "count",
    "sinks.append_ratio": "ratio",
    "sinks.files_added": "count",
    "sinks.bytes_added": "B",
    "operators.score_s": "s",
    "operators.dedup_exact_s": "s",
    "operators.minhash_lsh_pairs_s": "s",
    "operators.dedup_keep_canonical_s": "s",
    "operators.lsh_pairs": "count",
    "operators.docs_kept": "count",
    "trace.overhead_s": "s",
}
# only jdbc_incremental, which BENCHMARK.json does not list, runs these
JDBC_LAYER_UNITS = {
    "sources.jdbc_scan_s": "s",
    "sinks.jdbc_stage_s": "s",
    "sinks.jdbc_statement_s": "s",
}


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="End-to-end benchmark of the ETL engine.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def start_session(work: str, cores: int):
    """The engine's own session factory, with every scratch path inside
    ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{HEAP_PER_SLOT_MB * cores}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
    )
    from ferramenta_etl_spark.session import get_session

    spark = get_session(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -Duser.timezone=UTC "
                f"-Xms{HEAP_PER_SLOT_MB * cores}m"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the traced run reads every job of the process back from the UI
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(samples, setup_s, peak_mb, tally) -> dict:
    return {
        "setup_s": setup_s,
        "run_s": statistics.median(s.seconds for s in samples),
        "sink_bytes_per_row": statistics.median(s.bytes_per_row for s in samples),
        "peak_rss_mb": peak_mb,
        "success_share": (tally.attempted - tally.failed) / tally.attempted,
    }


def per_layer(traced, plain, tracer, extras, session_s, cores, units) -> dict:
    from workloads import SHORT_NAMES

    def med(fn):
        return statistics.median(fn(s) for s in traced)

    m = dict.fromkeys(units, 0.0)
    m["session.start_s"] = session_s
    for short in SHORT_NAMES.values():
        m[f"pipeline.job_s.{short}"] = med(lambda s: tracer.total(f"pipeline.job.{short}", s.trace))
    m["pipeline.busy_share"] = med(lambda s: s.stages["run_ms"] / 1000.0 / (s.seconds * cores))
    m["pipeline.tasks"] = med(lambda s: s.stages["tasks"])
    m["pipeline.stages"] = med(lambda s: s.stages["stages"])
    m["pipeline.shuffle_write_bytes"] = med(lambda s: s.stages["shuffle_write_bytes"])
    m["pipeline.spill_bytes"] = med(lambda s: s.stages["spill_bytes"])
    m["pipeline.gc_s"] = med(lambda s: s.stages["gc_ms"] / 1000.0)
    m["pipeline.task_failures"] = med(lambda s: s.stages["task_failures"])
    m["plans.build_s"] = med(lambda s: tracer.total("plans.build", s.trace))
    m["sinks.write_s"] = med(lambda s: tracer.total("sinks.write", s.trace))
    if "sinks.jdbc_statement_s" in units:
        m["sinks.jdbc_statement_s"] = med(lambda s: tracer.total("sinks.jdbc_statement", s.trace))
        m["sinks.jdbc_stage_s"] = m["sinks.write_s"] - m["sinks.jdbc_statement_s"]
    m["sinks.rows_appended"] = med(lambda s: s.appended)
    m["sinks.files_added"] = med(lambda s: s.files_added)
    m["sinks.bytes_added"] = med(lambda s: s.bytes_added)
    for name in units:
        if name in extras:
            m[name] = extras[name]
    # what the sink costs beyond running the frame it is offered
    m["sinks.overhead_s"] = m["sinks.write_s"] - extras["offered_exec_s"]
    m["sinks.bytes_read"] = med(lambda s: s.sink_bytes_before)
    m["sinks.append_ratio"] = m["sinks.rows_appended"] / max(m["sinks.rows_offered"], 1)
    m["trace.overhead_s"] = (statistics.median(s.seconds for s in traced)
                             - statistics.median(s.seconds for s in plain))
    return m


def measure(args, work: str) -> tuple[dict, list[str]]:
    from spans import StageCounters, Tracer, instrumented
    from workloads import SHORT_NAMES, WORKLOADS, Tally

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    digest = wl.generate()
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t
    try:
        tally = Tally()
        t = time.perf_counter()
        warm_s = wl.prepare(spark, tally)
        prepare_s = time.perf_counter() - t
        setup_s = session_s + warm_s
        plain_reg = wl.registry()
        plain, traced = [], []
        tracer = Tracer(time.perf_counter()) if args.trace else None
        if tracer:
            counters = StageCounters(spark)
            traced_reg = wl.registry(tracer=tracer)

            def runner(spark_, name):
                with tracer.span(f"pipeline.job.{SHORT_NAMES.get(name, name)}"):
                    return traced_reg.run_one(spark_, name)

        deadline = time.perf_counter() + args.seconds
        i = 0
        while (min(len(plain), len(traced) if tracer else MIN_RUNS) < MIN_RUNS
               or time.perf_counter() < deadline):
            if tracer and i % 2:
                tracer.trace = i
                first = counters.last_job_id()
                with instrumented(tracer):
                    sample = wl.run(spark, tally, traced_reg, runner)
                sample.trace = i
                sample.stages = counters.totals(first, wl.jobs)
                traced.append(sample)
            else:
                plain.append(wl.run(spark, tally, plain_reg))
            i += 1
        if tracer:
            extras = wl.layer_extras(spark)
            units = PER_LAYER_UNITS | (JDBC_LAYER_UNITS if wl.jdbc else {})
            metrics = per_layer(traced, plain, tracer, extras, session_s, cores, units)
            os.makedirs(OUT, exist_ok=True)
            tracer.write(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = end_to_end(plain, setup_s, jvm_peak_rss_mb(spark), tally)
            units = END_TO_END_UNITS
    finally:
        try:
            wl.close()
        finally:
            stop_session(spark)
    notes = [
        f"workload={args.workload} seed={args.seed} cores={cores} input_sha256={digest}",
        f"generate_s={gen_s:.3f} session_s={session_s:.3f} loads_s={warm_s:.3f} "
        f"prepare_with_checks_s={prepare_s:.3f}",
        "run_s samples: " + " ".join(f"{s.seconds:.3f}" for s in plain),
        *tally.failures,
    ]
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, notes


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: the engine package is missing ({PACKAGE})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, notes = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in notes:
        print(f"# {line}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
