"""The benchmark's workloads: inputs, set-up, one run, the reset between
runs, and the correctness checks after every run.

A workload drives the program only through its public entry points
(pipeline.jobs.build_jobs and JOB_SPECS, pipeline.registry.JobRegistry,
pipeline.curation.curate_documents, sources.jdbc,
sinks.write_jdbc_ignore_conflicts) and checks each run against the
independent builds in expected.py.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import expected
import gen
from spans import maybe_wrap

# Input sizes, as a share of the traffic the engine is benchmarked on
# (the sf0.1 fixtures: 150k orders, 600k lineitems, 5 000 documents).
# One process has to stay under about a minute, so that 48 of them fit in
# an hour, and most of it is fixed cost: the session start and the cold
# previous load take ~35 s at any of these sizes. On a 4-core host a whole
# etl_incremental process took 72 s at sf0.05, 58-68 s at sf0.04 and
# 48-59 s at sf0.02; a curation_corpus process over these 8 320
# documents takes 40-52 s.
ETL_SCALE = gen.EtlScale.at(0.02)
CORPUS_SCALE = gen.CorpusScale(documents=6400, low_quality=640, exact_copies=640,
                               near_copies=640)
# jdbc_incremental keeps its target (the flagship's ~6k output rows) far
# below the Derby re-run cliff described on JdbcIncremental.
JDBC_SCALE = gen.EtlScale(customers=1000, orders=6000, lines_per_order=4, parts=1000,
                          suppliers=100, events=5000)

SHORT_NAMES = {
    "alimentacao_view_manifestos": "manifestos",
    "alimentacao_view_movimento": "movimento",
    "alimentacao_view_manifestomovimento": "manifestomovimento",
    "alimentacao_view_adicionais": "adicionais",
    "alimentacao_parcela_ciot": "parcela_ciot",
}
ETL_SOURCE_TABLES = ("orders", "lineitem", "customer", "nation", "region", "part",
                     "supplier", "events")


@dataclass
class Tally:
    """Jobs and checks attempted and failed over a whole benchmark run."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}")
        return ok

    def expect_equal(self, what: str, want: dict, got: dict) -> None:
        for key in sorted(want):
            self.check(f"{what} {key}", got.get(key) == want[key],
                       f"expected {want[key]}, got {got.get(key)}")


@dataclass
class Sample:
    """One measured run."""

    seconds: float
    appended: int
    files_added: int
    bytes_added: int
    bytes_per_row: float
    sink_bytes_before: int
    trace: int | None = None
    stages: dict = field(default_factory=dict)


def tree_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def file_bytes(input_dir: str, tables) -> int:
    return sum(os.path.getsize(os.path.join(input_dir, f"{t}.parquet")) for t in tables)


class Workload:
    """generate() runs before the Spark session exists, prepare() once it
    is up (initial state, warm-up and replay checks; it returns the
    seconds its loads took, without their checks); each measured run is
    restore() then the registry's run_all."""

    jobs: tuple[str, ...] = ()
    jdbc = False  # runs the JDBC source and sink

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.want_appended: dict[str, int] = {}
        self.want_held: dict[str, int] = {}

    def _registry(self, fns: dict):
        from ferramenta_etl_spark.pipeline.registry import JobRegistry

        reg = JobRegistry()
        for name in self.jobs:
            reg.register(name, fns[name])
        return reg

    def check(self, tally: Tally, results, appended: dict, held: dict) -> None:
        for r in results:
            tally.check(f"job {r.name}", r.status == "ok", str(r.error))
        tally.expect_equal("rows appended by", appended, {r.name: r.output for r in results})
        tally.expect_equal("rows held by the sink of", held, self.sink_counts())

    @staticmethod
    def run_all(spark, reg, runner=None):
        """(the registry's results, the seconds run_all took)"""
        t = time.perf_counter()
        results = reg.run_all(spark, fail_fast=False, runner=runner)
        return results, time.perf_counter() - t

    def run(self, spark, tally: Tally, reg, runner=None) -> Sample:
        """One measured run: reset the sink, time run_all, check."""
        self.restore()
        files0, bytes0 = self.usage()
        results, seconds = self.run_all(spark, reg, runner)
        files1, bytes1 = self.usage()
        self.check(tally, results, self.want_appended, self.want_held)
        appended = sum(r.output or 0 for r in results)
        return Sample(seconds, appended, files1 - files0, bytes1 - bytes0,
                      self.bytes_per_row(bytes0, bytes1, appended), bytes0)

    def bytes_per_row(self, before: int, after: int, appended: int) -> float:
        return (after - before) / max(appended, 1)

    def close(self) -> None:
        pass


class EtlIncremental(Workload):
    """The scheduled re-run of the five shipped jobs: the base input plus
    a seeded delta, loaded into the parquet sinks as the previous run
    (the base input alone) left them."""

    jobs = tuple(SHORT_NAMES)

    def generate(self) -> str:
        base, delta = gen.etl_tables(self.seed, ETL_SCALE)
        full = gen.merged(base, delta)
        self.base_dir = os.path.join(self.work, "base")
        self.input_dir = os.path.join(self.work, "input")
        gen.write_tables(base, self.base_dir)
        gen.write_tables(full, self.input_dir)
        self.base_held = {j: n for j, (_, n) in
                          expected.job_counts(self.jobs, self.base_dir, self.base_dir).items()}
        counts = expected.job_counts(self.jobs, self.base_dir, self.input_dir)
        self.want_appended = {j: a for j, (a, _) in counts.items()}
        self.want_held = {j: n for j, (_, n) in counts.items()}
        self.sink = os.path.join(self.work, "sink")
        self.snapshot = os.path.join(self.work, "sink_after_previous_run")
        return gen.digest({**{f"base/{t}": v for t, v in base.items()},
                           **{f"input/{t}": v for t, v in full.items()}})

    def registry(self, input_dir: str | None = None, tracer=None):
        """The shipped jobs over ``input_dir``; with a tracer, each
        JOB_SPECS plan builder records a ``plans.build`` span."""
        from ferramenta_etl_spark.pipeline import jobs as shipped

        specs = dict(shipped.JOB_SPECS)
        try:
            for name, (plan, sink, keys) in specs.items():
                shipped.JOB_SPECS[name] = (maybe_wrap(tracer, "plans.build", plan), sink, keys)
            fns = shipped.build_jobs(input_dir or self.input_dir, self.sink)
        finally:
            shipped.JOB_SPECS.update(specs)
        return self._registry(fns)

    def prepare(self, spark, tally: Tally) -> float:
        # The previous scheduled run (the full-load path, cold), one
        # untimed run of the measured shape, then its replay, which must
        # append nothing.
        results, previous_s = self.run_all(spark, self.registry(self.base_dir))
        self.check(tally, results, self.base_held, self.base_held)
        shutil.copytree(self.sink, self.snapshot)
        reg = self.registry()
        warm = self.run(spark, tally, reg)
        results, _ = self.run_all(spark, reg)
        self.check(tally, results, dict.fromkeys(self.jobs, 0), self.want_held)
        return previous_s + warm.seconds

    def restore(self) -> None:
        shutil.rmtree(self.sink)
        shutil.copytree(self.snapshot, self.sink)

    def usage(self) -> tuple[int, int]:
        return tree_usage(self.sink)

    def sink_counts(self) -> dict[str, int]:
        from ferramenta_etl_spark.pipeline.jobs import JOB_SPECS

        return {j: expected.sink_rows(f"{self.sink}/{JOB_SPECS[j][1]}/*.parquet")
                for j in self.jobs}

    def layer_extras(self, spark) -> dict[str, float]:
        from ferramenta_etl_spark.pipeline.jobs import JOB_SPECS
        from ferramenta_etl_spark.sources import load_table

        plans = [plan(spark, self.input_dir) for plan, _, _ in JOB_SPECS.values()]
        exec_s = sum(timed(noop, df) for df in plans)
        scan_s = sum(timed(noop, load_table(spark, self.input_dir, t)) for t in ETL_SOURCE_TABLES)
        return {
            "plans.exec_s": exec_s,
            "sources.scan_s": scan_s,
            "sources.bytes_read": file_bytes(self.input_dir, ETL_SOURCE_TABLES),
            "sinks.rows_offered": sum(df.count() for df in plans),
            "offered_exec_s": exec_s,
        }


class CurationCorpus(Workload):
    """curate_documents over a seeded corpus with planted exact and near
    duplicates, into an empty sink every run."""

    jobs = ("curate_documents",)

    def generate(self) -> str:
        docs, planted = gen.corpus(self.seed, CORPUS_SCALE)
        self.input_dir = os.path.join(self.work, "input")
        gen.write_tables({"documents": docs}, self.input_dir)
        rows = expected.curated_rows(docs, planted)
        self.rows_digest = expected.rows_digest(rows)
        self.want_appended = self.want_held = {self.jobs[0]: len(rows)}
        self.sink_dir = os.path.join(self.work, "sink")
        self.sink = os.path.join(self.sink_dir, "curated_documents")
        return gen.digest({"documents": docs})

    def registry(self, tracer=None):
        from ferramenta_etl_spark.pipeline.curation import curate_documents

        return self._registry({
            self.jobs[0]: lambda spark: curate_documents(spark, self.input_dir, self.sink_dir)
        })

    def prepare(self, spark, tally: Tally) -> float:
        # the cold first run, checked, is the warm-up (the replay check
        # runs on etl_incremental; here it would cost more than a run)
        return self.run(spark, tally, self.registry()).seconds

    def check(self, tally: Tally, results, appended: dict, held: dict) -> None:
        super().check(tally, results, appended, held)
        got = expected.rows_digest(expected.curated_sink_rows(self.sink))
        tally.check("curated rows equal the independent build", got == self.rows_digest,
                    f"sink digest {got} != {self.rows_digest}")

    def restore(self) -> None:
        shutil.rmtree(self.sink_dir, ignore_errors=True)

    def usage(self) -> tuple[int, int]:
        return tree_usage(self.sink)

    def sink_counts(self) -> dict[str, int]:
        return {self.jobs[0]: expected.sink_rows(f"{self.sink}/*/*.parquet")}

    def layer_extras(self, spark) -> dict[str, float]:
        """Stage costs by prefix differences: each prefix of the curation
        operator chain (pipeline/curation.curated_frame with its
        defaults) runs into a noop sink in turn."""
        from pyspark.sql import functions as F

        from ferramenta_etl_spark.operators.dedup import (
            dedup_exact,
            dedup_keep_canonical,
            minhash_lsh_pairs,
        )
        from ferramenta_etl_spark.operators.text import lang_id, n_tokens, quality_score
        from ferramenta_etl_spark.pipeline.curation import curated_frame
        from ferramenta_etl_spark.sources import load_table

        docs = load_table(spark, self.input_dir, "documents")
        text = F.col("text")
        good = docs.select(
            "doc_id", "text", "source", "n_chars", lang_id(text).alias("lang"),
            F.round(quality_score(text), 6).alias("quality"), n_tokens(text).alias("n_tok"),
        ).filter(F.col("lang").isNotNull() & (F.col("quality") >= 0.5) & (F.col("n_tok") >= 5))

        # cumulative seconds to build and run each prefix: building counts
        # because the LSH and component steps run eagerly
        score = timed(noop, good)
        exact = timed(lambda: noop(dedup_exact(good)))
        pairs = timed(lambda: noop(minhash_lsh_pairs(dedup_exact(good))))
        unique = dedup_exact(good).persist()  # two consumers, as in curated_frame
        try:
            t = time.perf_counter()
            kept = dedup_keep_canonical(unique, minhash_lsh_pairs(unique))
            noop(kept)
            canonical = time.perf_counter() - t
            n_kept = kept.count()
        finally:
            unique.unpersist()
        # The frame the sink is handed has its components already built
        # (eagerly, inside curated_frame): time what is left to run.
        offered = curated_frame(spark, self.input_dir)
        try:
            offered_exec_s = timed(noop, offered)
        finally:
            for dep in offered._persisted_deps:
                dep.unpersist()
        return {
            "sources.scan_s": timed(noop, docs),
            "sources.bytes_read": file_bytes(self.input_dir, ["documents"]),
            "operators.score_s": score,
            "operators.dedup_exact_s": exact - score,
            "operators.minhash_lsh_pairs_s": pairs - exact,
            "operators.dedup_keep_canonical_s": canonical - pairs,
            "operators.lsh_pairs": minhash_lsh_pairs(dedup_exact(good)).count(),
            "operators.docs_kept": n_kept,
            "sinks.rows_offered": n_kept,
            "offered_exec_s": offered_exec_s,
        }


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
TARGET, TARGET_SNAPSHOT = "parcela_ciot", "parcela_ciot_previous"
TARGET_KEYS = ["id_manifesto", "cd_parcela"]
JDBC_SOURCE_TABLES = ("orders", "lineitem", "customer", "nation", "region", "part", "supplier")


class JdbcIncremental(Workload):
    """The reference's deployment shape with embedded Derby standing in
    for both servers: extract the source tables over JDBC, run the
    flagship transform, conflict-insert into a target that holds the
    previous load. The only workload that runs sources/jdbc.py and
    sinks/jdbc_conflict.py; it is not in BENCHMARK.json, whose time
    budget fits two workloads, and runs by hand with
    ``--workload jdbc_incremental`` (test_perfbench.py runs it once).

    The target holds ~6k rows, well below a measured cliff: a target
    made by CREATE TABLE ... AS ... WITH NO DATA has no key index, so
    Derby runs the sink's NOT EXISTS as a nested loop; a re-run against
    20 000 target rows took 0.45 s, against 40 000 rows 241 s."""

    jobs = ("alimentacao_parcela_ciot",)
    jdbc = True

    def generate(self) -> str:
        base, delta = gen.etl_tables(self.seed, JDBC_SCALE)
        full = gen.merged(base, delta)
        self.base_dir = os.path.join(self.work, "base")
        self.input_dir = os.path.join(self.work, "input")
        gen.write_tables(base, self.base_dir)
        gen.write_tables(full, self.input_dir)
        job = self.jobs[0]
        self.base_held = {job: expected.job_counts(self.jobs, self.base_dir, self.base_dir)[job][1]}
        appended, held = expected.job_counts(self.jobs, self.base_dir, self.input_dir)[job]
        self.want_appended, self.want_held = {job: appended}, {job: held}
        return gen.digest({**{f"base/{t}": v for t, v in base.items()},
                           **{f"input/{t}": v for t, v in full.items()}})

    def _db(self, name: str):
        from ferramenta_etl_spark.sources.jdbc import JdbcConfig

        path = os.path.join(self.work, name)
        return JdbcConfig(url=f"jdbc:derby:{path};create=true", user="app", password="app",
                          driver=DERBY_DRIVER)

    def _connect(self):
        jvm = self.spark._jvm
        jvm.java.lang.Class.forName(DERBY_DRIVER)
        return jvm.java.sql.DriverManager.getConnection(self.dst.url, self.dst.user,
                                                        self.dst.password)

    def statement(self, sql: str) -> int:
        """Executes one statement on the target over a fresh connection,
        as the sink's default executor does; this is the sink's public
        ``run_statement`` hook."""
        conn = self._connect()
        try:
            stmt = conn.createStatement()
            try:
                return int(stmt.executeUpdate(sql))
            finally:
                stmt.close()
        finally:
            conn.close()

    def _query_int(self, sql: str) -> int:
        conn = self._connect()
        try:
            rs = conn.createStatement().executeQuery(sql)
            rs.next()
            return int(rs.getLong(1))
        finally:
            conn.close()

    def registry(self, tracer=None):
        from ferramenta_etl_spark.plans.flagship import flagship
        from ferramenta_etl_spark.sinks import write_jdbc_ignore_conflicts
        from ferramenta_etl_spark.sources.jdbc import jdbc_table_reader

        extract = maybe_wrap(tracer, "sources.jdbc_load",
                             lambda spark, t: jdbc_table_reader(spark, self.src, t).load())
        build = maybe_wrap(tracer, "plans.build", flagship)
        load = maybe_wrap(tracer, "sinks.write", write_jdbc_ignore_conflicts)
        hook = None if tracer is None else tracer.wrap("sinks.jdbc_statement", self.statement)

        def job(spark):
            tables = {t: extract(spark, t) for t in JDBC_SOURCE_TABLES}
            df = build(spark, self.input_dir, tables=tables)
            return load(df, self.dst, TARGET, keys=TARGET_KEYS, run_statement=hook)

        return self._registry({self.jobs[0]: job})

    def prepare(self, spark, tally: Tally) -> float:
        from ferramenta_etl_spark.plans.flagship import flagship
        from ferramenta_etl_spark.sinks import write_jdbc_ignore_conflicts
        from ferramenta_etl_spark.sources.jdbc import jdbc_append_writer

        self.spark = spark
        self.src, self.dst = self._db("source_db"), self._db("target_db")
        for t in JDBC_SOURCE_TABLES:
            jdbc_append_writer(spark.read.parquet(f"{self.input_dir}/{t}.parquet"), self.src, t).save()
        # the previous load: the flagship over the base input
        t = time.perf_counter()
        n = write_jdbc_ignore_conflicts(flagship(spark, self.base_dir), self.dst, TARGET,
                                        keys=TARGET_KEYS)
        previous_s = time.perf_counter() - t
        job = self.jobs[0]
        tally.expect_equal("rows appended by the previous load of", self.base_held, {job: n})
        tally.expect_equal("rows held after the previous load of", self.base_held,
                           self.sink_counts())
        self.statement(f"CREATE TABLE {TARGET_SNAPSHOT} AS SELECT * FROM {TARGET} WITH NO DATA")
        self.statement(f"INSERT INTO {TARGET_SNAPSHOT} SELECT * FROM {TARGET}")
        # warm-up run, then its replay, which must insert nothing
        reg = self.registry()
        warm = self.run(spark, tally, reg)
        results, _ = self.run_all(spark, reg)
        self.check(tally, results, {job: 0}, self.want_held)
        return previous_s + warm.seconds

    def restore(self) -> None:
        # CREATE TABLE ... AS ... WITH NO DATA, as the sink's own bootstrap
        # does, so the target carries no key index either
        self.statement(f"DROP TABLE {TARGET}")
        self.statement(f"CREATE TABLE {TARGET} AS SELECT * FROM {TARGET_SNAPSHOT} WITH NO DATA")
        self.statement(f"INSERT INTO {TARGET} SELECT * FROM {TARGET_SNAPSHOT}")

    def usage(self) -> tuple[int, int]:
        return 0, self._query_int(
            "SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM "
            f"TABLE (SYSCS_DIAG.SPACE_TABLE('APP', '{TARGET.upper()}')) AS T"
        )

    def bytes_per_row(self, before: int, after: int, appended: int) -> float:
        # Derby allocates whole pages, so a few hundred appended rows move
        # the allocation in coarse steps: report the target's allocated
        # bytes per row it holds after the run instead.
        return after / max(self.sink_counts()[self.jobs[0]], 1)

    def sink_counts(self) -> dict[str, int]:
        return {self.jobs[0]: self._query_int(f"SELECT COUNT(*) FROM {TARGET}")}

    def layer_extras(self, spark) -> dict[str, float]:
        from ferramenta_etl_spark.plans.flagship import flagship
        from ferramenta_etl_spark.sources.jdbc import jdbc_table_reader

        tables = {t: jdbc_table_reader(spark, self.src, t).load() for t in JDBC_SOURCE_TABLES}
        scan_s = sum(timed(noop, df) for df in tables.values())
        plan = flagship(spark, self.input_dir, tables=tables)
        exec_s = timed(noop, plan)
        return {
            "sources.jdbc_scan_s": scan_s,
            "plans.exec_s": exec_s,
            "sinks.rows_offered": plan.count(),
            "offered_exec_s": exec_s,
        }

    def close(self) -> None:
        from py4j.protocol import Py4JJavaError

        if not hasattr(self, "spark"):
            return
        for name in ("source_db", "target_db"):
            try:  # a successful Derby shutdown is reported as an SQLException
                self.spark._jvm.java.sql.DriverManager.getConnection(
                    f"jdbc:derby:{os.path.join(self.work, name)};shutdown=true")
            except Py4JJavaError:
                pass


WORKLOADS = {
    "etl_incremental": EtlIncremental,
    "curation_corpus": CurationCorpus,
    "jdbc_incremental": JdbcIncremental,
}
