"""SparkSession factory with scale-oriented defaults.

The reference is a single-threaded client that pushes all computation to a
remote RDBMS (``Select de Importação de Dados.py:192``). Here the engine IS
Spark, so the session carries the tuning that matters on a real cluster:
AQE (runtime coalescing + skew-join splitting), sane shuffle parallelism,
and Arrow for any pandas-interop path.

On a 1000-executor cluster the same code runs unchanged: only
``master``/``shuffle_partitions`` come from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Shuffle parallelism: from SPARK_GRAFT_CPUS locally; on a real
    cluster you would size this ~2-3x total executor cores (or leave AQE
    coalescing to shrink an over-provisioned value)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(
    app_name: str = "ferramenta-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults chosen for 100 TB posture:
    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switching (sort-merge -> broadcast when a
      shuffle side turns out small).
    - ``nanosAsLong``: the events table carries TIMESTAMP(NANOS) parquet,
      which vanilla Spark refuses; we read nanos as int64 and normalize in
      the events source (sources/tables.py).
    - Arrow enabled so mapInPandas/pandas_udf paths move columnar batches,
      not pickled rows.
    - Generated code compiled once per process, not once per run. The
      cache of compiled classes holds 1000 (Spark's default is 100); the
      five shipped jobs generate about 110-115 classes per run, so at 100
      every warm re-run evicted its own classes and compiled them again.
      It is a static conf, read once per JVM when the first code
      generator starts, so like the heap it has no effect if a
      SparkContext already exists in the process. And the whole-stage
      class name leaves out the codegen stage id: AQE numbers the stages
      in the order they are planned, which varies from run to run, and
      a renumbered stage missed the cache with otherwise identical code.
      ``extra_conf`` can still override either.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # Spark's default 1g heap serves ALL local-mode task slots; 32
        # concurrent sort/join tasks OOM on it at ~10x the test scale
        # (measured: WindowGroupLimit spill-reader allocation failure).
        # Size the heap like a real executor. Only effective for the
        # process's first session — a JVM can't grow after launch.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelism-first coalescing picks target size =
        # max(minPartitionSize, total/defaultParallelism); the default
        # 1MB floor collapses a small shuffle output (e.g. the deduped
        # corpus feeding the shingle explode) onto a handful of cores.
        # A 128k floor keeps post-shuffle map stages parallel on small
        # intermediates while changing NOTHING at scale, where
        # total/parallelism >> 1MB and the advisory 64MB target governs.
        # (Coalescing can only merge, never split, so the worst case is
        # simply the pre-coalesce shuffle.partitions.)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # un-filtered MIN/MAX/COUNT aggregates answered from parquet
        # footer statistics instead of data pages (off by default)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # compiled generated classes: an LRU above the shipped jobs'
        # ~115-class working set, and class names without the run-to-run
        # varying stage id, so a re-run reuses every class
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
