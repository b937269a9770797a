"""Plan-shape regression tests: the scale properties that make these
plans survive a 100x scale-up, asserted against the physical plan so a
refactor can't silently reintroduce a flagged leak.

Each guarded property traces to a reviewed scale fix:
- flagship's final global sort is opt-in (a full-data range exchange
  that only controls insertion order, SURVEY.md §2 #24);
- top-k uses the native WindowGroupLimit rewrite, never a full sort of
  the table into |groups| partitions;
- IVF bucket assignment is a pure projection — zero exchanges;
- dimension joins broadcast; filters reach the parquet scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_default_has_no_global_sort(spark):
    from ferramenta_etl_spark.plans.flagship import QUERIES

    plan = physical(QUERIES["flagship"](spark, SF_SMOKE))
    assert "rangepartitioning" not in plan.lower()


def test_flagship_ordered_opt_in_sorts(spark):
    import ferramenta_etl_spark.plans.flagship as fmod

    # the module-level name is the registry wrapper; reach the wrapped fn
    raw = fmod.flagship.__wrapped__
    plan = physical(raw(spark, SF_SMOKE, ordered=True))
    assert "rangepartitioning" in plan.lower()


def test_flagship_broadcasts_dimensions(spark):
    from ferramenta_etl_spark.plans.flagship import QUERIES

    plan = physical(QUERIES["flagship"](spark, SF_SMOKE))
    # nation, region, part, supplier x2, bank: at least 3 must broadcast
    assert plan.count("BroadcastHashJoin") >= 3


def test_latest_manifesto_broadcast_gated_on_widened_estimate(spark, monkeypatch):
    """The flagship's broadcasts (the dim chain and latest_manifesto)
    are gated on one estimate: the base dims' size times
    _DIM_BROADCAST_WIDTH. Checked at the edge of the cap, on the gate
    and on the flagship's analyzed plan: below it both hints are
    present, at it neither is."""
    import ferramenta_etl_spark.plans.flagship as fmod
    from ferramenta_etl_spark.sources import load_table

    dims = [load_table(spark, SF_SMOKE, t) for t in ("customer", "nation", "region")]
    est = sum(int(d._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()) for d in dims)
    wide = int(est * fmod._DIM_BROADCAST_WIDTH)

    def hints(cap: int) -> int:
        monkeypatch.setattr(fmod, "_BCAST_DIM_CAP_BYTES", cap)
        plan = fmod.flagship.__wrapped__(spark, SF_SMOKE)
        return plan._jdf.queryExecution().analyzed().toString().count("strategy=broadcast")

    assert hints(wide + 1) == 2
    assert fmod._dims_fit_broadcast(*dims)
    assert hints(wide) == 0
    assert not fmod._dims_fit_broadcast(*dims)


@pytest.mark.parametrize("query", ["topk_per_group", "embedding_cosine_topk"])
def test_topk_uses_window_group_limit(spark, query):
    from ferramenta_etl_spark.plans import all_queries

    plan = physical(all_queries()[query](spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, (
        f"{query}: rank-filter-over-window must compile to the partial/"
        "final WindowGroupLimit shape, not a full per-group sort"
    )


def test_ivf_bucket_assignment_is_shuffle_free(spark):
    from ferramenta_etl_spark.operators.similarity import (
        assign_ivf_buckets,
        derive_centroids,
    )
    from ferramenta_etl_spark.sources import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = derive_centroids(emb, 4)
    plan = physical(assign_ivf_buckets(emb, cents))
    assert "Exchange" not in plan


def test_filter_and_projection_reach_parquet_scan(spark):
    from ferramenta_etl_spark.sources import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = physical(q)
    assert "GreaterThan(l_quantity" in plan  # predicate pushed to the scan
    # column pruning: the read schema carries only the 2 projected columns
    readschema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in readschema and "l_extendedprice" not in readschema


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark n-gram set must broadcast (metadata-scale) so the
    corpus-side gram stream joins without an exchange.

    Uses the UNWRAPPED builder: the registry cache returns the same
    DataFrame other tests may have executed, whose QueryExecution then
    shows the final adaptive plan with exchanges duplicated inside
    materialized query stages."""
    import ferramenta_etl_spark.plans.extensions as ext

    plan = physical(ext.text_decontaminate.__wrapped__(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    # hash exchanges: doc-keyed ones (the hit-position/count aggregation
    # keys on __sid, the span operator's doc alias; plus any doc_id join
    # exchange) and AT MOST ONE gram-keyed exchange — the distinct over
    # the BENCHMARK grams feeding the broadcast, which is bounded by
    # benchmark size. The corpus-side gram stream itself never shuffles
    # (round 10: the span remover's count_distinct was rewritten to a
    # local array_distinct precisely because the distinct aggregate
    # planned a second (__sid, g) exchange).
    part_lines = [
        l for l in plan.lower().splitlines() if "hashpartitioning" in l
    ]
    gram_exchanges = [
        l
        for l in part_lines
        if "doc_id" not in l
        and "__sid" not in l
        # r14: the single-split parallelism guard now spreads by HASH on
        # caller-named keys (text/doc id) instead of round-robin, so it
        # appears as a repartition_by_num hashpartitioning exchange —
        # input-sized scan balancing, not a gram shuffle
        and "repartition_by_num" not in l
    ]
    assert len(gram_exchanges) <= 1, part_lines


def test_exact_dedup_shuffles_digests_not_text(spark):
    """The exact-dedup shuffle must key on the fixed-width digest, not
    raw document text (only 32-byte hashes cross the wire at 100 TB)."""
    from ferramenta_etl_spark.plans import all_queries

    plan = physical(all_queries()["dedup_exact"](spark, SF_SMOKE))
    assert "hashpartitioning" in plan.lower()
    part_lines = [
        l for l in plan.lower().splitlines() if "hashpartitioning" in l
    ]
    assert all("text#" not in l for l in part_lines), part_lines


def test_plan_construction_is_driver_job_free(spark, tmp_path):
    """Building a registered query must DECLARE the plan, not run it:
    zero Spark jobs during construction (VERDICT r03 #5). The one
    exception is embedding_ann_ivf, whose first build per dataset
    derives and memoizes IVF centroids — an index-BUILD step, the same
    class as building the MinHash index, documented in plans/extensions.

    The dataset path is a fresh symlink to the smoke fixture so the
    plan cache and the load_table memo (both keyed on the sf_dir
    string) cannot serve pre-built plans and trivially pass the test;
    jobs are attributed per-build via job groups (public API). The
    table memo is pre-warmed first: Spark runs one tiny footer/schema
    job per NEW spark.read.parquet — that is scan DECLARATION (paid
    once per dataset by any engine), not plan composition, and it is
    not what this test polices."""
    import __spark_entry__ as m

    from ferramenta_etl_spark.sources import load_table

    link = tmp_path / "sfdir"
    link.symlink_to(SF_SMOKE)
    sf = str(link)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        load_table(spark, sf, t)

    # embedding_ann_ivf: first build per dataset derives + memoizes IVF
    # centroids (index-BUILD class). grouped_quantiles_auto: its
    # cardinality probe is ONE narrow hash-sampled aggregate deciding
    # exact-vs-sketch routing — a documented plan-time statistics job
    # (the ANALYZE analog), not accidental execution. hybrid_retrieval:
    # its BM25 index build (corpus count + avgdl scalar) is the same
    # index-BUILD class — the train-once artifact cost every serving
    # call amortizes (bench's bm25_topk composite pays it at
    # plan-build time for the same reason). dsir_score: fit_dsir is the
    # same train-once class (two checkpointed bucket-count aggregates +
    # two scalar totals). events_rollup_serve: the MATERIALIZE half of
    # the continuous aggregate (watermark probe + closed-window append)
    # runs as the scheduler's job by design; only the serve union is
    # lazy. events_rollup_cascade: same class — the 15m materialization
    # plus the two cascade appends are the scheduler's jobs; only the
    # two-level union serve is lazy. text_quality_score (r13): its
    # tfidf arm needs the corpus doc count N for idf — the same
    # train-once scalar as hybrid_retrieval's BM25 build. text_lang_id
    # (r13): train_bigram_lm's vocabulary count — the LM fit is the
    # dsir_score train-once class.
    allowed = {"embedding_ann_ivf", "grouped_quantiles_auto",
               "hybrid_retrieval", "dsir_score", "events_rollup_serve",
               "events_rollup_cascade", "text_quality_score",
               "text_lang_id"}
    sc = spark.sparkContext
    offenders: dict[str, int] = {}
    for name, fn in sorted(m.queries().items()):
        group = f"plan-build-{name}"
        sc.setJobGroup(group, f"plan construction: {name}")
        try:
            fn(spark, sf)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        if jobs and name not in allowed:
            offenders[name] = len(jobs)
    assert not offenders, (
        f"plan builders ran driver jobs at composition time: {offenders}"
    )


def test_no_rowwise_python_or_cartesian_in_any_registered_plan(spark):
    """Registry-wide anti-pattern sweep: no registered query's physical
    plan may contain BatchEvalPython (a row-at-a-time Python UDF — the
    slow path this engine bans; Python is allowed only Arrow-batched as
    ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas) or
    CartesianProduct (an unkeyed all-pairs join — every pairwise
    operator here must go through blocking/banding keys or an explicit
    broadcast nested loop of a bounded query side). A regression that
    sneaks either into ANY of the 50 registered plans fails here, not
    in the next round's plan audit."""
    import __spark_entry__ as m

    offenders: dict[str, str] = {}
    for name, fn in sorted(m.queries().items()):
        plan = physical(fn(spark, SF_SMOKE))
        for marker in ("BatchEvalPython", "CartesianProduct"):
            if marker in plan:
                offenders[name] = marker
    assert not offenders, f"anti-patterns in registered plans: {offenders}"


def test_dir_mtime_sees_part_file_rewritten_in_place(tmp_path):
    """ADVICE r04 (low): a part file rewritten IN PLACE one level down
    (inside <table>.parquet/) moves neither the sf_dir nor the table-dir
    mtime on POSIX — the staleness stamp must stat the table dirs' own
    entries or a cached plan pinning deleted listings survives."""
    import os

    from ferramenta_etl_spark.plans._registry import _dir_mtime

    sf_dir = tmp_path / "sf"
    table = sf_dir / "orders.parquet"
    table.mkdir(parents=True)
    part = table / "part-00000.parquet"
    part.write_bytes(b"v1")
    before = _dir_mtime(str(sf_dir))
    # rewrite in place, then push the part file's mtime forward without
    # touching either directory (utime on the file only)
    part.write_bytes(b"v2")
    future = before + 100
    os.utime(part, (future, future))
    os.utime(table, (before, before))
    os.utime(sf_dir, (before, before))
    assert _dir_mtime(str(sf_dir)) >= future


def test_dsir_scoring_inlines_the_ratio_table(spark):
    """DSIR scoring must never shuffle the corpus for the model: since
    r13 the <=n_buckets-row log-ratio relation is collected at plan
    build and inlined as a constant array (O(1) get per gram), so the
    ONLY join left in the plan is the row-preserving id-spine join —
    no model join, no row-wise Python anywhere."""
    from ferramenta_etl_spark.operators.dsir import dsir_log_weights, fit_dsir

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} common w{i % 3}") for i in range(100)],
        "doc_id int, text string",
    )
    model = fit_dsir(docs.limit(20), docs, n_buckets=64)
    plan = physical(dsir_log_weights(model, docs))
    # exactly one join: the spine join (model join gone)
    n_joins = sum(plan.count(j) for j in
                  ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan
    assert "BatchEvalPython" not in plan


def test_bm25_serve_broadcasts_queries_and_group_limits_topk(spark):
    """BM25 serving: the (small) query-term relation broadcasts so the
    postings never shuffle for the join, and top-k compiles to the
    WindowGroupLimit rewrite, not a full per-group sort."""
    from ferramenta_etl_spark.operators.retrieval import (
        bm25_topk,
        build_bm25_index,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} common w{i % 3}") for i in range(100)],
        "doc_id int, text string",
    )
    idx = build_bm25_index(docs)
    q = spark.createDataFrame([(0, "common w1")], "query_id int, query string")
    plan = physical(bm25_topk(idx, q, k=5))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan


def test_bpe_tokenize_is_arrow_batched_narrow_map(spark):
    """Corpus tokenization must be ArrowEvalPython (vectorized batches),
    never the row-at-a-time BatchEvalPython, and shuffle-free."""
    from ferramenta_etl_spark.operators.bpe import bpe_tokenize

    docs = spark.createDataFrame(
        [(i, "lower newer") for i in range(20)], "doc_id int, text string"
    )
    plan = physical(bpe_tokenize(docs, [("l", "o"), ("e", "r")]))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_classifier_scoring_broadcasts_weights(spark):
    """Classifier scoring: the n_buckets-row weight relation broadcasts
    (corpus never shuffles for the model), no row-wise Python."""
    from ferramenta_etl_spark.operators.classifier import (
        LinearTextClassifier,
        classify_documents,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common") for i in range(50)], "doc_id int, text string"
    )
    model = LinearTextClassifier([0.1] * 64, 0.0, 64, (1, 2), "xxhash64")
    plan = physical(classify_documents(model, docs))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
