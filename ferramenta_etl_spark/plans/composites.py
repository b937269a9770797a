"""Bench-only composite queries for bench.py's headline set (names,
parameters and the plan-cache policy live here, beside the registry
they extend).

These ride alongside the 50-query oracle registry rather than in it:
curation/seq_packing are end-to-end compositions whose stages are
individually oracle-checked; the *_fast pair is the library-default
xxhash64 engine vs the portable md5 gate variants; flagship_bucketed
is the same flagship plan over bucketed mirrors.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._registry import plan_cache


def _skewed_fact_dim(spark: SparkSession, sf: str, replicate: int):
    """Hot-key join fixture from the shared tables: lineitem
    replicated ``replicate``x with 90% of rows funneled onto key 0
    (the null/default-key pathology) against a 5k-row dim whose
    broadcast is disabled via a SHUFFLE_HASH hint — modeling the
    big-dim case where broadcasting is not an option. bench.py runs it
    at replicate=20, a 12M-row fact with ~11M rows on the hot key. Hot
    fraction history: rounds 3-6 used 33%, where AQE's skew-join split
    closes the local-mode gap to within run noise (measured round 7: 1.06x
    at replicate=10 — the salted-vs-plain sign flipped between
    healthy bench runs); at 90% hot and replicate=20 the hot
    partition dominates the job and the arms separate decisively
    (plain 5.2 s vs salted 3.3 s, 1.59x — plain's single hot task
    grows superlinearly while salted scales near-linearly), the
    fixture modeling the skew salting actually exists for."""
    from ..sources import load_table

    fact = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity")
        .withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
        .select(
            F.when(F.col("l_orderkey") % 10 != 0, F.lit(0))
            .otherwise(F.pmod(F.col("l_orderkey") + F.col("__r"), F.lit(5000)))
            .alias("k"),
            "l_quantity",
        )
        # r13 measurement fix (the capped_sessions / media / bpe spine
        # convention, VERDICT r11 #3): the replicate-x explode is
        # FIXTURE SYNTHESIS, not the join under test — materialize it at
        # plan build so the timed runs measure the skewed exchange +
        # join + aggregation both arms exist to compare. Timed work now
        # STARTS at the 12M-row skewed relation; pre-fix numbers (which
        # included ~1.4 s/run of explode) end at BENCH_r12 /
        # the r13 baseline run — see OPTIMIZATION_r13.md.
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    dim = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("weight")
    )
    return fact, dim.hint("shuffle_hash")


def join_skewed_plain(spark: SparkSession, sf: str, replicate: int = 1) -> DataFrame:
    """The AQE-assisted baseline: plain shuffled equi-join on the hot
    key (AQE skew-split applies at runtime where it can)."""
    fact, dim = _skewed_fact_dim(spark, sf, replicate)
    return fact.join(dim, "k").groupBy("k").agg(
        F.sum(F.col("l_quantity") + F.col("weight")).alias("s")
    )


def join_skewed_salted(spark: SparkSession, sf: str, replicate: int = 1) -> DataFrame:
    """Same join through operators.skew.salted_join (fact side salted,
    dim side exploded across the salt range)."""
    from ..operators.skew import salted_join

    fact, dim = _skewed_fact_dim(spark, sf, replicate)
    return salted_join(fact, dim, ["k"], salt=32).groupBy("k").agg(
        F.sum(F.col("l_quantity") + F.col("weight")).alias("s")
    )


def add_bench_composites(
    queries: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> None:
    """Register the bench-only composites into ``queries`` (in place),
    wrapped in the same plan cache as registered queries — plans build
    once per (session, dataset); for curation this also keeps its
    persist()/checkpoint intermediates stable across timed runs."""
    from ..operators import dedup as D
    from ..operators.packing import pack_sequences
    from ..operators.quantize import quantize_embeddings, quantized_cosine_topk
    from ..operators.similarity import lsh_ann_topk
    from ..operators.text import chunk_documents
    from ..pipeline.curation import curated_frame
    from ..sources import load_table
    from .bucketed import flagship_bucketed
    from .partitioned import flagship_partitioned

    def _curation(spark, sf):
        return curated_frame(spark, sf, redact=True)

    def _seq_packing(spark, sf):
        chunks = chunk_documents(
            load_table(spark, sf, "documents"), chunk_tokens=128, overlap=16
        )
        return pack_sequences(chunks, budget_tokens=2048, n_shards=64)

    def _quantized_topk(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        qc = quantize_embeddings(emb.filter(F.col("vec_id") >= 10))
        qq = quantize_embeddings(emb.filter(F.col("vec_id") < 10)).select(
            F.col("vec_id").alias("query_id"),
            F.col("q_embedding").alias("query_q"),
            F.col("q_scale").alias("query_scale"),
        )
        return quantized_cosine_topk(qc, qq, k=5)

    def _cosine_arrow(spark, sf):
        from ..operators.similarity import cosine_topk_arrow

        emb = load_table(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
        return cosine_topk_arrow(corpus, queries_df, k=5)

    def _truncated_topk(spark, sf):
        from ..operators.similarity import truncated_prefilter_topk

        emb = load_table(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
        return truncated_prefilter_topk(
            corpus, queries_df, k=5, prefilter_dim=16, shortlist=200
        )

    def _lsh_ann(spark, sf):
        emb = load_table(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
        # dim passed explicitly: composition must not run the one-row
        # dim-probe driver job (tests/test_plans.py asserts plan builds
        # are job-free engine-wide)
        return lsh_ann_topk(corpus, queries_df, k=5, n_planes=16, n_bands=4, dim=64)

    def _minhash_fast(spark, sf):
        docs = load_table(spark, sf, "documents")
        return D.minhash_lsh_pairs(
            D.dedup_exact(docs), num_hashes=32, bands=8, threshold=0.5,
            portable=False,
        )

    def _simhash_fast(spark, sf):
        docs = load_table(spark, sf, "documents")
        return D.simhash_near_dup_pairs(D.dedup_exact(docs), portable=False)

    def _bm25_topk(spark, sf):
        # index build (two aggs + scalar collects) happens at plan-build
        # time and the postings persist — the train-once artifact class,
        # like the IVF centroids / bucketed mirrors; timed runs measure
        # SERVING: broadcast query-term join + (query, doc) agg + top-k.
        # The query set is 8 mid-frequency corpus terms, derived once at
        # build so the benchmark is corpus-agnostic: the MIDDLE 8 of the
        # frequency-ranked vocabulary (round-12 fix: the old [32:40]
        # slice of the top-64 assumed a >=40-term vocabulary, but the
        # fixture's Zipfian generator emits only 31 distinct words at
        # EVERY sf — the slice was empty and the bench row had been
        # timing an 0-query serve since round 9; caught by
        # tests/test_bench_channels.py's non-empty assertion).
        from ..operators.retrieval import bm25_topk, build_bm25_index

        docs = load_table(spark, sf, "documents")
        idx = build_bm25_index(docs)
        postings = idx.postings.persist()
        postings.count()  # materialize at build, outside timed runs
        ranked = [
            r.term
            for r in postings.groupBy("term")
            .count()
            .orderBy(F.col("count").desc(), F.col("term").asc())
            .limit(64)
            .collect()
        ]
        mid = len(ranked) // 2
        terms = ranked[max(0, mid - 4): mid + 4]
        qdf = spark.createDataFrame(
            list(enumerate(terms)), "query_id int, query string"
        )
        # inline_queries: the 8-term probe set is plan-stable, so the
        # serve folds it into literal expressions instead of re-running
        # the query-side subplan + broadcast every timed run (r13 —
        # ~0.35 s of pure stage latency off the 0.89 s serve)
        out = bm25_topk(
            idx._replace(postings=postings), qdf, k=10, inline_queries=True
        )
        out._persisted_deps = (postings,)
        return out

    def _dsir_score(spark, sf):
        # fit (model estimation: two bucket-count aggs + totals) at
        # plan-build time with the tiny log-ratio relation persisted;
        # timed runs measure SCORING the whole corpus: feature explode,
        # broadcast ratio join, per-doc sum.
        from ..operators.dsir import dsir_log_weights, fit_dsir
        from ..operators.text import quality_score

        docs = load_table(spark, sf, "documents")
        target = docs.filter(quality_score(F.col("text")) >= 0.5)
        model = fit_dsir(target, docs)
        lr = model.log_ratio.persist()
        lr.count()
        out = dsir_log_weights(model._replace(log_ratio=lr), docs)
        out._persisted_deps = (lr,)
        return out

    def _bpe_tokenize(spark, sf):
        # training (driver-held merge list) at plan-build time — the
        # tokenizer artifact; timed runs measure corpus tokenization,
        # the Arrow-batched narrow map that is the recurring cost.
        # 16x-replicated spine + pinned partitioning + checkpoint
        # (VERDICT r11 #3, the media_decode_jpeg playbook): at ~0.47 s
        # the wall rode directly on the ~0.12 s python-worker jitter
        # (26.5% spread, passing only via the 0.15 s abs floor) — and
        # most of that 0.47 s turned out to be the UNREPARTITIONED
        # single-file scan, not tokenization (the balanced checkpointed
        # corpus tokenizes 4x the docs in 0.29 s). 16x gives the
        # encode-only measurement a ~1 s wall, putting the additive
        # jitter near 10%.
        from ..operators.bpe import bpe_tokenize, train_bpe_from_docs

        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        merges = train_bpe_from_docs(docs, 15)
        docs16 = (
            docs.withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(15))))
            .select(
                (F.col("doc_id") * 16 + F.col("__r")).alias("doc_id"), "text"
            )
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        return bpe_tokenize(docs16, merges).select("doc_id", "bpe_tokens")

    def _capped_sessions(spark, sf):
        # the oracle-gated operator (events_capped_sessions registry
        # row verifies it at sf0.01) over a 4x-replicated USER spine:
        # disjoint user ids per replica, so per-user session semantics
        # are untouched and the wall grows 4x past the applyInPandas
        # jitter floor (VERDICT r11 #3 — 21.3% spread at 0.57 s).
        # Replication + checkpoint at plan build; timed runs measure
        # the user_id exchange + Arrow per-group walk.
        from ..operators.sessionize import capped_sessions

        ev = (
            load_table(spark, sf, "events")
            .filter(F.col("user_id").isNotNull())
            .select("user_id", "ts", "event_id", "value")
        )
        ev4 = (
            ev.withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(3))))
            .select(
                (F.col("user_id") + F.col("__r") * F.lit(10_000_000_000))
                .alias("user_id"),
                "ts",
                "event_id",
                "value",
            )
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        return capped_sessions(
            ev4, gap="24 hours", max_duration="2 hours",
            tiebreak=("event_id",),
        )

    def _skew_plain_x20(spark, sf):
        return join_skewed_plain(spark, sf, replicate=20)

    def _skew_salted_x20(spark, sf):
        return join_skewed_salted(spark, sf, replicate=20)

    queries["curation"] = plan_cache(_curation)
    queries["seq_packing"] = plan_cache(_seq_packing)
    # replicate=1 pair kept for ad-hoc use; the HEADLINE pair is x20 —
    # the 12M-row hot-key scale where salting beats the AQE-assisted
    # baseline DECISIVELY (1.59x, no run overlap), so bench regressions
    # on the salted arm have the right sign (VERDICT r05 #2 / r06 #3:
    # at replicate=1 the salted arm's extra exchange dominates and the
    # headline read "salting loses"; at replicate=10 the margin was
    # inside run noise and the sign flipped between healthy runs)
    # *_hot90 suffix (ADVICE r07): the shared fixture's hot fraction
    # moved 33%→90% in round 7, so the replicate=1 entries carry a
    # different shape than rounds 3-6 — renamed so any pre-round-7
    # number can never be read as comparable. (Neither is in HEADLINE.)
    queries["join_skewed_plain_hot90"] = plan_cache(join_skewed_plain)
    queries["join_skewed_salted_hot90"] = plan_cache(join_skewed_salted)
    queries["join_skewed_plain_x20"] = plan_cache(_skew_plain_x20)
    queries["join_skewed_salted_x20"] = plan_cache(_skew_salted_x20)
    queries["embedding_quantized_topk"] = plan_cache(_quantized_topk)
    queries["embedding_ann_lsh"] = plan_cache(_lsh_ann)
    queries["embedding_truncated_topk"] = plan_cache(_truncated_topk)
    # the BLAS twin of the oracle-gated SQL-fold embedding_cosine_topk —
    # same variant-pair philosophy as dedup_minhash_fast: the gate
    # variant must not mask the production engine's trend
    queries["embedding_cosine_arrow"] = plan_cache(_cosine_arrow)
    queries["bm25_topk"] = plan_cache(_bm25_topk)
    queries["dsir_score"] = plan_cache(_dsir_score)
    queries["bpe_tokenize"] = plan_cache(_bpe_tokenize)
    queries["events_capped_sessions"] = plan_cache(_capped_sessions)

    def _jpeg_decode(spark, sf):
        # fixture encode (attach_jpeg_media over the doc spine — a mix
        # of 4:4:4 / 4:2:0 / restart-interval files) happens at
        # plan-build time and checkpoints; timed runs measure DECODE:
        # the narrow mapInPandas codec map, no shuffle (round 10's real
        # baseline-JPEG decoder — the only new-op bench row whose cost
        # is pure Python-side codec work, so a decoder regression is
        # visible here and nowhere else)
        from ..operators.containers import attach_jpeg_media, decode_images

        docs = load_table(spark, sf, "documents").select("doc_id")
        # 2x-replicated spine (VERDICT r10 #2 — the row FAILed the
        # stability policy at 25.2% spread): at ~0.9 s the single-wave
        # wall rides directly on per-worker jitter (~0.15 s additive),
        # so the ratio bar is a coin flip. Doubling the images doubles
        # the wall (1.38 s) while the jitter stays additive — measured
        # 9% spread over 9 runs, inside the 20% bar with margin.
        # Partition-count sweep for the record: 32 parts 0.90 s, 128
        # parts 1.89 s, 256 parts 2.26 s — mapInPandas' ~10 ms/task
        # python-worker round-trip makes MORE partitions strictly
        # worse here, so one task wave per core stays correct.
        docs = docs.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(1)))
        ).select((F.col("doc_id") * 2 + F.col("__r")).alias("doc_id"))
        # repartition BEFORE the checkpoint: the single-file sf fixture
        # arrives as one partition, and a narrow codec map inherits its
        # input partitioning — unrepartitioned, the decode serialized
        # onto one core (6.8 s; balanced: ~1 s on local[32])
        media = (
            attach_jpeg_media(docs)
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        return decode_images(media)

    def _mp4_probe(spark, sf):
        # round 11: the ffprobe analog — box-tree metadata over real
        # MP4 containers (fixture encode at plan build, like the JPEG
        # row); timed runs measure the header-bytes narrow map. The
        # 10x-replicated spine keeps the ~0.3 s wall above the jitter
        # floor under the stability policy (same sizing rationale as
        # media_decode_jpeg's 2x spine).
        from ..operators.containers import attach_mp4_media, probe_videos

        docs = load_table(spark, sf, "documents").select("doc_id")
        docs = docs.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(9)))
        ).select((F.col("doc_id") * 10 + F.col("__r")).alias("doc_id"))
        media = (
            attach_mp4_media(docs)
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        return probe_videos(media)

    def _frame_schedule(spark, sf):
        # round 12: keyframe-aligned frame sampling from real stts/stss
        # tables (multimodal.keyframe_sample_schedule) over the same
        # 10x MP4 spine as media_probe_mp4 — timed runs measure the
        # sample-table parse + snap walk, the recurring planning cost
        # of a video decode pipeline.
        from ..operators.containers import attach_mp4_media
        from ..operators.multimodal import keyframe_sample_schedule

        docs = load_table(spark, sf, "documents").select("doc_id")
        docs = docs.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(9)))
        ).select((F.col("doc_id") * 10 + F.col("__r")).alias("doc_id"))
        media = (
            attach_mp4_media(docs)
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        return keyframe_sample_schedule(media, every_ms=500)

    queries["media_decode_jpeg"] = plan_cache(_jpeg_decode)
    queries["media_probe_mp4"] = plan_cache(_mp4_probe)
    queries["media_frame_schedule"] = plan_cache(_frame_schedule)
    queries["dedup_minhash_fast"] = plan_cache(_minhash_fast)
    queries["dedup_simhash_fast"] = plan_cache(_simhash_fast)
    # mirrors are written at plan-build time (amortized, like the index
    # builds); timed runs measure the exchange-free joins
    queries["flagship_bucketed"] = plan_cache(flagship_bucketed)
    # date-partitioned mirror twin (r13, VERDICT r12 #6): timed runs
    # measure the statically-PRUNED scan — the months before the
    # partition-aligned bound are never listed into tasks
    queries["flagship_partitioned"] = plan_cache(flagship_partitioned)
