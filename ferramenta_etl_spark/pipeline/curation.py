"""Training-data curation pipeline: the extension operators composed
into one idempotent job — what this engine exists to run at 100 TB.

    documents
      -> scan-parallelism guard (a single-file scan is hash-spread over
         the session's cores before the per-token scoring work)
      -> one-pass scoring + language/quality/token floor
         (text.score_documents)
      -> exact dedup (md5 hash-groupBy, min-id survivor)
      -> near-dup collapse (MinHash-LSH pairs -> connected components
         -> canonical survivor per cluster)
      -> test-set decontamination (when a benchmark is supplied: drop
         docs sharing an n-gram with it, or — decontaminate_spans —
         excise just the matching spans and keep the clean remainder)
      -> PII redaction (email/IP/phone masking, when enabled)
      -> idempotent keyed load, hive-partitioned by lang

Every stage is a shuffle-conscious DataFrame op (digests and signatures
shuffle, never document bodies), and the sink makes the whole pipeline
re-runnable: a second run appends zero rows. The reference has no analog
— this is the SURVEY §7 phase-4 surface as a single runnable job."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_exact, dedup_keep_canonical, minhash_lsh_pairs
from ..operators.sampling import (
    hash_sample,
    stratified_sample,
    temperature_allocation,
)
from ..operators.text import (
    clean_document_lines,
    quality_score,
    redact_pii,
    score_documents,
)
from ..sinks import write_ignore_conflicts
from ..sources import ensure_scan_parallelism, load_table


def curate_documents(
    spark: SparkSession,
    sf_dir: str,
    sink_dir: str,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    benchmark: DataFrame | None = None,
    decontaminate_n: int = 5,
    redact: bool = False,
    sample_rate: float | None = None,
    lang_quota: int | None = None,
    clean_lines: bool = False,
    mix_total: int | None = None,
    mix_alpha: float = 0.5,
    decontaminate_spans: bool = False,
    ppl_max: float | None = None,
    clf_min: float | None = None,
    clf_dir: str | None = None,
    clf_iters: int = 30,
    clf_lr: float = 10.0,
) -> int:
    """Run the curation pipeline; returns rows appended to the sink.

    ``ppl_max`` (bits) adds the bigram-LM perplexity gate as the LAST
    stage: an LM is trained on the already-curated corpus and documents
    whose cross-entropy exceeds the cap are dropped — the
    self-referential variant of the CCNet gate (it removes the corpus's
    own incoherent tail; train ``operators.lm`` on a reference corpus
    and call ``perplexity_filter`` directly for CCNet-proper scoring
    against an external standard).

    ``clf_min`` adds the LEARNED quality gate: documents whose
    classifier P(quality) falls below the floor are dropped. With
    ``clf_dir`` pointing at a save_classifier artifact the gate scores
    against that pinned model (the C4-proper deployment); otherwise a
    model is bootstrapped on the fly from the corpus's own heuristic
    MEDIAN-quality split (above-median as positives vs below-median —
    data-driven, so neither side can be empty on a uniformly-good
    corpus) — the self-referential variant, which prunes kept documents
    that barely resemble the better half's distribution.

    The intermediate persist curated_frame creates (exact_unique, which
    feeds both the pair generation and the survivor anti-join) is
    RELEASED after the sink write — without the unpersist every run in a
    long-lived session (run-all, repeated CLI invocations) left another
    cached copy pinned in executor storage."""
    curated = curated_frame(
        spark, sf_dir, min_quality, min_tokens, benchmark, decontaminate_n,
        redact, sample_rate, lang_quota, clean_lines,
        mix_total=mix_total, mix_alpha=mix_alpha,
        decontaminate_spans=decontaminate_spans,
    )
    out = curated
    if ppl_max is not None:
        from ..operators.lm import perplexity_filter, train_bigram_lm

        out = perplexity_filter(
            curated, train_bigram_lm(curated, min_count=2), ppl_max
        )
    if clf_min is not None:
        from ..operators.classifier import (
            classify_documents,
            load_classifier,
            train_text_classifier,
        )
        from ..sinks.layout import _fs_exists

        if clf_dir and _fs_exists(spark, f"{clf_dir}/_clf_meta.json"):
            model = load_classifier(spark, clf_dir)
        else:
            raw = load_table(spark, sf_dir, "documents")
            q = quality_score(raw.text)
            # median split, not the absolute min_quality floor: the
            # floor can leave one side empty (uniformly-good corpus)
            # and the trainer rejects one-class fits
            cut = raw.select(q.alias("__q")).approxQuantile(
                "__q", [0.5], 0.001
            )[0]
            model = train_text_classifier(
                raw.filter(q >= cut), raw.filter(q < cut),
                iters=clf_iters, lr=clf_lr,
            )
            if clf_dir:
                # train-once/score-many (ADVICE r09): an empty clf_dir
                # means "bootstrap HERE" — persist and reload so every
                # later curate run scores with the same frozen weights
                # instead of silently retraining as the corpus grows
                # (matching the quality-classify CLI's contract)
                from ..operators.classifier import save_classifier

                save_classifier(model, clf_dir, spark)
                model = load_classifier(spark, clf_dir)
        keep = classify_documents(model, out).filter(
            F.col("quality_p") >= clf_min
        )
        out = out.join(keep.select("doc_id"), "doc_id", "semi")
    try:
        return write_ignore_conflicts(
            out,
            f"{sink_dir}/curated_documents",
            keys=["lang", "doc_id"],
            partition_cols=["lang"],
        )
    finally:
        for dep in getattr(curated, "_persisted_deps", ()):
            dep.unpersist()


def curated_frame(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    benchmark: DataFrame | None = None,
    decontaminate_n: int = 5,
    redact: bool = False,
    sample_rate: float | None = None,
    lang_quota: int | None = None,
    clean_lines: bool = False,
    mix_total: int | None = None,
    mix_alpha: float = 0.5,
    decontaminate_spans: bool = False,
) -> DataFrame:
    # scoring is interpreted per-token work: spread a single-row-group
    # scan over the session's cores before it (a no-op on multi-file
    # inputs)
    docs = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spread_by=("doc_id",)
    )
    if sample_rate is not None:
        # deterministic hash sample at INGEST — the cheapest point (a
        # narrow filter the scan absorbs), and reruns draw the identical
        # subset so the idempotent sink still appends zero on replay
        docs = hash_sample(docs, sample_rate)
    if clean_lines:
        # C4-style line cleaning BEFORE scoring/hashing: two scrapes
        # differing only in nav/cookie boilerplate become exact dups,
        # and quality scores measure the content, not the chrome
        docs = clean_document_lines(docs)
    good = score_documents(docs, min_quality, min_tokens)
    # exact_unique feeds TWO consumers: the MinHash pair generation (which
    # materializes under connected_components' edge checkpoint) and the
    # final survivor anti-join. Without a persist the scan + regex-heavy
    # scoring + window dedup lineage executes twice; MEMORY_AND_DISK is
    # the standard multi-consumer discipline (on a cluster this spills per
    # executor — same tradeoff a production pipeline makes by writing an
    # intermediate table).
    exact_unique = dedup_exact(good).persist()
    pairs = minhash_lsh_pairs(exact_unique)
    survivors = dedup_keep_canonical(exact_unique, pairs)
    if benchmark is not None:
        # decontaminate LAST: dedup has already shrunk the corpus, so
        # fewer docs pay the gram explode; the contaminated ids are an
        # anti-join away (broadcast or bloom route chosen by measured
        # benchmark gram count — contamination_hits_auto)
        if decontaminate_spans:
            # SPAN mode (round 10): excise the matching spans and keep
            # the clean remainder instead of dropping whole docs — the
            # Llama-style refinement (operators/text.
            # remove_contaminated_spans). String grams here (positions
            # must locate tokens), vs the drop path's hashed grams; the
            # min_tokens floor re-applies to what survives. `quality`
            # stays the pre-excision score: the gate already passed on
            # the full doc, and re-scoring would re-run the regex stack
            # over the corpus for a bounded-change signal.
            from ..operators.text import remove_contaminated_spans

            spans = remove_contaminated_spans(
                survivors, benchmark, n=decontaminate_n, margin=1
            )
            survivors = (
                spans.withColumn(
                    "text",
                    F.when(
                        F.col("n_spans") > 0, F.col("clean_text")
                    ).otherwise(F.col("text")),
                )
                .withColumn(
                    "n_tok", F.col("n_tokens") - F.col("n_tokens_removed")
                )
                .filter(F.col("n_tok") >= min_tokens)
                .drop(
                    "clean_text", "n_tokens", "n_tokens_removed",
                    "n_spans", "n_contaminated",
                )
            )
        else:
            # probe-and-route (round 12): identical relation either
            # way — broadcasts an eval-suite-sized benchmark as before,
            # switches to the bloom screen + exact verify when the
            # benchmark is another CORPUS whose gram set outgrows a
            # broadcast (operators/text.contamination_hits_auto)
            from ..operators.text import contamination_hits_auto

            contaminated = contamination_hits_auto(
                survivors, benchmark, n=decontaminate_n
            ).select("doc_id")
            survivors = survivors.join(contaminated, "doc_id", "left_anti")
    if lang_quota is not None:
        # balance the training mix AFTER dedup/decontamination: quotas
        # count surviving docs, and the lowest-hash-bucket pick keeps
        # the selection deterministic across reruns
        survivors = stratified_sample(survivors, ["lang"], lang_quota)
    if mix_total is not None:
        # temperature mixing, same placement rationale: allocate
        # ~mix_total survivors across (lang, source) with |stratum|^alpha
        # shares so a dominant source cannot swamp the mix; deterministic
        # pick, so the sink still appends zero on replay
        survivors = temperature_allocation(
            survivors, ["lang", "source"], mix_total, alpha=mix_alpha
        )
    text_out = (
        # redact AFTER dedup/decontamination: hashing and n-gram overlap
        # must see the original bytes, or a redacted copy and its
        # original would stop matching each other
        redact_pii(F.col("text")).alias("text") if redact else F.col("text")
    )
    out = survivors.select(
        "doc_id", "lang", "source", "quality", "n_tok", text_out
    )
    # expose the persisted intermediate so batch callers (curate_documents)
    # can release it once the result is materialized; bench's plan-cached
    # composite deliberately keeps it warm across timed runs
    out._persisted_deps = (exact_unique,)
    return out
