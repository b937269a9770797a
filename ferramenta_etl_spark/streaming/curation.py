"""Streaming curation ingest: the batch curation pipeline's stateless
stages run on a document STREAM, with cross-batch exact dedup done by
the idempotent sink keyed on the content hash.

Design: language/quality/token scoring, the quality floor, and the
deterministic hash sample are pure per-row expressions — they stream
with zero state. Exact dedup needs cross-batch memory; instead of a
state store (an unbounded streaming dropDuplicates, or a
watermark-horizon-limited dropDuplicatesWithinWatermark — documents
carry no event time to bound it), the content hash becomes the SINK
key: write_ignore_conflicts' anti-join makes every microbatch
idempotent against everything already loaded, so the first-arrived copy
of each distinct text wins, forever, with the sink itself as the only
state. That is the same trade the batch pipeline's keyed load makes,
and it is replay-safe under checkpoint recovery.

Near-dup collapse (MinHash -> connected components) is deliberately NOT
streamed: candidate generation is a self-join over the accumulated
corpus, which no bounded-state streaming operator expresses. Production
shape: this stream curates at ingest; the periodic batch near-dup pass
is pipeline/dedup_index.dedup_incremental — each new batch probes the
persisted signature index and pays only for itself, never recomputing
the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import hash_sample
from ..operators.text import score_documents
from .windows import stage_single_file, stream_ddl, stream_ignore_conflicts


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture with the batch
    loader's schema (derived from the same EXPECTED_SCHEMAS catalog, so
    stream and batch cannot drift); single-file fixtures stage through
    the shared symlink helper."""
    src = stage_single_file(f"{sf_dir}/documents.parquet", "ferramenta_docstream")
    return spark.readStream.schema(stream_ddl("documents")).parquet(src)


def curation_stream(
    docs: DataFrame,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    sample_rate: float | None = None,
) -> DataFrame:
    """The stateless curation stages as one streaming projection:
    score -> quality/lang/token floor -> optional deterministic sample
    -> content hash. The scorer is operators/text.score_documents, the
    batch pipeline's own (pipeline/curation.py), so batch and stream
    agree row-for-row."""
    good = score_documents(docs, min_quality, min_tokens)
    if sample_rate is not None:
        good = hash_sample(good, sample_rate)
    return good.withColumn("text_hash", F.md5(F.col("text")))


def run_curation_stream(
    spark: SparkSession,
    sf_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    min_quality: float = 0.5,
    min_tokens: int = 5,
    sample_rate: float | None = None,
) -> int:
    """Drain the document stream through the curation stages into the
    hash-keyed idempotent sink (AvailableNow); returns rows appended.
    Keying on text_hash IS the exact dedup: a replayed batch, a second
    run, or a later copy of an already-loaded text all append zero."""
    curated = curation_stream(
        stream_documents(spark, sf_dir), min_quality, min_tokens, sample_rate
    )
    return stream_ignore_conflicts(
        curated,
        f"{sink_dir}/curated_stream",
        keys=["text_hash"],
        checkpoint_dir=checkpoint_dir,
    )
