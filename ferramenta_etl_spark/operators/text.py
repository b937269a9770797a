"""Text-analysis operators for training-data pipelines.

Language ID (marker-token heuristic), quality scoring, token counting,
and content fingerprinting — all Spark SQL expressions (regexp, string
and array functions), so there is no Python in the hot path. They do
not all run inside whole-stage codegen, though: the higher-order
functions (``filter``, ``transform``, ``aggregate``, ``zip_with``) fall
back to interpreted evaluation, one lambda call per array element, and
common-subexpression elimination does not merge two separately built
lambdas. Every extra pass over a document's tokens is therefore a full
interpreted pass, which is why the curation scorer (``score_documents``)
reads all its token features from one fold. Each operator has an exact
DuckDB-oracle counterpart in plans/extensions.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker tokens per language, derived from the corpus' distinctive token
# frequencies. Order of LANGS is the deterministic tiebreak (alphabetical).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("small", "data", "scan", "line"),
    "en": ("column", "sort", "key", "window"),
    "es": ("column", "line", "part", "hash"),
    "fr": ("order", "sort", "query", "group"),
    "zh": ("group", "order", "merge", "vector"),
}
LANGS = tuple(sorted(LANG_MARKERS))

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "on")

# "BPE-ish" tokenizer regex: letter runs | single digits | single
# non-alphanumeric marks — a crude proxy for subword token counts.
BPE_ISH_RE = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens, lowercased. Single-space split kept identical
    to the oracle's string_split."""
    return F.split(F.lower(text), " ")


def _count_fold(text: Column, token_sets: dict[str, tuple[str, ...]], finish) -> Column:
    """One ``aggregate`` pass over ``text``'s whitespace tokens that
    counts, per named token set, the tokens in that set (with
    multiplicity; a token may count toward several sets) and, as
    ``__n``, all tokens, then applies ``finish`` to the struct of
    counts. Higher-order lambdas run interpreted, one call per token, so
    every feature read from this one fold saves a full pass over the
    tokens. NULL text gives NULL."""
    zero = F.struct(*[F.lit(0).alias(k) for k in [*token_sets, "__n"]])

    def step(acc: Column, t: Column) -> Column:
        return F.struct(
            *[
                (acc[k] + t.isin(*toks).cast("int")).alias(k)
                for k, toks in token_sets.items()
            ],
            (acc["__n"] + 1).alias("__n"),
        )

    return F.aggregate(ws_tokens(text), zero, step, finish)


def _argmax_lang(counts: Column) -> Column:
    """The language with the most marker tokens in a struct of
    per-language counts, alphabetical-first on ties."""
    best = F.greatest(*[counts[lang] for lang in LANGS])
    expr = F.lit(None).cast("string")
    for lang in reversed(LANGS):
        expr = F.when(counts[lang] == best, F.lit(lang)).otherwise(expr)
    return expr


def lang_id(text: Column) -> Column:
    """Predicted language = argmax of marker-token counts,
    alphabetical-first tiebreak — deterministic by construction. One
    token pass counts every language at once."""
    return _count_fold(text, LANG_MARKERS, _argmax_lang)


def n_tokens(text: Column) -> Column:
    return F.size(ws_tokens(text))


def bpe_ish_count(text: Column) -> Column:
    return F.regexp_count(F.lower(text), F.lit(BPE_ISH_RE))


# translate() deletes every char of the match set in one linear
# char-map pass — measured 4.4x faster than the regexp_replace-strip
# form on fixture docs and 26x on book-length docs (SCALING.md r13
# outlier decomposition; regexp_count was measured SLOWER than either,
# its per-match engine iteration costing more than the replace's
# string building). Counts are identical integers for ALL inputs, so
# the DuckDB oracles keep their regexp form untouched.
_DIGITS = "0123456789"
_PLAIN = "abcdefghijklmnopqrstuvwxyz0123456789 "


def digit_ratio(text: Column) -> Column:
    # empty text has no digits: define the ratio as 0 rather than 0/0
    # (ANSI division by zero aborts the whole job on one empty doc)
    return F.coalesce(
        (F.length(text) - F.length(F.translate(text, _DIGITS, "")))
        .cast("double")
        / F.nullif(F.length(text), F.lit(0)),
        F.lit(0.0),
    )


def punct_ratio(text: Column) -> Column:
    return F.coalesce(
        F.length(F.translate(F.lower(text), _PLAIN, "")).cast("double")
        / F.nullif(F.length(text), F.lit(0)),
        F.lit(0.0),
    )


def _n_stopwords(text: Column) -> Column:
    return F.size(F.filter(ws_tokens(text), lambda t: t.isin(*STOPWORDS)))


def stopword_ratio(text: Column) -> Column:
    return _n_stopwords(text).cast("double") / n_tokens(text).cast("double")


def avg_token_len(text: Column) -> Column:
    compact = F.length(F.replace(text, F.lit(" "), F.lit("")))
    return compact.cast("double") / n_tokens(text).cast("double")


def quality_score(text: Column) -> Column:
    """Composite quality score in [0, 1]: favors prose-like stopword
    density, penalizes digit/punctuation noise, rewards length up to 100
    tokens. Expression order fixed so both engines compute bit-identical
    doubles."""
    return _quality(text, _n_stopwords(text), n_tokens(text))


def _quality(text: Column, stops: Column, n: Column) -> Column:
    """quality_score from ``text``'s stopword and token counts."""
    length_factor = F.least(n.cast("double") / 100.0, F.lit(1.0))
    return (
        stops.cast("double") / n.cast("double") * 0.3
        + (1.0 - digit_ratio(text)) * 0.3
        + (1.0 - punct_ratio(text)) * 0.2
        + length_factor * 0.2
    )


def document_scores(text: Column) -> Column:
    """struct(lang, quality, n_tok): lang_id, quality_score and n_tokens
    of ``text``, bit-identical to the three separate calls, from one
    token pass — one fold counts the language markers, the stopwords and
    the tokens together, and its finish lambda reads all three features
    off the counts. NULL text gives NULL."""

    def finish(c: Column) -> Column:
        return F.struct(
            _argmax_lang(c).alias("lang"),
            _quality(text, c["__stops"], c["__n"]).alias("quality"),
            c["__n"].alias("n_tok"),
        )

    return _count_fold(text, {**LANG_MARKERS, "__stops": STOPWORDS}, finish)


def score_documents(
    docs: "DataFrame",
    min_quality: float = 0.5,
    min_tokens: int = 5,
) -> "DataFrame":
    """``docs`` with ``lang``, ``quality`` (rounded to 6 places) and
    ``n_tok`` from :func:`document_scores` as its last columns,
    replacing any input columns of those names, keeping only the
    documents with a language, ``quality >= min_quality`` and
    ``n_tok >= min_tokens`` — the curation scorer, shared by the batch
    and streaming pipelines so the two agree row for row.

    The floor is applied by a generator over the scored row rather than
    a ``filter``: the optimizer pushes a filter below the projection it
    reads, substituting the scoring expression into the predicate, so
    every document would be scored twice, the first time below any
    repartition the caller made (on one core for a single-row-group
    scan). A generator's output cannot be substituted, so each document
    is scored once, where the caller put the scorer."""
    s = F.col("__s")
    row = F.struct(
        s["lang"].alias("lang"),
        F.round(s["quality"], 6).alias("quality"),
        s["n_tok"].alias("n_tok"),
    )
    keep = F.filter(
        F.array(row),
        lambda r: r["lang"].isNotNull()
        & (r["quality"] >= min_quality)
        & (r["n_tok"] >= min_tokens),
    )
    kept = [c for c in docs.columns if c not in ("lang", "quality", "n_tok")]
    return docs.withColumn("__s", document_scores(F.col("text"))).select(
        *kept, F.inline(keep)
    )


# ---------------------------------------------------------------------------
# Repetition signals (the Gopher-paper family, adapted to whitespace
# tokens): excessive n-gram repetition is the strongest single indicator
# of low-quality machine-generated / boilerplate text in web-scale
# training corpora. All pure SQL expressions — one linear fold per doc,
# no Python, no shuffle; each doc is scored independently at scan speed.
# ---------------------------------------------------------------------------


def _gram_zip(toks: Column, n: int, m: Column) -> Column:
    """Sliding n-gram strings via the shared shifted-slice fold
    (dedup.shifted_fold — every pass O(tokens); see its docstring for
    the measured per-element re-evaluation trap the transform-over-
    indexes form falls into). concat_ws skips the nulls zip_with pads
    with, which is what gives token_ngrams its partial short-doc gram
    for free."""
    from .dedup import shifted_fold

    return shifted_fold(toks, n, m, lambda x, y: F.concat_ws(" ", x, y))


def token_ngrams(text: Column, n: int = 2) -> Column:
    """Token n-grams WITH multiplicity (contrast shingles(): distinct).
    Docs shorter than n keep one partial gram, so the list is never
    empty and downstream ratios never divide by zero."""
    toks = ws_tokens(text)
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return _gram_zip(toks, n, m)


def dup_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Fraction of n-gram occurrences that are repeats of an earlier one:
    1 - distinct/total. 0 = no repetition, ->1 = the doc is one phrase
    looped."""
    g = token_ngrams(text, n)
    return F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / F.size(g).cast(
        "double"
    )


def _max_equal_run(arr: Column) -> Column:
    """Longest run of equal ADJACENT elements — one linear aggregate fold
    with a (prev, run, best) struct accumulator."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(arr, init, step, lambda acc: acc["best"])


def top_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Fraction of the token stream covered by the single most frequent
    n-gram: max multiplicity (max equal-run of the SORTED gram list —
    sorting groups equal grams, so the fold is linear, never the
    quadratic count-per-distinct-gram form) x n / n_tokens."""
    best = _max_equal_run(F.array_sort(token_ngrams(text, n)))
    return best.cast("double") * float(n) / n_tokens(text).cast("double")


def max_token_run(text: Column) -> Column:
    """Longest consecutive repetition of one token ("spam spam spam") —
    adjacency in the UNSORTED stream, unlike top_ngram_fraction's global
    multiplicity."""
    return _max_equal_run(ws_tokens(text))


def alpha_word_ratio(text: Column) -> Column:
    """Fraction of tokens containing at least one letter — low values
    flag tables/code/garbage masquerading as prose."""
    toks = ws_tokens(text)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    return n_alpha.cast("double") / F.size(toks).cast("double")


def gopher_keep(text: Column, min_tokens: int = 10, max_tokens: int = 100_000) -> Column:
    """Composite keep/drop gate in the style of the Gopher rules: token
    count in range, mean token length in [3, 10], mostly-alphabetic
    tokens, bounded bigram repetition. Thresholds are defaults, not
    dogma — tune per corpus."""
    nt = n_tokens(text)
    mean_len = avg_token_len(text)
    return (
        (nt >= min_tokens)
        & (nt <= max_tokens)
        & (mean_len >= 3.0)
        & (mean_len <= 10.0)
        & (alpha_word_ratio(text) >= 0.8)
        & (dup_ngram_fraction(text, 2) <= 0.2)
    )


# PII patterns for redaction. Deliberately conservative (precision over
# recall): each pattern anchors on structure a plain word can't have, so
# prose is never mangled. Extend per-corpus as needed.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# Phone-shaped digit runs. Precision rule: bare spaces are never enough
# to join digit groups (prose like "1999 1999 1999" or numbered lists
# must survive). Spaces are only allowed once the match is anchored on
# structure a sentence can't have — a leading "+" or a parenthesized
# area code. Unanchored runs must be contiguous or joined by "."/"-",
# 9+ digits total, so "1999-2000" (8 digits) and versions stay intact.
PHONE_RE = (
    r"\+\d(?:[ ().-]{0,2}\d){7,}"  # +international: spaces OK after the + anchor
    r"|\(\d{2,4}\)[ .-]?\d(?:[ .-]?\d){5,}"  # (area) anchor: "(555) 123-4567"
    r"|\d(?:[.-]?\d){8,}"  # 9+ digits joined only by . or - (no bare spaces)
)


def _quote_replacement(replacement: str) -> str:
    """Escape Java Matcher replacement metacharacters: a user-supplied
    '$0' would re-insert the MATCHED text (a PII leak), and a stray
    '$9'/trailing backslash throws per-row — Matcher.quoteReplacement
    semantics, inlined."""
    return replacement.replace("\\", "\\\\").replace("$", "\\$")


def redact_pii(text: Column, replacement: str = "<PII>") -> Column:
    """Mask emails, IPv4 addresses, and phone-shaped digit runs — the
    baseline PII scrub of a training-data pipeline. Three chained
    regexp_replace expressions: whole-stage codegen, scan speed, no UDF.
    Order matters: emails first (their domains contain dots that the
    IP pattern could otherwise clip)."""
    rep = _quote_replacement(replacement)
    out = F.regexp_replace(text, EMAIL_RE, rep)
    out = F.regexp_replace(out, IPV4_RE, rep)
    return F.regexp_replace(out, PHONE_RE, rep)


def word_ngrams(text: Column, n: int) -> Column:
    """DISTINCT word n-grams of exactly n tokens (docs shorter than n
    yield none) — the decontamination unit. Contrast token_ngrams(),
    which keeps multiplicity and a partial gram for short docs: overlap
    detection wants set semantics and no sub-length grams."""
    toks = ws_tokens(text)
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    return F.array_distinct(_gram_zip(toks, n, m))


def contamination_hits(
    corpus,
    benchmark,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
):
    """Test-set decontamination by n-gram overlap (the GPT-3-style
    counting method): per corpus doc, how many of its distinct word
    n-grams appear anywhere in the benchmark set. Docs with hits > 0
    are contaminated and should be dropped before training.

    100 TB shape: the benchmark's distinct n-gram set is metadata-scale
    (evaluation suites are millions of grams, not billions) and is
    BROADCAST; corpus grams are deduped per-doc with array_distinct
    BEFORE exploding (local, no shuffle), so the only exchange is the
    per-doc count of surviving hit tuples — a vanishing fraction of the
    corpus. The corpus itself never shuffles and never holds more state
    than one doc's gram array.

    ``hashed=True`` swaps gram STRINGS for 31-bit polynomial gram hashes
    (dedup.shingle_hashes): no string construction (measured ~5x on
    20k-token book-length docs, where building every 8-token gram string
    dominates), long join keys instead of strings, and a smaller
    broadcast. Cost: hash collisions can count a gram as contaminated
    that isn't (~|grams|^2/2^32 expected false hits — harmless spurious
    DROPS at curation scale, which is why production pipelines hash).
    The registered text_decontaminate query keeps exact string grams so
    its DuckDB oracle checks the textbook semantics; the curation
    pipeline uses the hashed path.

    Returns (id_col, n_hits) for contaminated docs only; left-join back
    to the corpus for a keep/drop flag."""
    from ..operators.dedup import shingle_hashes
    from ..sources.tables import ensure_scan_parallelism

    if hashed:
        def grams(col):
            return F.array_distinct(shingle_hashes(col, n))
    else:
        def grams(col):
            return word_ngrams(col, n)

    # gram generation is the expensive interpreted-HOF projection; make
    # sure it isn't serialized onto one core by a single-row-group scan
    bench_grams = ensure_scan_parallelism(benchmark, spread_by=(text_col,)).select(
        F.explode(grams(F.col(text_col))).alias("g")
    ).distinct()
    corpus_grams = ensure_scan_parallelism(corpus, spread_by=(id_col,)).select(
        F.col(id_col), F.explode(grams(F.col(text_col))).alias("g")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def _bloom_params(expected: int, fpp: float) -> tuple[int, int]:
    """Standard sizing: m bits and k probes for ``expected`` insertions
    at ``fpp`` false-positive rate (m = -n ln p / ln2^2, k = m/n ln2)."""
    import math

    expected = max(1, expected)
    m = max(64, int(-expected * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(m / expected * math.log(2)))
    return m, k


def _mix64(h):
    """splitmix64 finalizer (numpy uint64, vectorized): the gram hashes
    are 31-bit polynomial values (dedup.shingle_hashes), so their high
    word is EMPTY — splitting them raw would collapse the double-hash
    increment to 1 and cluster every key's probes. The mix spreads the
    31 input bits over all 64 before the split."""
    import numpy as np

    h = h.astype(np.uint64, copy=True)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def _bloom_positions(h, i: int, m: int):
    """Kirsch–Mitzenmacher double hashing over a MIXED 64-bit gram hash
    (numpy uint64 array): pos_i = (h1 + i*h2) mod m, h2 forced odd.
    uint64 wrap before the mod is a negligible bias at bloom scale.
    Callers pass the _mix64 output."""
    import numpy as np

    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)
    return ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)


def build_gram_bloom(hash_df, m: int, k: int) -> bytes:
    """Bloom bitmap bytes over a single-long-column ``g`` DataFrame of
    gram hashes: per-partition numpy bitmaps, tree-OR-combined down to
    a handful of rows before the driver fold — gram rows never cross
    the wire, and the driver receives O(1) bitmaps however many scan
    partitions exist (the same shape as Spark's own stat.bloomFilter
    treeAggregate). Shared by ``contamination_hits_scaled`` and the
    ``--bloom-decontam`` scaling probe so the measurement harness can
    never drift from the shipped screen (review r12)."""
    import numpy as np

    nbytes = (m + 7) // 8

    def _set_bits(pdf_iter):
        import pandas as pd

        bits = np.zeros(nbytes, dtype=np.uint8)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            h = _mix64(pdf["g"].values.view(np.uint64))
            for i in range(k):
                pos = _bloom_positions(h, i, m)
                np.bitwise_or.at(
                    bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8)
                )
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    def _or_fold(pdf_iter):
        import pandas as pd

        acc = None
        for pdf in pdf_iter:
            for b in pdf["bits"]:
                arr = np.frombuffer(b, dtype=np.uint8)
                acc = arr.copy() if acc is None else acc | arr
        if acc is not None:
            yield pd.DataFrame({"bits": [acc.tobytes()]})

    parts = (
        hash_df.mapInPandas(_set_bits, "bits binary")
        .repartition(4)
        .mapInPandas(_or_fold, "bits binary")
        .collect()
    )
    bitmap = np.zeros(nbytes, dtype=np.uint8)
    for row in parts:
        bitmap |= np.frombuffer(row.bits, dtype=np.uint8)
    return bitmap.tobytes()


def gram_bloom_probe_udf(bitmap_bc, m: int, k: int):
    """Vectorized membership test against a broadcast ``build_gram_bloom``
    bitmap: a boolean pandas UDF over a long gram-hash column. False
    negatives impossible; positives are probabilistic (callers verify
    exactly). The shared probe half of the screen."""
    import numpy as np

    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def might_contain(hs):
        import pandas as pd

        bits = np.frombuffer(bitmap_bc.value, dtype=np.uint8)
        h = _mix64(hs.values.view(np.uint64))
        ok = np.ones(len(h), dtype=bool)
        for i in range(k):
            pos = _bloom_positions(h, i, m)
            ok &= ((bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1) == 1
            if not ok.any():
                break
        return pd.Series(ok)

    return might_contain


def contamination_hits_scaled(
    corpus,
    benchmark,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    expected_grams: int = 1_000_000,
    fpp: float = 1e-3,
):
    """``contamination_hits(hashed=True)`` for benchmark sets PAST
    broadcast size — decontaminating against another corpus (the
    held-out split of the training set itself, a sibling crawl) rather
    than a metadata-scale eval suite. Identical output by construction;
    tests assert row-for-row equality.

    The broadcast-join shape breaks down when |benchmark grams| is
    billions: the gram table cannot broadcast and a plain shuffled join
    shuffles EVERY corpus gram. This path:

    1. builds a Bloom bitmap over the benchmark's 64-bit gram hashes
       with a treeAggregate of per-partition numpy bitmaps (the same
       strategy as Spark's own ``DataFrame.stat.bloomFilter``, done in
       columnar batches; ``expected_grams``/``fpp`` size it —
       ~14.4 bits/gram at 1e-3, so even 10^9 grams is a ~1.7 GB driver
       artifact where the string set is ~100x that),
    2. screens corpus grams against the broadcast bitmap in a
       vectorized Arrow batch (no shuffle, false negatives impossible),
    3. exact-verifies ONLY the survivors with a left-semi join against
       the benchmark hash table — so the CORPUS side of the shuffle
       carries |true hits| + fpp·|corpus grams| rows instead of all of
       them, and bloom false positives are eliminated, keeping the
       result EXACTLY ``contamination_hits(hashed=True)`` (same
       31-bit-gram hash-collision caveat, nothing more).

    What the screen does NOT save: the verify join still shuffles the
    BENCHMARK gram table once (a left-semi cannot broadcast a
    past-broadcast build side), and the benchmark's gram projection
    executes twice — once for the bitmap, once for the join — so
    ``localCheckpoint``/persist the benchmark DF when that scan is
    expensive. The corpus side is the one that dwarfs at training
    scale (|corpus| >> |benchmark|), which is why screening it is the
    win: measured 1,621x corpus-gram shuffle reduction at fpp=1e-3
    (SCALING.md round-12).

    An undersized ``expected_grams`` only degrades fpp (more verify
    shuffle, same answer). Returns (id_col, n_hits) for contaminated
    docs only."""
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    if expected_grams < 1:
        raise ValueError(f"expected_grams must be >= 1, got {expected_grams}")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from ..operators.dedup import shingle_hashes
    from ..sources.tables import ensure_scan_parallelism

    m, k = _bloom_params(expected_grams, fpp)

    def grams(col):
        return F.array_distinct(shingle_hashes(col, n))

    bench_hashes = ensure_scan_parallelism(benchmark, spread_by=(text_col,)).select(
        F.explode(grams(F.col(text_col))).alias("g")
    )

    bc = corpus.sparkSession.sparkContext.broadcast(
        build_gram_bloom(bench_hashes, m, k)
    )
    might_contain = gram_bloom_probe_udf(bc, m, k)

    corpus_grams = ensure_scan_parallelism(corpus, spread_by=(id_col,)).select(
        F.col(id_col), F.explode(grams(F.col(text_col))).alias("g")
    )
    survivors = corpus_grams.filter(might_contain(F.col("g")))
    return (
        # left_semi: at most one match per (doc, gram) however often the
        # gram repeats in the benchmark — no bench-side distinct needed
        survivors.join(bench_hashes, "g", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def contamination_hits_auto(
    corpus,
    benchmark,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_gram_limit: int = 5_000_000,
    fpp: float = 1e-3,
):
    """Route between the broadcast path (``contamination_hits``,
    hashed) and the bloom-screened path (``contamination_hits_scaled``)
    by ESTIMATING the benchmark's gram count — the probe-and-route
    idiom ``grouped_quantiles_auto`` established (a plan-time
    statistics job, the ANALYZE class; at 100 TB the scheduler caches
    it). Both branches return the identical relation, so the routing is
    purely a physical-plan decision: below ``broadcast_gram_limit``
    distinct-ish grams the set comfortably broadcasts (5M longs ~ 40 MB
    pre-dedup bound) and the join is map-side; above it the bloom
    screen + exact verify keeps the corpus-side shuffle at survivors
    only.

    The probe tokenizes a deterministic 5% HASH SAMPLE of the benchmark
    (not the whole thing — a full gram pass over a corpus-sized
    benchmark would cost as much as the work being routed, and the
    bloom branch re-derives the gram relation anyway; review r12) and
    extrapolates with a 1.25x bloom-leaning safety factor: sampling
    error can only push a borderline benchmark toward the bloom route,
    which is correct either way — only slower by one screen. Null
    texts contribute zero (size(NULL) is -1 under non-ANSI semantics
    and would silently DEFLATE the estimate — review r12)."""
    from ..operators.dedup import shingle_hashes
    from ..operators.sampling import hash_sample
    from ..sources.tables import ensure_scan_parallelism

    frac = 0.05
    # sample keyed on the text hash — the one column every benchmark is
    # guaranteed to carry here (id_col names the CORPUS's id)
    sampled = hash_sample(
        ensure_scan_parallelism(benchmark, spread_by=(text_col,)), frac,
        id_col=text_col,
    )
    est = (
        sampled.select(
            F.sum(
                F.greatest(
                    F.size(
                        F.array_distinct(shingle_hashes(F.col(text_col), n))
                    ),
                    F.lit(0),
                )
            ).alias("s")
        )
        .first()
        .s
    )
    total = int((est or 0) / frac * 1.25)
    if total <= broadcast_gram_limit:
        return contamination_hits(
            corpus, benchmark, n=n, text_col=text_col, id_col=id_col,
            hashed=True,
        )
    return contamination_hits_scaled(
        corpus, benchmark, n=n, text_col=text_col, id_col=id_col,
        expected_grams=int(total), fpp=fpp,
    )


def remove_contaminated_spans(
    corpus,
    benchmark,
    n: int = 8,
    margin: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
):
    """SPAN-LEVEL decontamination (the Llama/PaLM-style refinement of
    ``contamination_hits``' doc-level drop): instead of discarding a
    whole document that shares n-grams with the benchmark, excise just
    the matching token spans — each hit gram's n tokens plus ``margin``
    context tokens on both sides, overlapping spans merged — and keep
    the clean remainder. On a web corpus the contaminated doc usually
    QUOTES the benchmark (a blog post embedding a GSM8K problem); doc-
    level dropping throws away the surrounding clean prose, span
    removal keeps it.

    Row-count-preserving over ``corpus``. Output adds: ``out_col``
    (tokens outside every dirty span, space-joined — '' when the whole
    doc is contaminated), ``n_tokens`` (original), ``n_tokens_removed``,
    ``n_spans`` (merged dirty spans), and ``n_contaminated`` — the
    DISTINCT hit grams per doc, the exact ``contamination_hits`` count
    derived from the same single gram join (so a span-removing pipeline
    never pays a second benchmark broadcast for the doc-level flag).
    Callers gate on ``n_tokens_removed / n_tokens`` or a minimum
    surviving length.

    100 TB shape: the benchmark gram set is broadcast (metadata-scale),
    positioned corpus grams join it map-side, and only (doc, hit-pos)
    pairs — a vanishing fraction — shuffle back to the doc spine. The
    excision itself is PURE Column expressions (an index-aware
    ``F.filter`` over the token array against the sorted hit-position
    list + an aggregate fold counting merged spans): whole-stage
    codegen, no UDF, no second corpus shuffle. Per-token cost is
    O(|hits in that doc|), and hits are few by construction."""
    from ..sources.tables import ensure_scan_parallelism

    span = n + 2 * margin  # merged-span gap threshold (see n_spans fold)
    bench_grams = ensure_scan_parallelism(benchmark, spread_by=(text_col,)).select(
        F.explode(word_ngrams(F.col(text_col), n)).alias("g")
    ).distinct()
    toks = ws_tokens(F.col(text_col))
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    pos_grams = ensure_scan_parallelism(corpus, spread_by=(id_col,)).select(
        F.col(id_col).alias("__sid"),
        F.posexplode(_gram_zip(toks, n, m)).alias("pos", "g"),
    )
    hit_pos = (
        pos_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("__sid")
        .agg(
            F.sort_array(F.collect_list("pos")).alias("__hits"),
            # distinct hit grams == contamination_hits' n_hits (its
            # corpus grams are array_distinct'ed before the join).
            # size(array_distinct(collect_list)) and NOT count_distinct:
            # a distinct aggregate beside collect_list plans a second
            # (__sid, g) exchange; the local dedup keeps the hit
            # aggregation to ONE doc-keyed exchange (hit grams per doc
            # are few by construction — plan pinned in test_plans)
            F.size(F.array_distinct(F.collect_list("g"))).alias("__nc"),
        )
    )
    joined = corpus.join(
        hit_pos, F.col(id_col) == F.col("__sid"), "left"
    ).drop("__sid")
    # tokens / hit list / cleaned tokens BOUND AS COLUMNS before the
    # final projection: the select consumes each of them several times
    # (join + two sizes), higher-order expressions stay interpreted (no
    # codegen CSE), and a repeated tree re-tokenizes or re-filters per
    # reference — measured ~24% of the operator at sf0.1 (r13; the
    # tfidf_topk_arrays lesson applied here)
    joined = (
        joined.withColumn("__tk", toks)
        .withColumn(
            "__h", F.coalesce(F.col("__hits"), F.array().cast("array<int>"))
        )
        .withColumn(
            # token i is dirty iff some hit gram starting at p covers it
            # with margin: p - margin <= i <= p + n - 1 + margin
            "__ct",
            F.filter(
                F.col("__tk"),
                lambda x, i: ~F.exists(
                    F.col("__h"),
                    lambda p: (i >= p - F.lit(margin))
                    & (i <= p + F.lit(n - 1 + margin)),
                ),
            ),
        )
    )
    # merged-span count: consecutive hits p_prev, p merge when their
    # margin-padded intervals touch, i.e. p - p_prev <= n + 2*margin
    n_spans = F.aggregate(
        F.col("__h"),
        F.struct(
            F.lit(0).alias("cnt"), F.lit(-(10**9)).alias("prev")
        ),
        lambda acc, p: F.struct(
            (
                acc["cnt"]
                + F.when(p - acc["prev"] > F.lit(span), 1).otherwise(0)
            ).alias("cnt"),
            p.cast("int").alias("prev"),
        ),
        lambda acc: acc["cnt"],
    )
    return joined.select(
        *[c for c in corpus.columns],
        F.array_join(F.col("__ct"), " ").alias(out_col),
        F.size(F.col("__tk")).alias("n_tokens"),
        (F.size(F.col("__tk")) - F.size(F.col("__ct"))).alias(
            "n_tokens_removed"
        ),
        n_spans.alias("n_spans"),
        F.coalesce(F.col("__nc"), F.lit(0)).cast("bigint").alias(
            "n_contaminated"
        ),
    )


def chunk_documents(
    df,
    chunk_tokens: int = 512,
    overlap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Split documents into token-bounded overlapping chunks — the
    standard pre-training/RAG windowing step. Emits one row per chunk:
    (id, chunk_idx, chunk_text, n_chunk_tokens).

    Stride = chunk_tokens - overlap; chunk i covers tokens
    [i*stride, i*stride + chunk_tokens). The final chunk may be short;
    a doc shorter than one chunk yields exactly one chunk (itself).
    Pure sequence+explode+slice projection: codegen, no UDF, no shuffle —
    chunking 100 TB is a map-only pass. Chunk on ORIGINAL text (before
    redaction) only if downstream dedup must pair chunks with their
    sources; the token definition is the engine-wide single-space
    contract (ws_tokens)."""
    if not 0 <= overlap < chunk_tokens:
        # negative overlap -> stride > chunk_tokens: silent COVERAGE
        # GAPS between consecutive chunks, violating the contract below
        raise ValueError(
            f"overlap ({overlap}) must be in [0, chunk_tokens) "
            f"(chunk_tokens={chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    toks = ws_tokens(F.col(text_col))
    # number of chunks: 1 + ceil(max(n - chunk_tokens, 0) / stride)
    n = F.size(toks)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(chunk_tokens), F.lit(0)) / F.lit(stride)
    ).cast("int")
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: i * stride + 1
    )
    out = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(starts).alias("chunk_idx", "__start"),
    )
    piece = F.slice(F.col("__toks"), F.col("__start"), chunk_tokens)
    return out.select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def content_fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set. Robust to token reordering — pairs docs that are shuffles
    of each other; 32-byte digest is what shuffles, not the text."""
    toks = F.array_sort(F.array_distinct(ws_tokens(text)))
    return F.md5(F.concat_ws(" ", toks))


def clean_document_lines(
    df,
    text_col: str = "text",
    min_words: int = 3,
    require_terminal_punct: bool = False,
    max_lines: int = 10_000,
):
    """C4-style intra-document line cleaning: rewrite ``text_col`` with
    boilerplate-shaped lines dropped, survivors in original order.

    Rules (C4, Raffel et al. 2020, §2.2 — the web-scrape cleaning pass
    that precedes dedup): a line survives iff, after trimming, it has at
    least ``min_words`` whitespace words, optionally ends in terminal
    punctuation (``.!?"``), and is the FIRST occurrence of that trimmed
    line in the document (repeated nav/cookie boilerplate collapses to
    one). Cleaning runs BEFORE hashing/dedup in a curation pipeline so
    two scrapes differing only in boilerplate become exact duplicates.

    Map-only, pure SQL, no UDF, no shuffle. DataFrame-level on purpose:
    the trimmed line array materializes as a real column FIRST, so the
    per-line lambda's array_position reads a column reference — an
    outer computed expression inside the lambda would re-run the split
    per line (the measured HOF trap, see _gram_zip). Cost is then
    O(lines^2) string-pointer comparisons per doc, capped by
    ``max_lines``; token work stays O(tokens). Lines past ``max_lines``
    pass through UNCLEANED (appended verbatim) — the cap bounds the
    quadratic first-occurrence scan, it never deletes content."""
    all_lines = F.split(F.col(text_col), "\n")
    with_lines = df.withColumn(
        "__lines",
        F.transform(
            F.slice(all_lines, 1, max_lines), lambda line: F.trim(line)
        ),
    ).withColumn(
        "__tail",
        F.slice(
            all_lines,
            max_lines + 1,
            F.greatest(F.size(all_lines) - F.lit(max_lines), F.lit(0)),
        ),
    )
    arr = F.col("__lines")

    def keeps(line: Column, i: Column) -> Column:
        rules = (F.size(F.split(line, r"\s+")) >= min_words) & (line != "")
        if require_terminal_punct:
            rules = rules & line.rlike(r'[.!?"]$')
        # first occurrence: this index IS where the line first appears
        return rules & (F.array_position(arr, line) == i + 1)

    return with_lines.withColumn(
        text_col,
        F.array_join(F.concat(F.filter(arr, keeps), F.col("__tail")), "\n"),
    ).drop("__lines", "__tail")


def winnowing_fingerprints(
    text: Column, k: int = 3, window: int = 4, portable: bool = False
) -> Column:
    """Rolling-hash document fingerprints by winnowing (the MOSS scheme):
    hash every k-token shingle with the polynomial rolling hash
    (operators/dedup.shingle_hashes), slide a ``window`` over the hash
    sequence, keep each window's minimum, distinct the selections.

    The winnowing guarantee: any shared token run of length >=
    ``window + k - 1`` between two documents produces at least one
    SHARED fingerprint — which makes the fingerprints joinable for
    partial-overlap detection (explode -> equi-join on the hash), unlike
    a whole-document digest. Docs shorter than one window keep the
    minimum of what they have; sub-k-token docs fingerprint to an empty
    set (no shingles), like empty sets in set-similarity.

    Pure SQL higher-order expressions; selections-per-doc ~= 2/(window+1)
    of the shingle count, so the exploded join input is a fraction of
    the token stream. ``portable`` swaps xxhash64 for the md5-prefix
    hash family (dedup.portable_hash) so a DuckDB oracle reproduces the
    fingerprints bit-for-bit (the dedup_minhash_lsh discipline; the
    dedup_fingerprint gate's winnow stage runs portable)."""
    from .dedup import shifted_fold, shingle_hashes

    h = shingle_hashes(text, k, portable=portable)
    # window-min via the shared shifted-slice fold (dedup.shifted_fold;
    # the old transform(sequence(1, n_win), i -> array_min(slice(h,i,w)))
    # form re-evaluated the shingle-hash expression per WINDOW POSITION —
    # the HOF-lambda trap). least() skips the nulls zip_with pads at the
    # tail, so end windows truncate exactly like array_min(slice()) did.
    m = F.greatest(F.size(h) - F.lit(window - 1), F.least(F.size(h), F.lit(1)))
    return F.array_sort(
        F.array_distinct(shifted_fold(h, window, m, lambda x, y: F.least(x, y)))
    )


def token_vocab(
    docs,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    tokenizer: str = "ws",
    min_count: int = 2,
    top_n: int | None = None,
):
    """Corpus vocabulary: one row per distinct token with its corpus
    term frequency (``tf``) and approximate document frequency
    (``df_approx``) — the counting pass that precedes BPE/vocab
    training and feeds IDF weighting.

    ``tokenizer``: ``"ws"`` = the lowercased whitespace tokens every
    other text operator counts with; ``"bpe_ish"`` = the subword-proxy
    regex (letter runs | single digits | single marks, BPE_ISH_RE).

    Scale shape: explode → one hash aggregation keyed by token. The
    explode never materializes the corpus token stream through a
    shuffle — partial aggregation means each task emits only its LOCAL
    distinct (token, tf, HLL-sketch) tuples, so the exchange carries
    ~vocab-sized data per partition regardless of corpus token count.
    Document frequency is an HLL sketch (``approx_count_distinct``,
    default ~2% rsd) merged in the SAME pass — the exact alternative is
    a second (token, doc_id)-distinct shuffle of corpus-scale width,
    the wrong trade for an IDF denominator. ``top_n`` compiles to
    TakeOrderedAndProject (per-partition top-N, driver merge of N×P
    rows), never a global sort of the vocabulary."""
    if tokenizer == "ws":
        toks = ws_tokens(F.col(text_col))
    elif tokenizer == "bpe_ish":
        toks = F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(BPE_ISH_RE), 0
        )
    else:
        raise ValueError(f"unknown tokenizer {tokenizer!r} (ws | bpe_ish)")
    exploded = docs.select(
        F.col(doc_id_col), F.explode(toks).alias("token")
    ).filter(F.col("token") != "")
    vocab = (
        exploded.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.approx_count_distinct(doc_id_col).alias("df_approx"),
        )
        .filter(F.col("tf") >= int(min_count))
    )
    ordered = vocab.orderBy(F.col("tf").desc(), F.col("token").asc())
    return ordered.limit(int(top_n)) if top_n is not None else ordered


def corpus_stats(
    docs,
    strata: Sequence[str] = ("lang", "source"),
    text_col: str = "text",
):
    """Training-mix accounting per stratum: docs, whitespace tokens,
    bytes, and the quality-score distribution (mean + P10/P50/P90 via
    the sketch-backed percentile_approx). One map-side-combined
    aggregation pass — the report a mix-rebalancing decision needs
    (pair with sampling.stratified_sample to act on it)."""
    q = F.round(quality_score(F.col(text_col)), 6)
    return (
        docs.groupBy(*strata)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tokens(F.col(text_col)).cast("bigint")).alias("n_tokens"),
            F.sum(F.octet_length(text_col).cast("bigint")).alias("n_bytes"),
            F.round(F.avg(q), 6).alias("quality_mean"),
            F.percentile_approx(q, F.array(F.lit(0.1), F.lit(0.5), F.lit(0.9)))
            .alias("quality_p10_p50_p90"),
        )
        .orderBy(F.col("n_tokens").desc())
    )


def dedup_paragraphs(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_chars: int = 1,
):
    """CCNet-style cross-document paragraph dedup: split every doc on
    ``sep``, keep each distinct paragraph's FIRST occurrence corpus-wide
    (first = lowest (doc_id, position) — a total order, so reruns keep
    identical survivors), and reassemble docs with their surviving
    paragraphs in original order. Web corpora repeat boilerplate
    paragraphs (licenses, nav text, disclaimers) across millions of
    pages that document-level dedup can never touch; this removes them
    while leaving each paragraph's one canonical home intact. Docs
    whose every paragraph already appeared elsewhere come back EMPTY
    (text "") rather than disappearing — dropping them is the caller's
    policy decision, and row identity must survive for keyed sinks.

    Shape: posexplode → one md5-keyed window (rank occurrences within
    their hash group by (doc_id, pos); an occurrence survives iff it
    ranks first) → regroup by doc with sort_array(struct(pos, para)).
    Two exchanges —
    one on the paragraph hash, one on doc_id — both linear; paragraph
    BODIES ride the shuffles, so this costs corpus-bytes x2 in exchange
    traffic (the price of reassembly; run it once, early, before the
    doc-level family). ``min_chars`` exempts short paragraphs (headers,
    separators) from dedup — they pass through untouched rather than
    collapsing to one corpus-wide survivor."""
    from pyspark.sql import Window

    # F.split takes a Java REGEX while array_join reassembles with the
    # LITERAL sep — quote the split pattern (Pattern.quote semantics:
    # \Q...\E, with any embedded \E broken out) so metacharacter seps
    # ('|', '.', '\n\n+'-lookalikes) split literally and reassembly
    # round-trips (ADVICE r08)
    sep_rx = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    paras = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), sep_rx)
        ).alias("__pos", "__para"),
    )
    eligible = F.length(F.trim(F.col("__para"))) >= min_chars
    # ineligible paragraphs must NOT enter the window: they would all
    # share one NULL hash partition — a single-task corpus-wide sort.
    # They bypass dedup entirely and rejoin before reassembly.
    w = Window.partitionBy("__h").orderBy(
        F.col(id_col).asc(), F.col("__pos").asc()
    )
    deduped = (
        paras.filter(eligible)
        .withColumn("__h", F.md5(F.col("__para")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "__pos", "__para")
    )
    kept = deduped.unionByName(
        paras.filter(~eligible).select(id_col, "__pos", "__para")
    )
    survivors = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__para")))
                ),
                lambda s: s.getField("__para"),
            ),
            sep,
        ).alias(text_col)
    )
    # left join back so fully-deduped docs return with empty text, and
    # every non-text column of the input survives untouched
    others = [c for c in df.columns if c != text_col]
    return (
        df.select(*others)
        .join(survivors, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    )


# ---------------------------------------------------------------------------
# URL hygiene: the dedup keys of web-scraped corpora. Pure regexps —
# codegen-resident, no Python.
# ---------------------------------------------------------------------------


def normalize_url(url: Column) -> Column:
    """Canonical URL for dedup keying: lowercase scheme+host, default
    ports and fragments stripped, query preserved (two pages differing
    only in #anchor or :443 are the same document; differing in ?q= are
    not), trailing slash trimmed from bare paths. NULL stays NULL —
    a missing URL must not collapse with other missing URLs into one
    'canonical' key."""
    u = F.trim(url)
    # lowercase ONLY scheme://host[:port] — paths are case-sensitive
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = u.substr(F.length(head) + 1, F.length(u))
    u = F.concat(F.lower(head), rest)
    u = F.regexp_replace(u, r"#.*$", "")             # fragment
    # host class excludes ':' so the greedy match cannot swallow the
    # port and defeat the strip
    u = F.regexp_replace(u, r"^(https://[^/:?#]*):443(?=[/?]|$)", r"$1")
    u = F.regexp_replace(u, r"^(http://[^/:?#]*):80(?=[/?]|$)", r"$1")
    u = F.regexp_replace(u, r"(?<=[^/])/$", "")      # trailing slash
    return F.when(url.isNotNull(), u)


def extract_domain(url: Column, registered: bool = False) -> Column:
    """Hostname of a URL (port stripped, lowercased); with
    ``registered=True`` the last two labels only — a cheap eTLD-1
    approximation (correct for .com/.org-style TLDs, knowingly wrong
    for ccTLD registries like .co.uk; a real public-suffix list is a
    data dependency this container doesn't carry). NULL for NULL or
    scheme-less input."""
    host = F.lower(
        F.regexp_extract(F.trim(url), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)
    )
    host = F.nullif(host, F.lit(""))
    if registered:
        host = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
        host = F.nullif(host, F.lit(""))
    return host


def tfidf_keywords(
    docs: "DataFrame",
    k: int = 5,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    min_df: int = 2,
    stable_round: int | None = None,
) -> "DataFrame":
    """Top-``k`` characteristic terms per document by smoothed TF-IDF —
    the classic keyword-extraction / topic-tagging pass of a corpus
    curation pipeline. (doc_id, term, tfidf, rank), rank 1 = most
    characteristic; ties break on the term so the output is a total
    order (rerun/partitioning deterministic).

    tf is RAW count (keyword extraction wants the prominence of the
    term in THIS doc); idf is ln(1 + (N - df + 0.5)/(df + 0.5)), the
    same Robertson non-negative form the BM25 scorer uses — one idf
    convention across the lexical stack. ``min_df`` drops hapax noise
    (typos/ids score an extreme idf but characterize nothing).

    Scale shape (r13): one vocabulary-sized df aggregation + a
    broadcast map<term, idf> row; tf and the per-doc top-k are
    row-local array expressions and the output rows come from a
    narrow posexplode — no doc-term shuffle at all (see
    :func:`tfidf_topk_arrays`, the kernel). No all-pairs, no Python
    on rows.

    ``stable_round`` rounds tfidf to that many decimals BEFORE ranking
    (the hybrid_retrieval lexk discipline): ln() can differ by an ulp
    between the JVM and libm, and ranking on the rounded score with the
    term tie-break keeps the top-k a cross-engine total order — the
    text_quality_score oracle gate runs with 6; None (library default)
    ranks at full precision."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    kw = tfidf_topk_arrays(
        docs, k, text_col, min_df=min_df, stable_round=stable_round
    )
    return kw.select(
        F.col(doc_id_col).alias("doc_id"),
        F.posexplode("__kw").alias("__p", "__s"),
    ).select(
        "doc_id",
        F.col("__s.term").alias("term"),
        F.col("__s.tfidf").alias("tfidf"),
        (F.col("__p") + 1).cast("int").alias("rank"),
    )


_MAX_INLINE_VOCAB = 2_000_000
"""Ceiling on the single-map-row idf attach (VERDICT r13 #4): the
inline form folds the whole surviving vocabulary into ONE
map<term, idf> cell — at ~50 bytes/term this bound keeps the row and
its broadcast around 100 MB, comfortably under the 8 GB/512M-row
broadcast caps and executor row limits. Corpora whose post-min_df
vocabulary exceeds it (100 TB web text easily reaches billions of
distinct tokens) fall back to a relational term join; the check costs
one extra vocabulary-count pass at plan build, outside timed runs (it
cannot share the consumer's scan without persisting the vocabulary
relation, which would move the df aggregation out of the timed region
of the oracle-gated consumer — the caching the bench contract forbids).
The JOIN fallback re-attaches keywords by a digest of the text, so doc
ids need not be unique on either path."""


def tfidf_topk_arrays(
    docs: "DataFrame",
    k: int = 5,
    text_col: str = "text",
    min_df: int = 2,
    stable_round: int | None = None,
    max_inline_vocab: int | None = _MAX_INLINE_VOCAB,
) -> "DataFrame":
    """``docs`` plus ``__kw`` — each doc's top-``k`` TF-IDF keywords as ONE
    rank-ordered array<struct<tfidf, term>> column (empty array when no
    term survives ``min_df``). The array kernel behind
    :func:`tfidf_keywords`, exposed so compositions that want the
    keywords ON the doc row (the text_quality_score gate) skip the
    explode AND the re-collect.

    Physical shape (r13 rewrite — the guide's "shuffle keys and
    metadata instead of payloads"): the former plan shuffled the
    (doc, term) relation three times — groupBy(doc, term) for tf, a
    WindowGroupLimit top-k exchange on doc_id, and the consumer's
    collect_list groupBy — plus a broadcast idf join. But tf and the
    per-doc ranking are PER-DOC facts: run-length-encoding the doc's
    own sorted token array gives its tf pairs, and ranking k of them
    is an array_sort + slice — all row-local expressions, no exchange.
    Only the CORPUS facts remain distributed: one map-side-combined
    distinct-term aggregation for df (vocabulary-sized output) folded
    into a single map<term, idf> row that is broadcast back onto the
    doc stream (a nested-loop join of one row). Measured on the
    text_quality_score gate at sf0.1: 1.39 s -> see OPTIMIZATION_r13.
    Same broadcast posture as before — the old plan broadcast the
    vocabulary-row idf relation too; vocabularies beyond broadcast
    scale need the join form either way.

    tf is RAW count; idf is ln(1 + (N - df + 0.5)/(df + 0.5)); ranking
    is (tfidf DESC, term ASC) — see tfidf_keywords for the contract
    and ``stable_round``.
    """
    from .retrieval import _idf_expr

    toks = F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")
    dterms = docs.select(F.explode(F.array_distinct(toks)).alias("term"))
    df_rel = (
        dterms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    n_docs = docs.count()
    # vocabulary guard (r14, VERDICT r13 #4): one extra vocabulary-count
    # job at plan build decides single-map-row inline vs relational
    # join; None skips the probe and always inlines (callers who know
    # their vocabulary)
    inline = (
        max_inline_vocab is None or df_rel.count() <= max_inline_vocab
    )
    idf_map = df_rel.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("term"), _idf_expr(n_docs).alias("idf")))
        ).alias("__idf_map")
    )

    # run-length tf over the doc's sorted tokens: run ends are the
    # positions where the next token differs; (end - previous end) is
    # the run length. All O(tokens log tokens) per row, no shuffle.
    # Degenerate inputs need no special case: an empty/null token array
    # yields an empty `ends` (the probe indexes resolve to NULL, and a
    # NULL filter predicate drops), zip_with pads with NULLs, and the
    # NULL-scored entries are filtered out — kw = [].
    #
    # Every intermediate is BOUND AS A COLUMN (chained withColumns), not
    # captured into the next lambda as an expression: higher-order
    # functions run interpreted, with NO common-subexpression
    # elimination inside the lambda, so a captured array_sort(split(..))
    # would re-sort the doc on every element probe — measured 4.7x
    # slower than the column-bound form on the text_quality_score gate.
    #
    # F.get / try_element_at, not element_at: probes past the array end
    # and map misses must yield NULL (out-of-range element_at and absent
    # map keys THROW under ANSI mode, Spark 4's default). get() is
    # 0-based, hence the -1s.
    st = F.col("__tt_st")
    n = F.size(st)
    ends = F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: (i == n) | (F.get(st, i - 1) != F.get(st, i)),
    )
    tf_pairs = F.zip_with(
        F.col("__tt_ends"),
        F.concat(
            F.array(F.lit(0)),
            F.slice(
                F.col("__tt_ends"),
                1,
                F.greatest(F.size(F.col("__tt_ends")) - 1, F.lit(0)),
            ),
        ),
        lambda e, s: F.struct(
            F.get(st, e - 1).alias("term"), (e - s).alias("tf")
        ),
    )

    def _score(p):
        s = p["tf"] * F.try_element_at(F.col("__idf_map"), p["term"])
        return F.round(s, stable_round) if stable_round is not None else s

    scored = F.filter(
        F.transform(
            F.col("__tt_pairs"),
            lambda p: F.struct(p["term"].alias("term"), _score(p).alias("tfidf")),
        ),
        lambda s: s["tfidf"].isNotNull(),
    )
    # sort key: (-tfidf, term) ascending == (tfidf DESC, term ASC); terms
    # outside the idf map (dropped by min_df) scored NULL and are gone
    kw = F.transform(
        F.slice(
            F.array_sort(
                F.transform(
                    F.col("__tt_scored"),
                    lambda s: F.struct(
                        (-s["tfidf"]).alias("__neg"),
                        s["term"].alias("term"),
                        s["tfidf"].alias("tfidf"),
                    ),
                )
            ),
            1,
            k,
        ),
        lambda s: F.struct(s["tfidf"].alias("tfidf"), s["term"].alias("term")),
    )
    if inline:
        return (
            docs.crossJoin(F.broadcast(idf_map))
            .withColumn("__tt_st", F.array_sort(toks))
            .withColumn("__tt_ends", ends)
            .withColumn("__tt_pairs", tf_pairs)
            .withColumn("__tt_scored", scored)
            .withColumn("__kw", kw)
            .drop("__idf_map", "__tt_st", "__tt_ends", "__tt_pairs", "__tt_scored")
        )

    # ---- beyond-broadcast-vocabulary fallback (VERDICT r13 #4) ----
    # The per-doc tf pairs stay row-local (the r13 win); only the idf
    # ATTACH goes relational: explode the (doc, distinct-term) pairs —
    # far smaller than the token stream — join the vocabulary-sized idf
    # relation on term, and re-collect per doc with the SAME
    # (-tfidf, term) sort key and slice. A row's keywords are a function
    # of its text alone, so they travel keyed by a digest of the text,
    # not by doc id: rows sharing an id keep their own keywords, as on
    # the inline path, and rows sharing a text share theirs (their
    # identical pairs collapse in the collect_set). A NULL text has no
    # pairs and keeps an empty array.
    idf_rel = df_rel.select("term", _idf_expr(n_docs).alias("idf"))
    key = F.sha2(F.col(text_col), 256)
    pairs = (
        docs.select(key.alias("__tt_key"), toks.alias("__tt_toks"))
        .withColumn("__tt_st", F.array_sort(F.col("__tt_toks")))
        .withColumn("__tt_ends", ends)
        .withColumn("__tt_pairs", tf_pairs)
        .select("__tt_key", F.explode("__tt_pairs").alias("__p"))
        .select(
            "__tt_key",
            F.col("__p.term").alias("term"),
            F.col("__p.tf").alias("tf"),
        )
    )
    raw_score = F.col("tf") * F.col("idf")
    score = (
        F.round(raw_score, stable_round)
        if stable_round is not None
        else raw_score
    )
    scored_rel = pairs.join(idf_rel, "term").select(
        "__tt_key",
        F.struct(
            (-score).alias("__neg"),
            F.col("term").alias("term"),
            score.alias("tfidf"),
        ).alias("__s"),
    )
    kw_rel = scored_rel.groupBy("__tt_key").agg(
        F.transform(
            F.slice(F.array_sort(F.collect_set("__s")), 1, k),
            lambda s: F.struct(s["tfidf"].alias("tfidf"), s["term"].alias("term")),
        ).alias("__kw")
    )
    empty_kw = F.array().cast("array<struct<tfidf:double,term:string>>")
    return (
        docs.withColumn("__tt_key", key)
        .join(kw_rel, "__tt_key", "left")
        .drop("__tt_key")
        .withColumn("__kw", F.coalesce(F.col("__kw"), empty_kw))
    )
