"""BM25 keyword retrieval over the document corpus — the lexical
counterpart to the embedding ANN stack (similarity/quantize): build an
inverted postings relation once, then answer batched keyword queries
with Okapi BM25 scoring and grouped top-k.

A training-data pipeline needs this for targeted corpus probes
("find the documents about X"), lexical decontamination sweeps, and
as the sparse half of hybrid (BM25 + dense) retrieval.

Spark-first shapes, no UDFs anywhere:

- INDEX BUILD is two partial-aggregated groupBys over the exploded
  token stream: (term, doc) term frequencies and per-term document
  frequencies. IDF and document length are denormalized INTO the
  postings relation at build time, so serving is a single join — the
  classic space/time trade every search engine makes.
- SERVING joins the postings against the (small, by contract) query
  term relation with a broadcast hint: the corpus-sized postings never
  shuffle, each posting row meets every query term it matches
  map-side, and one groupBy(query, doc) sums the score. Top-k per
  query reuses grouped_topk's WindowGroupLimit rewrite.
- A PERSISTED index partitions postings by a term-hash bucket;
  serving a loaded index prunes to the query terms' buckets before
  the scan (partition pruning). Sizing note (measured,
  SCALING.md round-9): the pruned BYTES fraction is governed by how
  much co-resident term mass shares the touched buckets, and Zipfian
  head terms make some buckets fat — size ``n_buckets`` so head-term
  postings dominate their own buckets (the probe shows 64→512 buckets
  cutting a tail-term query's read fraction 43.6%→23.2%; the postings
  a query actually scores are the irreducible floor).

Scoring (classic Okapi BM25, the Robertson/Sparck-Jones idf in its
non-negative Lucene form):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(q, d) = sum_t qtf(t) * idf(t) * tf * (k1+1)
                    / (tf + k1 * (1 - b + b * dl / avgdl))

Query term frequency (qtf) multiplies — repeating a term in the query
weights it, matching the per-occurrence sum of reference
implementations. Tokenization is ws_tokens (lowercase, single-space
split), identical to the text-quality and LM operators, so one
normalization policy governs the whole text stack.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import ws_tokens
from .topk import grouped_topk


class BM25Index(NamedTuple):
    """Live index. postings: (term, doc_id, tf, dl, idf) — tf/idf/dl
    denormalized so serving is one join; n_docs/avgdl are the corpus
    scalars the length normalization needs. ``df`` (term, df) /
    ``doc_lens`` (doc_id, dl) / ``total_tokens`` carry the raw
    statistics the PERSISTED layout stores instead of idf (idf bakes N
    and df in, which appends invalidate — see save_bm25_index)."""

    postings: DataFrame
    n_docs: int
    avgdl: float
    df: DataFrame | None = None
    doc_lens: DataFrame | None = None
    total_tokens: int = 0


def _idf_expr(n_docs: int):
    """Non-negative Robertson idf from a ``df`` column — the one place
    the formula lives, shared by the live build and the disk serve."""
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )


def _bm25_score_expr(k1: float, b: float, avgdl: float):
    """Per-posting BM25 contribution from qtf/idf/tf/dl columns."""
    return (
        F.col("qtf")
        * F.col("idf")
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
        )
    )


def _doc_terms(docs: DataFrame, text_col: str, doc_id_col: str) -> DataFrame:
    toks = F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")
    return docs.select(
        F.col(doc_id_col).alias("doc_id"), F.explode(toks).alias("term")
    )


def build_bm25_index(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> BM25Index:
    """Inverted BM25 postings from ``docs``. Two linear aggregation
    passes (term frequencies; document frequencies) + one join to
    attach idf and dl. Empty documents index no terms but still count
    toward N and avgdl (dl=0), matching the reference scorer."""
    n_docs = docs.count()
    if n_docs == 0:
        raise ValueError("cannot build a BM25 index over an empty corpus")
    terms = _doc_terms(docs, text_col, doc_id_col)
    tf = terms.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    # dl falls out of tf (sum of a doc's term frequencies): no second
    # pass over text
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # total tokens re-aggregates the (term, doc) relation, NOT the raw
    # token stream — one pass over text total (docs absent from dl are
    # empty and add 0)
    total_tokens = dl.agg(F.coalesce(F.sum("dl"), F.lit(0))).collect()[0][0]
    avgdl = total_tokens / n_docs
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_rel.select("term", _idf_expr(n_docs).alias("idf"))
    postings = tf.join(dl, "doc_id").join(idf, "term").select(
        "term", "doc_id", "tf", "dl", "idf"
    )
    # doc_lens is the COMPLETE doc spine (empty docs carry dl=0): the
    # persisted layout uses it as the already-indexed registry, so an
    # empty doc must be representable or every append would re-detect
    # it as fresh and inflate N
    doc_lens = (
        docs.select(F.col(doc_id_col).alias("doc_id"))
        .join(dl, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("dl"), F.lit(0)).alias("dl"))
    )
    return BM25Index(
        postings, n_docs, float(avgdl), df_rel, doc_lens, int(total_tokens)
    )


def _query_terms(queries: DataFrame, query_id_col: str, query_col: str) -> DataFrame:
    toks = F.filter(ws_tokens(F.col(query_col)), lambda t: t != "")
    return (
        queries.select(
            F.col(query_id_col).alias("query_id"), F.explode(toks).alias("term")
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )


def _inline_query_contrib(
    postings: DataFrame, qt: DataFrame, keep_term: bool = False
) -> DataFrame | None:
    """The r13 ``inline_queries`` kernel, shared by bm25_topk and
    bm25_scores: collect the (small by contract) query-term relation at
    PLAN BUILD and fold it into literal expressions — an ``isin``
    filter + a tiny literal-map explode replace the per-action
    query-side subplan and its broadcast barrier. Returns the
    (query_id, doc_id, [term,] qtf, tf, dl, idf) relation, or None when
    the query set is empty (caller falls back to the join form, which
    yields the same zero rows lazily). query_id/qtf literals are cast
    to the collected relation's own dtypes (ADVICE r13: a bigint
    query_id rebuilt via F.lit would come back as IntegerType and
    silently change the output schema vs the join path)."""
    rows = qt.collect()
    if not rows:
        return None
    qid_type = qt.schema["query_id"].dataType
    qtf_type = qt.schema["qtf"].dataType
    by_term: dict = {}
    for r in rows:
        by_term.setdefault(r.term, []).append((r.query_id, r.qtf))
    map_args = []
    for term, pairs in sorted(by_term.items()):
        map_args.append(F.lit(term))
        map_args.append(
            F.array(
                *[
                    F.struct(
                        F.lit(qid).cast(qid_type).alias("query_id"),
                        F.lit(qtf).cast(qtf_type).alias("qtf"),
                    )
                    for qid, qtf in pairs
                ]
            )
        )
    qmap = F.create_map(*map_args)
    out = (
        postings.filter(F.col("term").isin(*sorted(by_term.keys())))
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            "idf",
            F.explode(F.try_element_at(qmap, F.col("term"))).alias("__q"),
        )
        .select(
            F.col("__q.query_id").alias("query_id"),
            "doc_id",
            *(["term"] if keep_term else []),
            F.col("__q.qtf").alias("qtf"),
            "tf",
            "dl",
            "idf",
        )
    )
    return out


def bm25_topk(
    index: BM25Index,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_col: str = "query",
    inline_queries: bool = False,
) -> DataFrame:
    """(query_id, doc_id, score, rank) — the BM25 top-k documents per
    query. The query side is broadcast (small by contract: probes and
    decontamination term sets, not a second corpus); the postings side
    streams through one map-side join + one (query, doc) aggregation.
    Ties break on doc_id ascending so results are deterministic.

    ``inline_queries=True`` (r13) collects the query-term relation at
    PLAN BUILD (a driver job — the bm25_topk_on_index prune precedent)
    and folds it into literal expressions: the broadcast hash join
    becomes an ``isin`` filter + a tiny literal-map explode, fully
    pipelined into the postings scan stage. On a hot serve loop this
    removes the per-run query-side subplan and its broadcast barrier —
    measured ~0.35 s of the 0.89 s bench serve at sf0.1, which is
    stage latency, not data. Same rows, same score expressions; use it
    when the serve is latency-bound and the query set is plan-stable
    (the bench composite does), keep the join form for composed lazy
    plans (hybrid_retrieval)."""
    qt = _query_terms(queries, query_id_col, query_col)
    inlined = (
        _inline_query_contrib(index.postings, qt) if inline_queries else None
    )
    if inlined is not None:
        contrib = inlined.select(
            "query_id",
            "doc_id",
            _bm25_score_expr(k1, b, index.avgdl).alias("__s"),
        )
    else:
        contrib = index.postings.join(F.broadcast(qt), "term").select(
            "query_id",
            "doc_id",
            _bm25_score_expr(k1, b, index.avgdl).alias("__s"),
        )
    scored = contrib.groupBy("query_id", "doc_id").agg(F.sum("__s").alias("score"))
    return grouped_topk(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("doc_id").asc()],
        k,
        rank_col="rank",
    )


def bm25_scores(
    index: BM25Index,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_col: str = "query",
    stable_round: int | None = None,
    inline_queries: bool = False,
) -> DataFrame:
    """(query_id, doc_id, score) for every document sharing at least
    one term with the query — ``bm25_topk`` without the top-k cut.

    ``inline_queries`` (r14, VERDICT r13 #5): the bm25_topk inline
    path for plan-stable query sets — the query-term relation is
    collected at plan build and folded into literal expressions, so
    each action skips the query-side subplan and its broadcast
    barrier. Row- and ulp-identical to the join form under
    ``stable_round`` (the fold sums per-(query, doc) contributions in
    term order either way; differential-tested), and ulp-identical
    score EXPRESSIONS in the default form (only the join mechanics
    change, not the arithmetic).

    ``stable_round=N``: ORDER-STABLE scoring for the oracle gate — the
    per-posting contributions are collected per (query, doc), sorted by
    term, summed by a SEQUENTIAL fold (``F.aggregate``), and rounded to
    N digits. A plain ``F.sum`` adds in shuffle order, so the last-ulp
    float value depends on partitioning; the fold makes the score a
    pure function of the data, which DuckDB reproduces with
    ``list_aggregate(list(s ORDER BY term), 'sum')`` — the same
    discipline as the cosine _dot fold (extensions._dot). Default
    (None) keeps the partial-aggregated sum: cheaper, and rank-stable
    for serving."""
    qt = _query_terms(queries, query_id_col, query_col)
    inlined = (
        _inline_query_contrib(index.postings, qt, keep_term=True)
        if inline_queries
        else None
    )
    if inlined is not None:
        contrib = inlined.select(
            "query_id",
            "doc_id",
            "term",
            _bm25_score_expr(k1, b, index.avgdl).alias("__s"),
        )
    else:
        contrib = index.postings.join(F.broadcast(qt), "term").select(
            "query_id",
            "doc_id",
            "term",
            _bm25_score_expr(k1, b, index.avgdl).alias("__s"),
        )
    if stable_round is None:
        return contrib.groupBy("query_id", "doc_id").agg(
            F.sum("__s").alias("score")
        )
    arr = F.sort_array(
        F.collect_list(F.struct(F.col("term"), F.col("__s").alias("s")))
    )
    folded = F.aggregate(
        F.transform(arr, lambda x: x["s"]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return contrib.groupBy("query_id", "doc_id").agg(
        F.round(folded, stable_round).alias("score")
    )


# ------------------------------------------------------------ hybrid fusion


def rrf_fuse(
    rankings: "list[DataFrame]",
    k: int = 10,
    rrf_k: int = 60,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal rank fusion (Cormack/Clarke/Büttcher 2009) of N
    per-query rankings: fused(q, d) = sum over lists containing d of
    1 / (rrf_k + rank). The standard way to combine BM25's lexical
    ranking with a dense ANN ranking without score calibration —
    only RANKS cross the boundary, so the two scorers' incomparable
    score scales never meet.

    Plan: unionByName of the (already top-k-sized) rankings → one
    (query, doc) aggregation → grouped top-k. Inputs are k×queries
    rows each, so everything after the input rankings is tiny."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if rrf_k < 1:
        raise ValueError(f"rrf_k must be >= 1, got {rrf_k}")
    parts = [
        r.select(
            F.col(query_id_col),
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(rank_col))).alias("__c"),
        )
        for r in rankings
    ]
    allr = parts[0]
    for pr in parts[1:]:
        allr = allr.unionByName(pr)
    fused = allr.groupBy(query_id_col, id_col).agg(
        F.sum("__c").alias("rrf_score")
    )
    return grouped_topk(
        fused,
        [query_id_col],
        [F.col("rrf_score").desc(), F.col(id_col).asc()],
        k,
        rank_col="rank",
    )


def hybrid_topk(
    index: BM25Index,
    corpus_embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidates_per_arm: int | None = None,
    rrf_k: int = 60,
    query_id_col: str = "query_id",
    query_col: str = "query",
    query_vec_col: str = "query_vec",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Hybrid lexical+dense retrieval: BM25 over ``index`` and exact
    cosine over ``corpus_embeddings`` (keyed by the same doc ids), each
    producing ``candidates_per_arm`` (default 2k) candidates, fused
    with reciprocal rank fusion. ``queries`` carries BOTH
    representations: (query_id, query text, query_vec). Swap the dense
    arm for ivf_topk/pq_topk at scale — any (query_id, id, rank)
    relation fuses."""
    from .similarity import cosine_topk

    n = candidates_per_arm or 2 * k
    # bm25_topk emits canonical (query_id, doc_id, ...) names regardless
    # of its input column params — alias back to the caller's names so
    # the fuse keys line up with the dense arm's
    lex = bm25_topk(
        index, queries, k=n, k1=k1, b=b,
        query_id_col=query_id_col, query_col=query_col,
    ).select(
        F.col("query_id").alias(query_id_col),
        F.col("doc_id").alias(id_col),
        "rank",
    )
    den = cosine_topk(
        corpus_embeddings, queries, k=n,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(
        F.col(query_id_col), F.col(id_col), F.col("rnk").alias("rank")
    )
    return rrf_fuse(
        [lex, den], k=k, rrf_k=rrf_k,
        query_id_col=query_id_col, id_col=id_col,
    )


def mmr_rerank(
    candidates: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    vec_col: str = "embedding",
    stable_round: int | None = None,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998) of a per-query candidate list: greedily pick the candidate
    maximizing lam * relevance - (1-lam) * max-cosine-to-already-picked,
    so the top-k trades relevance against redundancy — the standard
    diversification step when retrieval feeds eval-set construction or
    few-shot example selection (near-duplicate hits crowd out coverage).

    Scale shape: the quadratic MMR greedy runs ONLY within each query's
    candidate list (k_in candidates, typically 10-100 — bounded by the
    upstream top-k), as one applyInPandas group per query; the corpus
    never joins pairwise. Relevance scores are min-max normalized per
    query inside the group so BM25, cosine, or RRF scales all work
    unchanged. Candidates missing an embedding keep relevance but
    contribute/suffer no redundancy penalty. Candidates with a NULL or
    NaN relevance score are DROPPED before normalization (ADVICE r09:
    one NaN would otherwise propagate through max()/span and silently
    collapse the whole query's normalized relevance to all-ones,
    reducing its ordering to a pure redundancy penalty — an upstream
    scorer that emits nulls should be fixed, not papered over).
    Deterministic: ties break on ascending id. ``stable_round`` rounds
    each pairwise redundancy cosine to that many decimals before the
    greedy compares marginal values — the bm25_scores discipline that
    lets a DuckDB oracle (sequential-fold cosine, vs numpy's dot)
    reproduce the selection bit-for-bit (hybrid_retrieval's mmr
    stage); None keeps full precision for library use."""
    import numpy as np
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    cand = candidates.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("doc_id"),
        F.col(score_col).cast("double").alias("rel"),
    ).filter(
        F.col("rel").isNotNull() & ~F.isnan("rel")
    ).join(
        embeddings.select(
            F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__vec")
        ),
        "doc_id",
        "left",
    )

    out_schema = (
        "query_id "
        + dict(cand.dtypes)["query_id"]
        + ", doc_id "
        + dict(cand.dtypes)["doc_id"]
        + ", mmr_score double, rank int"
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["rel", "doc_id"], ascending=[False, True])
        rel = pdf["rel"].to_numpy(dtype=float)
        span = rel.max() - rel.min()
        nrel = (rel - rel.min()) / span if span > 0 else np.ones_like(rel)
        vecs = []
        for v in pdf["__vec"]:
            if v is None or len(v) == 0:
                vecs.append(None)
            else:
                a = np.asarray(v, dtype=float)
                n = np.linalg.norm(a)
                vecs.append(a / n if n > 0 else None)
        n_rows = len(pdf)
        picked: list[int] = []
        picked_scores: list[float] = []
        max_sim = np.zeros(n_rows)
        remaining = list(range(n_rows))
        while remaining and len(picked) < k:
            best_i, best_val = None, None
            for i in remaining:
                val = lam * nrel[i] - (1.0 - lam) * max_sim[i]
                # strict > keeps the earliest (highest-rel, lowest-id)
                # row on ties — the sort above makes that deterministic
                if best_val is None or val > best_val:
                    best_i, best_val = i, val
            picked.append(best_i)
            picked_scores.append(float(best_val))
            remaining.remove(best_i)
            if vecs[best_i] is not None:
                for i in remaining:
                    if vecs[i] is not None:
                        s = float(np.dot(vecs[i], vecs[best_i]))
                        if stable_round is not None:
                            s = round(s, stable_round)
                        if s > max_sim[i]:
                            max_sim[i] = s
        rows = pdf.iloc[picked]
        return pd.DataFrame(
            {
                "query_id": rows["query_id"].to_numpy(),
                "doc_id": rows["doc_id"].to_numpy(),
                "mmr_score": picked_scores,
                "rank": np.arange(1, len(picked) + 1),
            }
        )

    return cand.groupBy("query_id").applyInPandas(pick, out_schema)


# --------------------------------------------------------------- persistence

_BUCKET = lambda n: F.pmod(F.xxhash64("term"), F.lit(n)).cast("int")  # noqa: E731

# On-disk layout (layout 3 — delta-log postings, version-flipped stats):
#
#   postings/d{K}/            (term, doc_id, tf, dl) partitioned by
#                             term_bucket — ONE immutable delta dir per
#                             committed batch; d0 is the initial build
#   df/v{K}/                  (term, df) partitioned by term_bucket
#   doc_stats/v{K}/           (doc_id, dl) — the complete doc registry
#   _bm25_meta.json           {format, layout: 3, n_docs, total_tokens,
#                              n_buckets, version: K} — written LAST by
#                              atomic rename: the ONLY commit point
#
# Committed postings = d0..d{version}; a reader unions exactly those
# delta scans, so an in-flight or crashed append's d{version+1} is
# INVISIBLE to serving (no read-uncommitted window) and is safely
# OVERWRITTEN by whatever batch commits next — partial files from a
# crashed job can never be accounted, served, or block a replay. idf
# is deliberately NOT stored: it bakes in N and per-term df, which
# every append changes — the disk serve derives idf for the QUERY's
# terms only, from the committed df relation and meta's N. Superseded
# df/doc_stats versions are pruned with a one-version grace window
# (readers should re-load after an append; a handle loaded one append
# ago still works, older handles must re-load). Single appender per
# index dir, like the PQ/IVFPQ appenders. Long append histories
# compact via compact_bm25_index — a re-layout of the committed
# postings union, no retokenization.
#
# Every writer in this module pins partitionOverwriteMode=static
# (ADVICE r09): the "overwritten wholesale by the next batch"
# invariant above is exactly static-mode semantics. Under a session
# that set the mode to dynamic, a crashed batch A's partitions that
# batch B does not touch would SURVIVE inside d{nxt} and be committed
# at B's meta flip — half-accounted postings. The per-write option
# makes the layout's crash story independent of session config.


def save_bm25_index(
    index: BM25Index, path: str, n_buckets: int = 64
) -> None:
    """Persist the index in the delta-log layout above. The bucket
    partitioning buys serve-time partition PRUNING (scan cost follows
    the query's vocabulary; see the module docstring for the measured
    co-resident-mass sizing guidance) and append-time locality. I/O
    goes through Spark writers / the Hadoop FS layer — any
    Hadoop-visible filesystem works."""
    import os

    from ..sinks.layout import _fs_and_path

    if index.df is None or index.doc_lens is None:
        raise ValueError(
            "save_bm25_index needs a build_bm25_index-produced index "
            "(df/doc_lens statistics present)"
        )
    spark = index.postings.sparkSession
    # crash posture (ADVICE r09): invalidate the OLD meta before
    # touching any data dir, so a crash mid-rebuild leaves the dir
    # explicitly "not an index" (load fails loudly on the missing
    # meta) instead of a meta pointing at half-deleted deltas. The
    # fresh meta is the LAST write, so the dir re-becomes an index
    # only once every replacement dir is fully in place.
    _jvm, fs, meta_p = _fs_and_path(spark, os.path.join(path, "_bm25_meta.json"))
    if fs.exists(meta_p):
        fs.delete(meta_p, False)
    # a rebuild over a previously-appended dir must clear stale deltas
    # and version dirs, or the fresh meta (version: 0) would coexist
    # with unreachable-but-confusing leftovers
    for rel in ("postings", "df", "doc_stats"):
        _jvm, fs, pth = _fs_and_path(spark, os.path.join(path, rel))
        if fs.exists(pth):
            fs.delete(pth, True)
    (
        index.postings.select("term", "doc_id", "tf", "dl")
        .withColumn("term_bucket", _BUCKET(n_buckets))
        .repartition("term_bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("term_bucket")
        .parquet(os.path.join(path, "postings/d0"))
    )
    (
        index.df.withColumn("term_bucket", _BUCKET(n_buckets))
        .repartition("term_bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("term_bucket")
        .parquet(os.path.join(path, "df/v0"))
    )
    index.doc_lens.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).parquet(
        os.path.join(path, "doc_stats/v0")
    )
    _write_bm25_meta(
        spark, path, index.n_docs, index.total_tokens, n_buckets, 0
    )


def _write_bm25_meta(
    spark, path: str, n_docs: int, total_tokens: int, n_buckets: int, version: int
) -> None:
    import json
    import os

    from ..sinks.layout import _fs_write_text

    _fs_write_text(
        spark,
        os.path.join(path, "_bm25_meta.json"),
        json.dumps(
            {
                "format": "bm25_index",
                "layout": 3,
                "n_docs": n_docs,
                "total_tokens": total_tokens,
                "n_buckets": n_buckets,
                "version": version,
            }
        ),
    )


class BM25DiskIndex(NamedTuple):
    postings: DataFrame  # union of the COMMITTED deltas d0..d{version}
    df: DataFrame  # (term, df, term_bucket) — the committed version
    n_docs: int
    avgdl: float
    total_tokens: int
    n_buckets: int
    version: int
    path: str


def load_bm25_index(spark: SparkSession, path: str) -> BM25DiskIndex:
    """Load a ``save_bm25_index`` artifact; fails loudly on a foreign
    or half-written directory (same contract as load_lm/load_dsir).
    The postings relation is the union of exactly the committed delta
    scans — each keeps its own term_bucket partition pruning."""
    import json
    import os

    from ..sinks.layout import _fs_read_text

    meta = json.loads(
        _fs_read_text(spark, os.path.join(path, "_bm25_meta.json"))
    )
    if meta.get("format") != "bm25_index":
        raise ValueError(f"not a bm25_index artifact: {path}")
    if meta.get("layout") != 3:
        raise ValueError(
            f"bm25_index at {path} uses layout {meta.get('layout')!r}; "
            "this release reads layout 3 (delta-log postings) — rebuild "
            "the index with save_bm25_index"
        )
    v = int(meta["version"])
    postings = spark.read.parquet(os.path.join(path, "postings/d0"))
    for k in range(1, v + 1):
        postings = postings.unionByName(
            spark.read.parquet(os.path.join(path, f"postings/d{k}"))
        )
    n_docs = int(meta["n_docs"])
    total_tokens = int(meta["total_tokens"])
    return BM25DiskIndex(
        postings,
        spark.read.parquet(os.path.join(path, f"df/v{v}")),
        n_docs,
        total_tokens / n_docs if n_docs else 0.0,
        total_tokens,
        int(meta["n_buckets"]),
        v,
        path,
    )


def bm25_topk_on_index(
    disk: BM25DiskIndex,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """Serve from a persisted index: derive idf for the QUERY's terms
    from the committed df relation (both sides bucket-pruned), then one
    broadcast join against the pruned postings."""
    qt = _query_terms(queries, query_id_col, query_col)
    buckets = [
        r.b
        for r in qt.select(_BUCKET(disk.n_buckets).alias("b")).distinct().collect()
    ]
    postings = disk.postings.filter(F.col("term_bucket").isin(buckets))
    df_rel = disk.df.filter(F.col("term_bucket").isin(buckets))
    # qt is small by contract -> broadcast against df to pull idf for
    # exactly the query terms; the result stays query-sized and
    # broadcasts again against the postings
    qt_idf = df_rel.join(F.broadcast(qt), "term").select(
        "term", "query_id", "qtf", _idf_expr(disk.n_docs).alias("idf")
    )
    contrib = postings.join(F.broadcast(qt_idf), "term").select(
        "query_id",
        "doc_id",
        _bm25_score_expr(k1, b, disk.avgdl).alias("__s"),
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.sum("__s").alias("score")
    )
    return grouped_topk(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("doc_id").asc()],
        k,
        rank_col="rank",
    )


def append_to_bm25_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> int:
    """Incrementally index a new document batch into a persisted BM25
    index — the lexical sibling of append_to_pq_index. Returns the
    number of genuinely-new documents indexed; reruns with the same
    batch append zero (first-writer-wins by doc id).

    Crash posture (see the layout note): the batch's postings land in
    the UNCOMMITTED delta d{version+1} — invisible to serving until
    the meta flip, overwritten wholesale by whatever batch commits
    next. A crash anywhere mid-append therefore leaves the committed
    index byte-identical to before the append, and a replay (of this
    batch or any other) starts from a clean slate: no ghosts, no
    partially-accounted documents, no read-uncommitted window.

    Cost model: everything is batch-sized except the df merge — fresh
    detection is one anti-join against the doc-count-sized registry,
    featurization is batch-linear, the delta write touches only the
    batch's rows, and df/doc_stats rewrites are vocab- and
    doc-count-sized. Existing postings deltas are never read or
    rewritten. Long histories (one delta dir per append) compact via
    compact_bm25_index (no retokenization)."""
    import os

    disk = load_bm25_index(spark, path)
    old_stats = spark.read.parquet(
        os.path.join(path, f"doc_stats/v{disk.version}")
    )
    batch = new_docs.select(
        F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).dropDuplicates(["doc_id"])
    fresh = batch.join(old_stats.select("doc_id"), "doc_id", "anti")
    # freeze: the consumers below must see the same fresh set even
    # across shuffles
    fresh = fresh.localCheckpoint(eager=True)
    n_fresh = fresh.count()
    if n_fresh == 0:
        return 0
    terms = _doc_terms(fresh, "text", "doc_id")
    tf = terms.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # complete spine: empty fresh docs carry dl=0 — they must enter the
    # registry or the next append re-detects them as fresh forever
    dl_full = (
        fresh.select("doc_id")
        .join(dl, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("dl"), F.lit(0)).alias("dl"))
        .localCheckpoint(eager=True)
    )
    nxt = disk.version + 1
    (
        tf.join(dl, "doc_id")
        .select("term", "doc_id", "tf", "dl")
        .withColumn("term_bucket", _BUCKET(disk.n_buckets))
        .repartition("term_bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("term_bucket")
        .parquet(os.path.join(path, f"postings/d{nxt}"))
    )
    df_inc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    df_new = (
        disk.df.drop("term_bucket")
        .unionByName(df_inc)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .withColumn("term_bucket", _BUCKET(disk.n_buckets))
    )
    (
        df_new.repartition("term_bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("term_bucket")
        .parquet(os.path.join(path, f"df/v{nxt}"))
    )
    old_stats.unionByName(dl_full).write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).parquet(
        os.path.join(path, f"doc_stats/v{nxt}")
    )
    added_tokens = dl_full.agg(
        F.coalesce(F.sum("dl"), F.lit(0))
    ).collect()[0][0]
    _write_bm25_meta(
        spark, path, disk.n_docs + n_fresh,
        disk.total_tokens + int(added_tokens), disk.n_buckets, nxt,
    )
    _prune_bm25_versions(spark, path, keep_from=nxt - 1)
    return n_fresh


def compact_bm25_index(spark: SparkSession, src: str, dest: str) -> int:
    """Rewrite a delta-log index as a single-delta index at ``dest`` —
    the cheap compaction for long append histories: the committed
    postings union is re-laid-out (one delta, re-bucket-partitioned)
    and the committed df/doc_stats/meta carry over verbatim; NO text is
    retokenized and no statistics are recomputed, so the compacted
    index serves bit-identically (pinned in tests). Returns the number
    of deltas that were merged. Write to a fresh ``dest`` and swap
    paths at the caller's pace — compaction never mutates ``src``."""
    import os

    disk = load_bm25_index(spark, src)
    if src.rstrip("/") == dest.rstrip("/"):
        raise ValueError("compact_bm25_index needs a distinct dest path")
    (
        disk.postings.repartition("term_bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("term_bucket")
        .parquet(os.path.join(dest, "postings/d0"))
    )
    (
        disk.df.repartition("term_bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("term_bucket")
        .parquet(os.path.join(dest, "df/v0"))
    )
    spark.read.parquet(
        os.path.join(src, f"doc_stats/v{disk.version}")
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).parquet(os.path.join(dest, "doc_stats/v0"))
    _write_bm25_meta(
        spark, dest, disk.n_docs, disk.total_tokens, disk.n_buckets, 0
    )
    return disk.version + 1


def _prune_bm25_versions(spark: SparkSession, path: str, keep_from: int) -> None:
    """Delete df/v{K}/doc_stats/v{K} for K < keep_from. keep_from is
    one BEHIND the new committed version: the grace window that keeps a
    BM25DiskIndex handle loaded just before this append serveable;
    handles older than one append must re-load (documented in the
    layout note). Postings deltas are never pruned — every committed
    delta stays live."""
    import os

    from ..sinks.layout import _fs_and_path

    for rel in ("df", "doc_stats"):
        _jvm, fs, p = _fs_and_path(spark, os.path.join(path, rel))
        if not fs.exists(p):
            continue
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if (
                name.startswith("v")
                and name[1:].isdigit()
                and int(name[1:]) < keep_from
            ):
                fs.delete(status.getPath(), True)
